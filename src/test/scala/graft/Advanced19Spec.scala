package graft


/** Source-cap and epoch-recipe laws: both replayed driver-side, plus
  * the admission-monotonicity and recipe-bound properties.
  */
class Advanced19Spec extends SparkSuite {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q185 caps match a driver-side replay; admission is hash-monotone") {
    val docs = Tables.documents(spark, sf0001)
      .select($"source", $"doc_id", $"text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val ranked = ds.map { case (_, id, n) => (md5hex(s"cap:$id"), id, n) }
        .sortBy { case (h, id, _) => (h, id) }
      val kept = ranked.take(20)
      (src, ds.length.toLong, kept.length.toLong, (ds.length - kept.length).toLong,
        kept.map(_._3).sum, kept.last._1)
    }.toSet
    val got = ops.Advanced19.sourceCaps.run(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet
    assert(got == want,
      s"caps diverge:\n  extra=${(got -- want).take(3)}\n  missing=${(want -- got).take(3)}")
    // the monotone-admission law: every kept hash <= cut_hash, every
    // dropped hash > cut_hash — so a future doc displaces nothing unless
    // its hash beats the cut
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val cut = want.find(_._1 == src).get._6
      val hs = ds.map { case (_, id, _) => md5hex(s"cap:$id") }.sorted
      assert(hs.take(20).forall(_ <= cut) && hs.drop(20).forall(_ > cut), src)
    }
  }

  test("q186 recipe matches a driver-side replay; repeats bounded and extremal") {
    val docs = Tables.documents(spark, sf0001)
      .select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toSeq))
    val agg = docs.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.flatMap(_._2)
      val dPpm = (2L * toks.distinct.length * 1000000L + toks.length) / (2L * toks.length)
      (src, toks.length.toLong, dPpm)
    }.toSeq
    val maxPpm = agg.map(_._3).max
    val rec = agg.map { case (src, n, d) =>
      val rep = 1 + (d * 3) / maxPpm
      (src, n, d, rep.toInt, n * rep)
    }
    val tot = rec.map(_._5).sum
    val want = rec.map { case (src, n, d, rep, eff) =>
      (src, n, d, rep, eff, (2L * eff * 1000000L + tot) / (2L * tot))
    }.toSet
    val got = ops.Advanced19.epochRecipe.run(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want,
      s"recipe diverges:\n  extra=${(got -- want).take(3)}\n  missing=${(want -- got).take(3)}")
    val reps = got.map(_._4)
    assert(reps.forall(r => r >= 1 && r <= 4), "repeats bounded to [1,4]")
    assert(reps.contains(4), "the most diverse source always trains MaxEpochs")
    // shares are a near-partition of unity (ppm rounding drift < |sources|)
    val shareSum = got.toSeq.map(_._6).sum
    assert(math.abs(shareSum - 1000000L) < got.size,
      s"shares must sum to ~1e6 ppm, got $shareSum")
  }
}
