package graft

import org.apache.spark.sql.functions._

/** Round-12 curation surfaces: greedy budget-fill laws (q188), exact
  * rank-selected percentiles vs a driver-side reference (q189), the
  * cross-source contamination matrix's consistency with the q32
  * candidate report (q190), and manifest-drift identities (q191).
  */
class Advanced20Spec extends SparkSuite {
  import spark.implicits._

  test("q188 admits a prefix of the score ranking and stops exactly at the budget") {
    val rows = ops.Curation.budgetSelection.run(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val cums = rows.map(_.getLong(3))
    // inclusive running sums are strictly increasing and within budget
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
    assert(cums.last <= 10000)
    // conservation: each cum equals previous cum + own n_toks
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(3) == a.getLong(3) + b.getLong(1))
      case _ => ()
    }
    // greedy: the FIRST non-admitted doc in rank order would overflow
    val all = Tables.documents(spark, sf0001)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        size($"toks").cast("long").as("n_toks"),
        round(size(array_distinct($"toks")) * 1.0 / size($"toks")
          * log(size($"toks") + 1), 6).as("score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy { case (id, _, s) => (-s, id) }
    val admitted = rows.map(_.getLong(0)).toSet
    val firstOut = all.find(t => !admitted.contains(t._1))
    firstOut.foreach { case (_, n, _) =>
      assert(cums.last + n > 10000, "first rejected doc must overflow the budget")
    }
    // admitted = exact rank prefix
    assert(all.takeWhile(t => admitted.contains(t._1)).length == rows.length)
  }

  test("q189 percentiles equal a driver-side rank selection per source") {
    val docs = Tables.documents(spark, sf0001)
      .select($"source", $"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).map { case (src, rs) =>
      val sorted = rs.sortBy(t => (t._3, t._2)).map(_._3)
      val n = sorted.length.toLong
      def at(p: Long) = sorted(((p * n + 99) / 100 - 1).toInt)
      (src, n, at(50), at(90), at(99))
    }.toSet
    val got = ops.Curation.lengthPercentiles.run(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == want)
    // percentiles are monotone by construction
    got.foreach { case (src, _, p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99, src)
    }
  }

  test("q190 matrix is canonical and consistent with the q32 candidate report") {
    val matrix = ops.Dedup.crossSourceDups.run(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    matrix.keys.foreach { case (a, b) => assert(a <= b, s"($a,$b) not canonical") }
    // recount from q32's pair-level report joined to sources
    val srcOf = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = ops.TextOps.minhashLsh.run(spark, sf0001).collect()
      .filter(_.getDouble(2) >= 0.5)
      .map(r => (srcOf(r.getLong(0)), srcOf(r.getLong(1))))
      .map { case (a, b) => if (a <= b) (a, b) else (b, a) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(matrix == want)
  }

  test("q192 coverage curve matches a driver replay and ends at exactly 1e6 ppm") {
    val toks = Tables.documents(spark, sf0001)
      .select(explode(split($"text", " ")).as("t")).collect().map(_.getString(0))
    val cnts = toks.groupBy(identity).map { case (t, v) => (t, v.length.toLong) }
    val tot = cnts.values.sum
    var cum = 0L
    val want = cnts.toSeq.sortBy { case (t, c) => (-c, t) }.zipWithIndex.map {
      case ((t, c), i) =>
        cum += c
        (i + 1L, t, c, cum, (2 * cum * 1000000L + tot) / (2 * tot))
    }.toSet
    val got = ops.Tokenization.vocabCoverage.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSet == want)
    assert(got.last._4 == tot && got.last._5 == 1000000L)
  }

  test("q193 degree histogram conserves pair endpoints and matches a q32 recount") {
    val rows = ops.Dedup.dupDegrees.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = ops.TextOps.minhashLsh.run(spark, sf0001).collect()
      .filter(_.getDouble(2) >= 0.5).map(r => (r.getLong(0), r.getLong(1)))
    // endpoint conservation: sum(degree × n_docs) = 2 × pairs
    assert(rows.map { case (deg, n) => deg * n }.sum == 2L * pairs.length)
    // exact histogram from the pair-level recount
    val want = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (deg, v) => (deg, v.size.toLong) }
    assert(rows.toMap == want)
  }

  test("q194 per-source fill: every source within budget, next-ranked doc overflows") {
    val byRow = ops.Curation.sourceBudgetFill.run(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byRow.nonEmpty)
    byRow.values.foreach { case (_, toks, _) => assert(toks <= 2000) }
    // driver replay of the greedy fill per source
    val docs = Tables.documents(spark, sf0001)
      .withColumn("tk", split($"text", " "))
      .select($"source", $"doc_id", size($"tk").cast("long").as("n"),
        round(size(array_distinct($"tk")) * 1.0 / size($"tk")
          * log(size($"tk") + 1), 6).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = docs.groupBy(_._1).flatMap { case (src, rs) =>
      val ordered = rs.sortBy(t => (-t._4, t._2))
      var cum = 0L
      val admitted = ordered.takeWhile { t => cum += t._3; cum <= 2000 }
      if (admitted.isEmpty) None
      else Some(src -> (admitted.length.toLong, admitted.map(_._3).sum, admitted.map(_._4).min))
    }
    assert(byRow == want.toMap)
  }

  test("q195 sweep matches the materialized q180 packing at every swept length") {
    val sweep = ops.Packing.packingSweep.run(spark, sf0001).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toMap
    val toks = Tables.documents(spark, sf0001)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_toks"))
    for (len <- Seq(64, 128, 256)) {
      val frags = ops.Packing.packSequences(toks, len)
        .select($"doc_id", $"seq_id", $"contrib", $"n_toks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val (nDocs, nSeqs, nFrags, nCross, nCrossDocs, tailFill) = sweep(len)
      assert(nDocs == frags.map(_._1).distinct.length.toLong, s"L=$len n_docs")
      assert(nSeqs == frags.map(_._2).max + 1, s"L=$len n_seqs")
      assert(nFrags == frags.length.toLong, s"L=$len n_frags")
      assert(nCross == frags.length - frags.map(_._1).distinct.length.toLong, s"L=$len crossings")
      assert(nCrossDocs ==
        frags.groupBy(_._1).count(_._2.length >= 2).toLong, s"L=$len crossing docs")
      val lastSeq = frags.map(_._2).max
      assert(tailFill == frags.filter(_._2 == lastSeq).map(_._3).sum, s"L=$len tail fill")
    }
  }

  test("q198 global percentiles equal a driver-side rank selection") {
    val lens = Tables.documents(spark, sf0001)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = lens.sortBy(t => (t._2, t._1)).map(_._2)
    val n = sorted.length.toLong
    def at(p: Long) = sorted(((p * n + 99) / 100 - 1).toInt)
    val r = ops.Curation.globalPercentiles.run(spark, sf0001).collect()
    assert(r.length == 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) ==
      (n, at(50), at(90), at(99)))
  }

  test("q199 semantic dedup: every flagged vector is dominated by its reported lower-id partner") {
    val rows = ops.Dedup.semanticDedup.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.foreach { case (vec, _, nDom, maxSim, dom) =>
      assert(dom < vec, s"dominator $dom !< $vec")
      assert(nDom >= 1 && maxSim >= 0.4, s"vec $vec")
      assert(cos(vecs(vec), vecs(dom)) >= 0.4 - 1e-9,
        s"reported dominator $dom of $vec is below the threshold")
    }
    // the flagged set is a strict subset — something always survives
    assert(rows.length < vecs.size)
  }

  test("q191 drift: self-diff is all-unchanged; the fixture diff localizes correctly") {
    val rows = ops.Release.manifestDrift.run(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 16L))
    // the v1/v2 fixture changes every 13th doc and drops every 19th —
    // document totals must reflect exactly those memberships
    val docs = Tables.documents(spark, sf0001).select($"doc_id").collect().map(_.getLong(0))
    val v1 = docs.filter(_ % 17 != 5).toSet
    val v2 = docs.filter(_ % 19 != 3).toSet
    assert(rows.map(_.getLong(1)).sum == v1.size.toLong)
    assert(rows.map(_.getLong(2)).sum == v2.size.toLong)
    // a shard whose v1/v2 doc sets are identical AND contain no revised
    // doc must report changed=false; any shard with a revised doc in v2
    // or asymmetric membership must report changed=true
    def shardOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"shard:$id".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 16
    }
    val changedWant = (0L until 16L).map { sh =>
      val a = v1.filter(shardOf(_) == sh)
      val b = v2.filter(shardOf(_) == sh)
      sh -> (a != b || b.exists(_ % 13 == 0))
    }.toMap
    rows.foreach { r =>
      assert(r.getBoolean(5) == changedWant(r.getLong(0)), s"shard ${r.getLong(0)}")
    }
  }
}
