package graft

import org.apache.spark.sql.functions._

/** Round-11 curation surfaces: repetition rules vs a driver-side
  * reference, TF-IDF identities (ubiquitous term scores 0) + reference
  * recompute, and the snake packer's exact-balance property plus its
  * measured win over hash sharding on the real corpus.
  */
class Advanced17Spec extends SparkSuite {
  import spark.implicits._

  private def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  test("q175 repetition fractions match a driver-side reference on every doc") {
    val texts = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(toks: Array[String], n: Int): Seq[String] =
      toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
    val want = texts.collect { case (id, text) =>
      val toks = text.split(" ")
      (id, toks)
    }.filter(_._2.length >= 3).map { case (id, toks) =>
      val c1 = grams(toks, 1).groupBy(identity).map(_._2.size)
      val c2 = grams(toks, 2).groupBy(identity).map(_._2.size)
      val c3 = grams(toks, 3).groupBy(identity).map(_._2.size)
      val (mx1, tot1) = (c1.max.toLong, c1.sum.toLong)
      val (mx2, tot2) = (c2.max.toLong, c2.sum.toLong)
      val (dup3, tot3) = (c3.filter(_ >= 2).sum.toLong, c3.sum.toLong)
      (id, tot1,
        round6(mx1 * 1.0 / tot1).toDouble,
        round6(mx2 * 1.0 / tot2).toDouble,
        round6(dup3 * 1.0 / tot3).toDouble,
        mx1 * 1.0 / tot1 <= 0.20 && mx2 * 1.0 / tot2 <= 0.20 &&
          dup3 * 1.0 / tot3 <= 0.30)
    }.toSet
    val got = ops.Curation.repetitionRules.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSet
    assert(got == want,
      s"repetition profile diverges:\n  extra=${got -- want}\n  missing=${want -- got}")
  }

  test("q175 hand-built docs: known fractions and the pass flag boundary") {
    val docs = Seq(
      (0L, "a a a b c"),                       // top tok 3/5, top bigram 2/4, dup tri 0/3
      (1L, "x y x y x y"),                     // top tok 3/6, top bigram 3/5, dup tri 4/4
      (2L, (1 to 30).map(i => s"t$i").mkString(" "))) // fully diverse: passes
      .toDF("doc_id", "text")
    val got = ops.Curation.repetitionProfile(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getLong(1) == 3 && got(0L).getLong(2) == 5)   // mx1/tot1
    assert(got(0L).getLong(3) == 2 && got(0L).getLong(4) == 4)   // mx2/tot2
    assert(got(0L).getLong(5) == 0 && got(0L).getLong(6) == 3)   // dup3/tot3
    assert(got(1L).getLong(5) == 4 && got(1L).getLong(6) == 4,
      "every trigram of the xy cycle is duplicated")
    assert(got(2L).getLong(2) == 30 && got(2L).getLong(3) == 1 &&
      got(2L).getLong(5) == 0, "fully diverse doc profile")
  }

  test("q176 TF-IDF matches a driver-side reference; ubiquitous terms score 0") {
    val texts = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = texts.size.toDouble
    val df = texts.values.flatMap(_.distinct).groupBy(identity).map { case (t, o) => t -> o.size }
    val want = texts.flatMap { case (id, toks) =>
      toks.groupBy(identity).map { case (t, o) => (t, o.size) }.toSeq
        .map { case (t, tf) => (t, tf, df(t), round6(tf * math.log(n / df(t))).toDouble) }
        .sortBy { case (t, _, _, s) => (-s, t) }
        .take(3).zipWithIndex
        .map { case ((t, tf, dfc, s), i) => (id, i + 1, t, tf.toLong, dfc.toLong, s) }
    }.toSet
    val got = ops.Tokenization.tfIdf.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got == want,
      s"tf-idf diverges:\n  extra=${(got -- want).take(5)}\n  missing=${(want -- got).take(5)}")
    // identity: a term present in EVERY doc has idf = ln(1) = exactly 0
    val docs = Seq((0L, "common alpha"), (1L, "common beta"), (2L, "common common gamma"))
      .toDF("doc_id", "text")
    val scores = ops.Tokenization.tfIdfKeywords(docs, 3).collect()
      .map(r => (r.getString(2), r.getDouble(5)))
    assert(scores.filter(_._1 == "common").forall(_._2 == 0.0),
      "ubiquitous term must score exactly 0")
    assert(scores.filter(_._1 != "common").forall(_._2 > 0.0))
  }

  test("q177 snake packing is exactly balanced on descending runs and deterministic") {
    // sizes 64..1 over 4 shards: each even+odd pass pair contributes the
    // same total to every shard, so all four sums are exactly equal
    val toks = (1L to 64L).map(i => (i, 65L - i)).toDF("doc_id", "n_toks")
    val sums = ops.Packing.snakeShards(toks, 4)
      .groupBy($"shard").agg(sum($"n_toks").as("s")).collect()
      .map(r => r.getLong(1)).toSet
    assert(sums == Set(520L), s"snake must balance 1..64 exactly, got $sums")
    // determinism: assignment is a pure function of (n_toks, doc_id)
    val a = ops.Packing.snakeShards(toks, 4)
      .select($"doc_id", $"shard").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = ops.Packing.snakeShards(toks.repartition(7), 4)
      .select($"doc_id", $"shard").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a == b, "shard assignment changed under repartition")
  }

  test("q177 beats hash sharding's token spread on the real corpus") {
    val rows = ops.Packing.balancedShards.run(spark, sf0001).collect()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 16))
    val docs = Tables.documents(spark, sf0001)
    assert(rows.map(_.getLong(1)).sum == docs.count(), "shards partition the corpus")
    val snakeSpread = rows.map(_.getLong(2)).max - rows.map(_.getLong(2)).min
    // q172's salted-md5 sharding optimizes reproducibility, not balance —
    // its token spread on the same corpus is the comparison point
    val hashSpread = docs
      .withColumn("shard",
        expr("CAST(conv(substr(md5(concat('shard:', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 16"))
      .groupBy($"shard")
      .agg(sum(size(split($"text", " ")).cast("long")).as("s"))
      .collect().map(_.getLong(1))
    val hs = hashSpread.max - hashSpread.min
    assert(snakeSpread < hs,
      s"snake spread $snakeSpread should beat hash spread $hs")
  }
}
