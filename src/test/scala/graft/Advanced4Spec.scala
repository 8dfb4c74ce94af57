package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Semantics of the round-3 batch (q77-q81) on crafted corpora plus the
  * q77 exactness property: banding must find EXACTLY the pairs a brute
  * force O(n²) scan finds (pigeonhole: hamming <= 1 leaves one of the two
  * 30-bit bands untouched).
  */
class Advanced4Spec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adv4_fixture").toString
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "en", "src0", 46L),
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "src1", 46L), // exact dup of 0
      (2L, "alpha beta gamma delta epsilon zeta eta iota", "en", "src0", 45L), // near dup of 0
      (3L, "spark spark spark spark spark spark spark one", "en", "src2", 45L), // repetitive
      (4L, "uno dos tres cuatro cinco seis siete ocho nueve", "es", "src3", 47L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    // 12 vectors: ids 0-7 seed the k=8 init; two tight clusters around
    // e1 and e2 (ids 0-5 cluster A, 6-11 cluster B).
    val emb = (0 until 12).map { i =>
      val base = if (i < 6) Array(10.0f, 0.0f, 0.0f) else Array(0.0f, 10.0f, 0.0f)
      (i.toLong, Array(base(0) + 0.01f * i, base(1) + 0.01f * i, base(2)), if (i < 6) 0 else 1)
    }.toDF("vec_id", "embedding", "label")
    emb.coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("q77: banded pairs == brute-force pairs (exactness, not approximation)") {
    val banded = ops.Dedup.simhashNeardup.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // The exact dup (0,1) must appear at hamming 0; doc 4 (disjoint vocab)
    // must never pair with 0/1/2 under hamming <= 1.
    assert(banded.contains((0L, 1L, 0)), s"missing exact dup in $banded")
    assert(!banded.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc matched: $banded")
    assert(banded.map(p => (p._1, p._2)) == brute(dir))
  }

  test("q77 exactness on real data: banding finds every brute-force pair (sf0.001)") {
    val banded = ops.Dedup.simhashNeardup.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exhaustive = brute(sf0001)
    assert(exhaustive == banded, {
      val miss = exhaustive -- banded; val extra = banded -- exhaustive
      s"banding missed $miss, added $extra"
    })
  }

  /** Brute-force hamming<=1 pairs from the same 60-bit signatures. */
  private def brute(d: String): Set[(Long, Long)] = {
    val sigs = ops.Dedup.simhash60(Tables.documents(spark, d))
    val s = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").as("h"))
      .filter(col("h") <= 1)
    s.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("q78: heavy token repetition is flagged, diverse text is not") {
    val r = ops.Curation.repetitionQuality.run(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("verdict")).toMap
    assert(r(3L) == "repetitive") // 'spark' is 7/8 of the tokens
    assert(r(0L) == "ok")         // all-distinct tokens
  }

  test("q79: the dominant bigram ranks first for its language") {
    val r = ops.Tokenization.bigramStats.run(spark, dir).collect()
    val enTop = r.filter(x => x.getAs[String]("lang") == "en" && x.getAs[Int]("rnk") == 1).head
    assert(enTop.getAs[String]("bigram") == "spark spark") // 6 occurrences in doc 3
    assert(enTop.getAs[Long]("cnt") == 6L)
  }

  test("q80: k-means separates the two crafted clusters") {
    val r = ops.Retrieval.kmeansLloyd.run(spark, dir).collect()
    assert(r.map(_.getAs[Long]("n_members")).sum == 12L)
    assert(r.forall(_.getAs[Double]("inertia") >= 0.0))
    // Two well-separated clusters: no final centroid can hold members of
    // both (inter-cluster distance ~200 vs intra ~0.01), so at least one
    // centroid sits in each cluster and every cluster is tight.
    assert(r.length >= 2)
    assert(r.map(_.getAs[Double]("inertia")).sum < 1.0,
      s"clusters not tight: ${r.toSeq}")
  }

  test("q81: buckets are balanced within segment and ordered by value") {
    val r = ops.SqlSurface.quantileBuckets.run(spark, sf0001).collect()
    val bySeg = r.groupBy(_.getAs[String]("c_mktsegment"))
    bySeg.foreach { case (seg, rows) =>
      val ns = rows.map(_.getAs[Long]("n"))
      assert(ns.max - ns.min <= 1, s"$seg unbalanced: ${ns.toSeq}")
      val sorted = rows.sortBy(_.getAs[Int]("bucket"))
      sorted.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(0).getAs[Double]("hi") <= w(1).getAs[Double]("lo") + 1e-9,
            s"$seg buckets overlap")
      }
    }
  }
}
