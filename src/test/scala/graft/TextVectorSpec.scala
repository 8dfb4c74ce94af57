package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Dedup/similarity semantics on crafted corpora (written as parquet into
  * a temp dir so the queries run through their real table-loading path).
  */
class TextVectorSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_text_fixture").toString
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en", "src0", 43L),
      (1L, "the quick brown fox jumps over the lazy dog", "en", "src1", 43L), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat", "en", "src0", 43L), // near dup of 0
      (3L, "completely different words about spark engines here", "en", "src2", 51L),
      (4L, "el rapido zorro marron salta sobre el perro", "es", "src3", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0), // identical to 0 -> cosine 1
      (2L, Array(0.0f, 1.0f, 0.0f), 1), // orthogonal to 0
      (3L, Array(0.9f, 0.1f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    emb.coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("exact dedup groups identical texts under one hash") {
    val r = ops.TextOps.dedupExact.run(spark, dir)
      .filter(col("n_copies") > 1).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("rep_doc_id") == 0L)
    assert(r.head.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds the exact and near duplicates, not the unrelated doc") {
    val pairs = ops.TextOps.minhashLsh.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("est_jaccard")))
    val exact = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(exact.isDefined, s"missing (0,1) in ${pairs.toSeq}")
    assert(exact.get._3 == 1.0) // identical shingle sets -> all 16 sigs match
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L), "unrelated doc matched")
  }

  test("simhash of identical docs is identical; hamming-close for near dups") {
    val sh = ops.TextOps.simhash.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(0L) == sh(1L))
    val hamming = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hamming <= 8, s"near-dup hamming distance $hamming")
  }

  test("cosine: identical -> 1, orthogonal -> 0") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    val pairs = e.as("a").crossJoin(e.as("b"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        VectorFunctions.cosine(col("a.v"), col("b.v")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(pairs((0L, 2L))) < 1e-12)
    assert(pairs((0L, 3L)) > 0.99 && pairs((0L, 3L)) < 1.0)
  }

  test("quality score: short spammy doc ranks below varied doc") {
    val q = ops.TextOps.qualityScore.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("quality_band")).toMap
    assert(q(3L) == "ok" || q(3L) == "good") // all-distinct tokens
  }

  test("q35 multi-band LSH recovers most of the exact q34 top-3 (recall)") {
    import graft.ops.VectorSearch
    // Real testdata embeddings: recall of the OR-amplified 4×2-bit banding
    // vs the brute-force oracle. A single 8-bit band scores near zero here
    // — this assertion is what the banding rewrite buys.
    def top3(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = df
      .filter(col("rank") <= 3)
      .select(col("q_id").cast("long"), col("c_id").cast("long"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = top3(VectorSearch.annBruteForce.run(spark, sf0001))
    val lsh = top3(VectorSearch.annLsh.run(spark, sf0001))
    val recalls = exact.toSeq.map { case (q, t) =>
      (t & lsh.getOrElse(q, Set.empty)).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean top-3 recall over ${recalls.size} queries: $mean%.3f")
    assert(mean >= 0.5, f"multi-band LSH recall too low: $mean%.3f")
  }

  test("q141 bucketed near-dup: exact subset of ground truth, usable recall") {
    import graft.ops.VectorSearch
    import graft.functions.{CosineSim, VectorFunctions}
    // the primary (unbounded, bucketed) form over the full sf0.001 corpus
    val got = VectorSearch.nearDupBucketed.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact all-pairs ground truth (the q42 shape, full corpus)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    val want = e.select(col("vec_id").as("da"), col("v").as("va"))
      .crossJoin(e.select(col("vec_id").as("db"), col("v").as("vb")))
      .filter(col("da") < col("db"))
      .withColumn("sim_raw", CosineSim.cosine(col("va"), col("vb")))
      .filter(col("sim_raw") >= 0.4)
      .select(col("da"), col("db"), round(col("sim_raw"), 6).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // PRECISION 1.0 by construction: every emitted pair is a true pair
    // with the exact similarity (verify runs the same cosine)
    got.foreach { case (pair, sim) =>
      assert(want.get(pair).contains(sim), s"false positive or sim drift: $pair")
    }
    // RECALL is the OR-amplified band-collision rate — measured 0.545
    // at sf0.001 with the 16 seed planes (36/66); guard non-degeneracy
    val recall = got.size.toDouble / want.size
    info(f"q141 pair recall at threshold 0.4: $recall%.3f (${got.size}/${want.size})")
    assert(recall >= 0.4, f"bucketed near-dup recall degenerate: $recall%.3f")
  }
}
