package graft

import graft.functions.BloomFilters
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Semantics of the round-3 batch q89-q91: melt cell placement, the
  * bloom prefilter's no-false-negative guarantee and its equivalence to
  * the plain anti-join, and mixture rates honoring their configuration.
  */
class Advanced6Spec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adv6_fixture").toString
    val orders = Seq(
      (1L, 1L, "O", 10.0, java.sql.Date.valueOf("2024-01-01"), "1-URGENT"),
      (2L, 1L, "F", 30.0, java.sql.Date.valueOf("2024-01-02"), "2-HIGH"),
      (3L, 2L, "O", 5.0, java.sql.Date.valueOf("2024-01-03"), "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    orders.coalesce(1).write.parquet(s"$d/orders.parquet")
    Seq((1L, "C1", "AUTO", 0.0), (2L, "C2", "FURN", 0.0))
      .toDF("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .coalesce(1).write.parquet(s"$d/customer.parquet")
    // corpus doc 0 and batch doc 400 share the 4-token prefix (dup);
    // batch doc 401 is genuinely new.
    val docs = Seq(
      (0L, "alpha beta gamma delta tail one", "en", "src0", 31L),
      (1L, "uno dos tres cuatro cinco", "es", "src1", 25L),
      (400L, "alpha beta gamma delta other suffix", "en", "src2", 35L),
      (401L, "completely fresh content here now", "en", "src2", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("q89: melt places each stat in its (segment, stat) cell") {
    val rows = ops.SqlSurface.unpivotStats.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows(("AUTO", "min_price")) == 10.0)
    assert(rows(("AUTO", "max_price")) == 30.0)
    assert(rows(("AUTO", "sum_price")) == 40.0)
    assert(rows(("FURN", "sum_price")) == 5.0)
    assert(rows.size == 6)
  }

  test("q90: bloom prefilter drops the fingerprint dup, keeps the new doc") {
    val kept = ops.Dedup.bloomPrefilter.run(spark, dir).collect().map(_.getLong(0)).toSet
    assert(kept == Set(401L), s"got $kept")
  }

  test("q90: bloom has no false negatives and equals the plain anti-join (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), array_join(slice(split(col("text"), " "), 1, 4), " ").as("fp"))
    val corpus = docs.filter(col("doc_id") < 400).select(col("fp")).distinct()
    val batch = docs.filter(col("doc_id") >= 400)
    val bloom = BloomFilters.build(corpus, col("fp"), 1000L, 0.03)
    // every true member must be bloom-positive (no false negatives)
    val misses = batch.join(corpus, Seq("fp"), "left_semi")
      .filter(!BloomFilters.mightContain(bloom, col("fp"))).count()
    assert(misses == 0L)
    // the bloom-path result must equal the plain anti-join exactly
    val viaBloom = ops.Dedup.bloomPrefilter.run(spark, sf0001)
      .collect().map(_.getLong(0)).toSeq
    val plain = Tables.documents(spark, sf0001)
      .select(col("doc_id"), array_join(slice(split(col("text"), " "), 1, 4), " ").as("fp"))
      .filter(col("doc_id") >= 400)
      .join(corpus, Seq("fp"), "left_anti")
      .select(col("doc_id")).orderBy(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(viaBloom == plain)
  }

  test("q91: full-rate sources keep everything; reduced rates actually prune") {
    val rows = ops.Curation.sourceMixture.run(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    rows.foreach { case (src, (rate, before, after)) =>
      assert(after <= before, s"$src gained docs")
      if (rate == 1.0) assert(after == before, s"$src lost docs at rate 1.0")
    }
    val reduced = rows.collect { case (_, (r, b, a)) if r < 1.0 => (b, a) }
    assert(reduced.nonEmpty)
    // aggregate over all reduced-rate sources: some pruning must happen
    assert(reduced.map(_._2).sum < reduced.map(_._1).sum)
  }
}
