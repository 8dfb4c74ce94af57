package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Semantics of the round-3 function-surface batch (q84-q88) on crafted
  * fixtures where the right answers are computable by hand: navigation
  * windows must pick first/second/last by the TOTAL (date, key) order,
  * map lookups must survive a missing key under ANSI, array set algebra
  * must use distinct-set semantics, the split must be content-independent
  * and exhaustive, and argmin/argmax must break balance ties by custkey.
  */
class Advanced5Spec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adv5_fixture").toString
    // Customer 1: three orders, two on the same date (orderkey breaks the
    // tie). Customer 2: a single order (second/last degenerate).
    val orders = Seq(
      (101L, 1L, java.sql.Date.valueOf("2024-01-02"), 50.0, "F"),
      (102L, 1L, java.sql.Date.valueOf("2024-01-01"), 10.0, "O"),
      (103L, 1L, java.sql.Date.valueOf("2024-01-01"), 20.0, "O"),
      (201L, 2L, java.sql.Date.valueOf("2024-03-05"), 99.0, "O"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus")
    orders.coalesce(1).write.parquet(s"$d/orders.parquet")
    // Balance tie inside AUTO (custkey must break it); FURN has one
    // customer; no customer ever has status 'P' orders → the q85 map has
    // a missing key to exercise try_element_at.
    val customer = Seq(
      (1L, "Customer#1", "AUTO", 500.0),
      (2L, "Customer#2", "AUTO", 500.0),
      (3L, "Customer#3", "AUTO", -10.0),
      (4L, "Customer#4", "FURN", 7.0))
      .toDF("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    customer.coalesce(1).write.parquet(s"$d/customer.parquet")
    val docs = Seq(
      // halves: [a b c d] vs [c d e f] → common {c,d}, union {a..f}
      (0L, "a b c d c d e f", "en", "s0", 15L),
      // second half repeats one token: distinct semantics must dedupe it
      (1L, "x y z z", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("q84: navigation picks first/second/last by total (date, orderkey) order") {
    val c1 = ops.SqlSurface.windowNavigation.run(spark, dir)
      .filter(col("o_custkey") === 1L).collect().head
    // Customer 1 order history sorted: (01-01,102,10), (01-01,103,20), (01-02,101,50)
    assert((c1.getLong(1), c1.getDouble(2), c1.getDouble(3), c1.getDouble(4))
      == ((3L, 10.0, 20.0, 50.0)))
    // Customer 2: one order — second_price is null → skipped via getDouble?
    val c2 = ops.SqlSurface.windowNavigation.run(spark, dir)
      .filter(col("o_custkey") === 2L).collect().head
    assert(c2.getLong(1) == 1L && c2.getDouble(2) == 99.0 && c2.isNullAt(3)
      && c2.getDouble(4) == 99.0)
  }

  test("q85: map lookup returns 0 (not an ANSI error) for absent status keys") {
    val rows = ops.SqlSurface.mapFunctions.run(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // AUTO: orders 102,103,201 open + 101 finished; no pending anywhere.
    assert(rows("AUTO") == ((2, 3L, 1L, 0L)))
    // FURN has a customer but no orders → inner join drops the segment.
    assert(!rows.contains("FURN"))
  }

  test("q86: set algebra uses distinct semantics and exact half-split") {
    val rows = ops.SqlSurface.arraySetOps.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getDouble(6)))).toMap
    assert(rows(0L) == ((4, 4, 2, 6, 2, 0.3333)))
    // doc 1: halves [x y] vs [z z] → distinct b = {z}: union 3, common 0
    assert(rows(1L) == ((2, 1, 0, 3, 2, 0.0)))
  }

  test("q87: split is exhaustive, deterministic across reruns, and ~90/5/5") {
    val out = ops.Curation.datasetSplit.run(spark, sf0001)
    val counts = out.groupBy(col("split")).agg(sum(col("n_docs")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val docs = Tables.documents(spark, sf0001).count()
    assert(total == docs, s"split lost docs: $counts vs $docs")
    assert(counts("train") > counts.getOrElse("val", 0L))
    assert(counts("train") > counts.getOrElse("test", 0L))
    // Determinism: a rerun (fresh plan) lands every doc identically.
    val again = ops.Curation.datasetSplit.run(spark, sf0001).collect().toSeq
    assert(again == out.collect().toSeq)
  }

  test("q88: balance ties break by custkey; negatives order correctly") {
    val rows = ops.SqlSurface.argMinMax.run(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2), r.getString(3),
        r.getDouble(4)))).toMap
    // AUTO: 500.0 tie between custkey 1 and 2 → max_by takes custkey 2;
    // min is the negative balance.
    assert(rows("AUTO") == (("Customer#2", 500.0, "Customer#3", -10.0)))
    assert(rows("FURN") == (("Customer#4", 7.0, "Customer#4", 7.0)))
  }
}
