package graft

import graft.ops.GlobalOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Equivalence of [[GlobalOrder]]'s distributed two-phase primitives
  * with Spark's own global-window forms (which are the SEMANTIC spec but
  * plan a single-partition funnel — test-only here). Sizes straddle the
  * interesting boundaries: empty, 1, fewer rows than partitions/buckets,
  * non-divisible bucket splits, and ties on the primary sort key.
  */
class GlobalOrderSpec extends SparkSuite {
  import spark.implicits._

  private def sample(n: Int) =
    (1 to n).map(i => (i.toLong, ((i * 37) % 11 + 1).toLong)).toDF("id", "v")
      .repartition(7) // physical layout unrelated to the order

  test("rank matches row_number over a global window (ties on v, broken by id)") {
    for (n <- Seq(0, 1, 3, 40, 257)) {
      val df = sample(n)
      val got = GlobalOrder.rank(df, Seq(col("v").desc, col("id")), "rnk", parts = 5)
        .select(col("id"), col("rnk")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.withColumn("rnk",
          row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
        .select(col("id"), col("rnk")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"n=$n")
    }
  }

  test("runningSum matches an inclusive global-window sum") {
    for (n <- Seq(0, 1, 40, 257)) {
      val df = sample(n)
      val got = GlobalOrder.runningSum(df, Seq(col("id")), col("v"), "cum", parts = 5)
        .select(col("id"), col("cum")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.withColumn("cum",
          sum(col("v")).over(Window.orderBy(col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("id"), col("cum")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"n=$n")
    }
  }

  test("reservoir regime: 400k rows / 3 fat input partitions — ranks are a permutation, " +
      "running sum exact, totals returned without an extra pass") {
    // Large enough that RangePartitioner samples (reservoir) instead of
    // reading partitions whole — the regime where a lazy ranged lineage
    // re-sampled DIFFERENT boundaries per job before the round-13
    // materialization fix (ADVICE r12: ~1.91M distinct ranks out of 2M).
    val n = 400000
    val df = spark.range(1, n + 1)
      .select((col("id") * 2654435761L % 1000003L).as("v"), col("id"))
      .repartition(3)
    val rt = GlobalOrder.rankAndRunningSumT(df, Seq(col("v"), col("id")),
      col("v"), "rnk", "cum", parts = 8)
    val rows = rt.df.select(col("v"), col("id"), col("rnk"), col("cum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == n)
    assert(rt.totalCount == n)
    // Exact local replay: sort by the total order, check rank == position
    // and cum == inclusive prefix sum, row by row.
    var acc = 0L
    rows.sortBy(t => (t._1, t._2)).zipWithIndex.foreach { case ((v, _, rnk, cum), i) =>
      acc += v
      assert(rnk == i + 1L, s"rank at position $i")
      assert(cum == acc, s"running sum at position $i")
    }
    assert(rt.totalSum == acc)
  }

  test("a Reliable.scoped caller frees every phase-1 checkpoint of repeated calls") {
    // serve-session storage hygiene (round-15): each two-phase call
    // checkpoints its ranged layout; a caller's scope releases it, and
    // without one a long-lived session accumulates one retained block
    // set per call
    val df = (1 to 5000).map(i => (i.toLong, (i * 2654435761L) % 997))
      .toDF("id", "v").repartition(4).localCheckpoint(true)
    // Track the results' OWN checkpoint RDD ids (the LogicalRDD leaves of
    // each result, minus the input's) — a global getPersistentRDDs COUNT
    // races with sibling suites, whose own Reliable.release calls (round
    // 16) legitimately unpersist their blocks mid-test.
    def leafIds(d: org.apache.spark.sql.DataFrame): Set[Int] =
      d.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
    val inputIds = leafIds(df)
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet
    var own = Set.empty[Int]
    Reliable.scoped {
      (1 to 5).foreach { _ =>
        val rt = GlobalOrder.rankAndRunningSumT(df, Seq($"v", $"id"), $"v",
          "rnk", "cum")
        assert(rt.df.count() == 5000L) // consumer materializes, THEN releases
        own ++= leafIds(rt.df) -- inputIds
      }
      assert(own.size >= 5, s"expected >=5 distinct phase-1 checkpoints, got $own")
      assert(own.subsetOf(persistedIds), s"checkpoints not retained: $own vs $persistedIds")
    }
    val leaked = persistedIds.intersect(own)
    assert(leaked.isEmpty, s"the scope left retained blocks: $leaked")
  }

  test("ntileFromRank reproduces SQL NTILE exactly, including n < buckets and remainders") {
    for (n <- Seq(1, 3, 4, 5, 17, 40, 64); b <- Seq(3, 4, 16)) {
      val df = sample(n)
      val ranked = GlobalOrder.rank(df, Seq(col("id")), "rnk", parts = 5)
        .crossJoin(broadcast(df.agg(count(lit(1)).as("n_total"))))
      val got = GlobalOrder.ntileFromRank(ranked, "rnk", "n_total", b, "bin")
        .select(col("id"), col("bin")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = df.withColumn("bin", ntile(b).over(Window.orderBy(col("id"))))
        .select(col("id"), col("bin")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"n=$n b=$b")
    }
  }
}
