package graft

import graft.plans.AsOf
import org.apache.spark.sql.functions._

/** Merge semantics of the native as-of join on crafted rows where every
  * answer is hand-checkable: strictly-before matches, at-same-ts
  * inclusion, tie-breaks among equal-ts right rows, null for no-prior,
  * key isolation — plus full-output parity with the union-marker q43 on
  * real events, and the plan shape (AsOfJoin exec, no sort-merge or
  * cartesian fallback).
  */
class AsOfJoinSpec extends SparkSuite {
  import spark.implicits._

  test("as-of picks latest at-or-before; ties break to last in right order") {
    val trades = Seq(
      (1L, 100L, "t1"), // before any quote → null
      (1L, 205L, "t2"), // after q@200 → q2 wins over q1
      (1L, 300L, "t3"), // ties: two quotes AT 300 → larger qid (q4) wins
      (2L, 205L, "t4")) // key isolation: only user 2's quote
      .toDF("user_id", "ts", "trade_id")
    val quotes = Seq(
      (1L, 150L, 10L, 9.5), (1L, 200L, 11L, 9.7),
      (1L, 300L, 12L, 9.9), (1L, 300L, 13L, 10.1),
      (1L, 400L, 14L, 11.0), // in the future of every trade
      (2L, 100L, 20L, 5.0))
      .toDF("q_user", "q_ts", "quote_id", "px")
    val out = AsOf.join(trades, quotes, "user_id", "q_user", "ts", "q_ts",
        rightTieBreaks = Seq("quote_id"))
      .select(col("trade_id"), col("quote_id"), col("px"))
      .collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(out("t1") == ((None, None)))
    assert(out("t2") == ((Some(11L), Some(9.7))))
    assert(out("t3") == ((Some(13L), Some(10.1)))) // equal-ts tie → max quote_id
    assert(out("t4") == ((Some(20L), Some(5.0))))
  }

  test("native as-of output is identical to the union-marker q43 (sf0.001)") {
    val native = ops.SqlSurface.nativeAsof.run(spark, sf0001).collect().toSeq
    val marker = ops.SqlSurface.asofJoin.run(spark, sf0001).collect().toSeq
    assert(native == marker,
      s"diverged: ${native.diff(marker).take(3)} vs ${marker.diff(native).take(3)}")
  }

  test("plan: AsOfJoin exec, per-side exchanges, no SMJ/cartesian fallback") {
    val p = ops.SqlSurface.nativeAsof.run(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }
}
