package graft

import graft.functions.KthSmallest
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}

/** Laws of the bounded-heap k-th-smallest aggregate behind the two-pass
  * hot-bucket cap: exact agreement with a sorted reference across real
  * partial/merge/serialize aggregation paths (32 input partitions force
  * partial states through the wire), null handling, and the
  * below-capacity regime (groups smaller than k return their max).
  */
class KthSmallestSpec extends SparkSuite {
  import spark.implicits._

  private def kth(df: DataFrame, k: Int): DataFrame =
    df.groupBy($"g").agg(GraftPlanBridge.column(
      KthSmallest(GraftPlanBridge.expr($"v".cast("long")), k)
        .toAggregateExpression()).as("thr"))

  test("matches the sorted reference at every k, through partials and merges") {
    val rnd = new scala.util.Random(5)
    // duplicates on purpose: the contract is the multiset order statistic
    val rows = (0 until 20000).map(i => (i % 37, rnd.nextInt(4000).toLong - 2000L))
    val df = rows.toDF("g", "v").repartition(32).localCheckpoint()
    val want = (k: Int) => rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted.apply(math.min(vs.size, k) - 1)
    }
    for (k <- Seq(1, 2, 7, 64, 541, 100000)) {
      val got = kth(df, k).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == want(k), s"k=$k diverged from the sorted reference")
    }
  }

  test("nulls are skipped; an all-null group evaluates to null") {
    val df = Seq[(Int, java.lang.Long)](
      (1, 5L), (1, null), (1, 3L), (2, null), (2, null))
      .toDF("g", "v").repartition(3)
    val got = kth(df, 2).collect().map(r => r.getInt(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(1 -> Some(5L), 2 -> None), got.toString)
  }

  test("a non-long argument is an analysis error, not an executor crash") {
    val df = Seq((1, "a")).toDF("g", "v")
    val ex = intercept[Exception] {
      df.groupBy($"g").agg(GraftPlanBridge.column(
        KthSmallest(GraftPlanBridge.expr($"v"), 2)
          .toAggregateExpression()).as("thr")).collect()
    }
    assert(ex.getMessage.contains("BIGINT"), ex.getMessage)
  }
}
