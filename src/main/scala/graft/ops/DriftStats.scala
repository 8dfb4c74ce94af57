package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared distribution-stats kernel behind the drift-monitor family —
  * ONE definition of "n, exact half-up mean, exact rank-selected
  * percentile" consumed by [[AnnIndex.quantizationDrift]] (q204, p95:
  * encode ERROR drifts UP), [[LmModel.scoreDrift]] (q207, p05: LM
  * scores drift DOWN) and [[QualityModel.scoreDrift]] (q208, p05) — so
  * the three monitors cannot disagree on what a percentile is.
  *
  * Exact at any scale: rank and total come from ONE
  * [[GlobalOrder.rankAndRunningSumT]] pass (a range exchange + a
  * partition-local window — no global sort, no approximation), the
  * mean is half-up integer division of the exact running total, and
  * the percentile is the value at rank ceil(pct·n/100) in the
  * (value, id) total order — the same arithmetic every gated oracle
  * replays with ROW_NUMBER + integer division.
  */
private[ops] object DriftStats {

  /** One row: (n, mean, value-at-rank-ceil(pct·n/100)) of `value` over
    * `df` (an integral metric — all three monitors score in exact
    * micro/ppm longs), total-ordered by (value, id). Column names are
    * the caller's so each monitor keeps its domain vocabulary.
    *
    * EAGER, and storage-clean by construction (round 15): the single
    * percentile row is collected here inside a [[graft.Reliable.scoped]]
    * block, which releases the two-phase rank's checkpoint on return —
    * a long-lived intake loop reading a drift monitor per batch
    * (IngestionGate.monitor) retains no executor-storage blocks per
    * read. The returned 1-row frame is a local relation.
    */
  def stats(df: DataFrame, value: Column, id: Column, pct: Int,
      nName: String, meanName: String, pctName: String): DataFrame = graft.Reliable.scoped {
    val rt = GlobalOrder.rankAndRunningSumT(df, Seq(value, id), value,
      "rnk", "cum")
    val n = rt.totalCount
    require(n > 0, "distribution stats need at least one row")
    // floorDiv, not Scala's truncating /: every gated oracle computes
    // this mean with DuckDB's flooring // — identical while 2·Σ+n ≥ 0
    // (all three current monitors: ppm scores, err_micro), but this is
    // the generic kernel a future SIGNED-metric monitor would reach
    // for, and truncation would silently diverge there.
    val mean = Math.floorDiv(2 * rt.totalSum + n, 2 * n)
    val pctVal = rt.df.filter(col("rnk") === lit((pct * n + 99) / 100))
      .select(value.cast("long")).collect()(0).getLong(0)
    val s = df.sparkSession
    import s.implicits._
    Seq((n, mean, pctVal)).toDF(nName, meanName, pctName)
  }
}
