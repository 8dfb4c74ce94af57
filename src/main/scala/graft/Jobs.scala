package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Job labeling (guide §1.5): wrap an operator phase so every Spark job
  * it launches carries a readable description in the UI / listeners —
  * the round-19 profiling showed a 60-job serve path is unattributable
  * without them. Descriptions are thread-local; the previous value is
  * restored so labels nest and never leak into caller jobs.
  */
object Jobs {
  def labeled[A](s: SparkSession, label: String)(body: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally sc.setJobDescription(prev)
  }

  /** The distinct rows of a small-cardinality frame (bucket ids, list
    * ids) on the driver, without the exchange `distinct().collect()`
    * plans: duplicates are removed per partition, then again on the
    * driver, so the driver receives at most (distinct rows × partitions)
    * rows. A frame that is already driver-local (a projection of a
    * local relation) is collected without launching a job. Row order is
    * unspecified.
    */
  def distinctRows(df: DataFrame): Seq[Row] = {
    val rows = df.queryExecution.optimizedPlan match {
      case _: LocalRelation => df.collect()
      case _ => df.mapPartitions(_.toSet.iterator)(Encoders.row(df.schema)).collect()
    }
    rows.toSeq.distinct
  }
}
