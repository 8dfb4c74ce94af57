package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, SubqueryAlias}

/** Input-parallelism repair (round 19, guide §2.5 "input skew"): a
  * CPU-heavy narrow stage (shingle md5 hashing, tokenization, Lloyd
  * distance passes) runs at its INPUT's partition count — and a small
  * corpus snapshot (one parquet file / one localCheckpoint built from
  * one) arrives as a SINGLE partition, serializing the whole stage on
  * one core while the other 31 idle. Measured round 19: every
  * sf0.1 table is one file, so every pre-shuffle map stage in the
  * engine ran one-task.
  *
  * The repair must be scale-adaptive, never unconditional: the same
  * code paths take corpus-sized frames that already arrive with
  * thousands of partitions, where a blanket `repartition(cores)` would
  * COALESCE the corpus into giant partitions (the opposite failure).
  * [[lazyAuto]] therefore repartitions only when the input's partition
  * count is provably below half the cluster's parallelism — and it
  * only CONSULTS the partition count when the plan is narrow (leaf +
  * project/filter), because `df.rdd` on a plan with exchanges forces
  * AQE to execute the upstream stages. Non-narrow inputs pass through
  * untouched; the serve-contract batch paths use [[batch]] instead.
  */
object Spread {

  /** Leaf + project/filter, with no subquery anywhere: executing a plan
    * runs its subqueries first, so `df.rdd` on a filter by a scalar
    * subquery would launch the subquery's jobs.
    */
  private def narrowLeafOnly(p: LogicalPlan): Boolean = p match {
    case _ if p.expressions.exists(SubqueryExpression.hasSubquery) => false
    case _: LeafNode => true
    case pr: Project => narrowLeafOnly(pr.child)
    case f: Filter => narrowLeafOnly(f.child)
    case a: SubqueryAlias => narrowLeafOnly(a.child)
    case _ => false
  }

  /** Repartition `df` to the cluster's parallelism iff its plan is
    * narrow (leaf + project/filter — so the partition probe is free and
    * job-less) AND it sits on fewer than half the cluster's cores.
    * No-op, and no probe, for every other shape.
    */
  def lazyAuto(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (!narrowLeafOnly(df.queryExecution.optimizedPlan)) df
    else if (df.rdd.getNumPartitions * 2 >= par) df
    else df.repartition(par)
  }

  /** Unconditional spread for SERVE-CONTRACT batch frames (intake
    * batches, probe sets, version deltas): the batch is
    * interactive-sized by contract, so one batch-bounded exchange is
    * cheap at any corpus scale, and it frees the downstream hashing /
    * tokenization from the batch's arrival partitioning (often a single
    * task). Never point this at a corpus-sized frame.
    */
  def batch(df: DataFrame): DataFrame =
    df.repartition(math.max(1, df.sparkSession.sparkContext.defaultParallelism))

  /** Materialize `df` at healthy parallelism: spread-if-narrow, then
    * localCheckpoint, then spread-if-the-blocks-landed-skinny (the
    * second probe is free — a checkpoint is a leaf). For build inputs
    * that are consumed by several passes (Lloyd training, multi-table
    * writes).
    */
  def materialized(df: DataFrame): DataFrame =
    lazyAuto(lazyAuto(df).localCheckpoint(true))
}
