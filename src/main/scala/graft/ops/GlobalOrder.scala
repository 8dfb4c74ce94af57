package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed total-order primitives — global rank, global running sum
  * and exact NTILE — WITHOUT the `Exchange SinglePartition` funnel that
  * an empty-partition-spec window plans (Spark executes
  * `Window.orderBy(...)` with no `partitionBy` as ONE task holding the
  * whole input; fine at 5k docs, fatal at 10^10).
  *
  * The two-phase form (the recipe range-partitioned sort and
  * `zipWithIndex` use internally; in-repo precedent:
  * [[Dimensional.denseSurrogateKeys]]):
  *
  *  1. `repartitionByRange` on the total order — each of `parts` tasks
  *     holds a contiguous key range — then the ranged frame is
  *     MATERIALIZED ONCE (`localCheckpoint(eager = true)`), stamping the
  *     physical partition id into the data. This materialization is
  *     correctness-critical, not a cache hint: `RangePartitioner`
  *     samples its boundaries with a reservoir whose seed derives from
  *     the RDD id, so two separate ACTIONS over the same lazy
  *     `repartitionByRange` lineage can draw DIFFERENT boundaries once
  *     input partitions exceed the sampler's reservoir (~100k+ rows per
  *     partition). Phase 2's offsets would then be applied to a
  *     different partitioning than the one they were computed from —
  *     silently duplicated/dropped ranks at exactly the scale this
  *     module exists for. Checkpointing pins ONE physical layout that
  *     every downstream job reads. (GlobalOrderSpec's 400k-row
  *     reservoir-regime case pins this; removing the checkpoint fails
  *     it.)
  *  2. A per-partition partial (count + sum) — ≤ `parts` rows — is
  *     collected to the driver and turned into exclusive prefix OFFSETS
  *     (a partition-count-bounded collect, the accepted meta-read
  *     class; never data-sized). The fold's final accumulators are the
  *     EXACT corpus totals — returned to callers via the `*T` variants
  *     so consumers (q192's coverage denominator, q198's n_docs) never
  *     pay a second corpus pass for them.
  *  3. Each partition finishes locally: a window PARTITIONED by the
  *     stamped partition id plus the broadcast offset. No operator
  *     anywhere holds more than one partition's rows. (The pid window
  *     re-exchanges the checkpointed rows by hash(pid) — corpus-sized
  *     but fully distributed; folding it into the range layout via a
  *     partition-local mapPartitions is the documented one-shuffle
  *     upgrade if a consumer ever enters the slow tier.)
  *
  * Determinism: callers must pass a TOTAL order (tie-broken — every
  * caller here ends on a unique id column). Given that, rank/running
  * sum are unique functions of the data regardless of where the sampled
  * range boundaries land, so the oracle never observes the partitioning.
  */
object GlobalOrder {

  private val Pid = "__go_pid"

  /** A two-phase result: the augmented frame plus the exact global
    * totals (free by-products of the phase-2 partials fold).
    */
  final case class WithTotals(df: DataFrame, totalCount: Long, totalSum: Long)

  /** Global 1-based row rank by `order` as LONG column `rankCol`. */
  def rank(df: DataFrame, order: Seq[Column], rankCol: String,
      parts: Int = 32): DataFrame =
    rankT(df, order, rankCol, parts).df

  /** [[rank]] plus the exact row count (no extra pass). */
  def rankT(df: DataFrame, order: Seq[Column], rankCol: String,
      parts: Int = 32): WithTotals = {
    val r = twoPhase(df, order, lit(1L), rankCol, "__go_sum_unused", parts,
      wantRank = true, wantSum = false)
    r.copy(totalSum = r.totalCount)
  }

  /** Inclusive global running sum of `value` (integral; summed as LONG)
    * in `order`, as column `outCol`.
    */
  def runningSum(df: DataFrame, order: Seq[Column], value: Column,
      outCol: String, parts: Int = 32): DataFrame =
    runningSumT(df, order, value, outCol, parts).df

  /** [[runningSum]] plus the exact totals (no extra pass). */
  def runningSumT(df: DataFrame, order: Seq[Column], value: Column,
      outCol: String, parts: Int = 32): WithTotals =
    twoPhase(df, order, value, "__go_rank_unused", outCol, parts,
      wantRank = false, wantSum = true)

  /** Both at once — global rank AND inclusive running sum of `value` in
    * the same total order — for ONE range exchange and ONE partition-
    * local Window node (Spark fuses same-spec window functions), instead
    * of two full two-phase passes.
    */
  def rankAndRunningSum(df: DataFrame, order: Seq[Column], value: Column,
      rankCol: String, sumCol: String, parts: Int = 32): DataFrame =
    rankAndRunningSumT(df, order, value, rankCol, sumCol, parts).df

  /** [[rankAndRunningSum]] plus the exact totals (no extra pass). */
  def rankAndRunningSumT(df: DataFrame, order: Seq[Column], value: Column,
      rankCol: String, sumCol: String, parts: Int = 32): WithTotals =
    twoPhase(df, order, value, rankCol, sumCol, parts,
      wantRank = true, wantSum = true)

  /** Exact NTILE from a global rank, no window at all: with `n` rows and
    * `b` buckets, SQL NTILE gives the first `n % b` buckets
    * `n div b + 1` rows and the rest `n div b`, so the bucket is a
    * closed form of (rank, n). `rankCol`/`nTotalCol` name LONG columns
    * (the caller broadcast-joins the 1-row total); all arithmetic is
    * integral `div`, exact at any scale.
    */
  def ntileFromRank(df: DataFrame, rankCol: String, nTotalCol: String,
      buckets: Int, outCol: String): DataFrame = {
    val b = buckets.toLong
    df.withColumn(outCol, expr(
      s"""CAST(CASE
         |  WHEN $rankCol <= ($nTotalCol % $b) * ($nTotalCol div $b + 1)
         |  THEN ($rankCol - 1) div ($nTotalCol div $b + 1) + 1
         |  ELSE ($nTotalCol % $b)
         |    + ($rankCol - 1 - ($nTotalCol % $b) * ($nTotalCol div $b + 1))
         |      div greatest($nTotalCol div $b, 1) + 1
         |END AS INT)""".stripMargin))
  }

  private def twoPhase(df: DataFrame, order: Seq[Column], value: Column,
      rankCol: String, sumCol: String, parts: Int,
      wantRank: Boolean, wantSum: Boolean): WithTotals = {
    // Materialize the ranged layout ONCE (see object Scaladoc, phase 1):
    // every job below — the partials collect AND the final plan — must
    // read the SAME physical partitioning, and a lazy repartitionByRange
    // re-samples its boundaries per action at reservoir scale.
    // Routed through Reliable.checkpoint (round 14): by default this is
    // the same eager executor-local materialization, but with
    // `spark.graft.checkpointDir` set the blocks are RELIABLE — a
    // preempted executor on a real cluster cannot recompute a local
    // checkpoint's lineage-free blocks, and this one sits under the
    // whole selection/packing/percentile family. The checkpoint belongs
    // to the caller's Reliable.scoped block, released when it closes
    // (GlobalOrderSpec pins no-net-growth across repeated scoped calls);
    // with no scope open it lives for the session.
    val ranged = graft.Reliable.adopt(graft.Reliable.checkpoint(
      df.repartitionByRange(parts, order: _*)
        .withColumn(Pid, spark_partition_id())))
    // Partition-count-bounded driver read (≤ `parts` rows).
    val partials = ranged.groupBy(col(Pid))
      .agg(count(lit(1L)).as("pcnt"), sum(value).cast("long").as("psum"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
      .sortBy(_._1)
    var cAcc = 0L; var sAcc = 0L
    val offsets = partials.toSeq.map { case (pid, pcnt, psum) =>
      val o = (pid, cAcc, sAcc); cAcc += pcnt; sAcc += psum; o
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF(Pid, "__go_coff", "__go_soff")
    val wRank = Window.partitionBy(col(Pid)).orderBy(order: _*)
    val wSum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var out = ranged.join(broadcast(offDf), Seq(Pid))
    if (wantRank)
      out = out.withColumn(rankCol,
        row_number().over(wRank).cast("long") + col("__go_coff"))
    if (wantSum)
      out = out.withColumn(sumCol,
        (sum(value).over(wSum) + col("__go_soff")).cast("long"))
    WithTotals(out.drop(Pid, "__go_coff", "__go_soff"), cAcc, sAcc)
  }
}
