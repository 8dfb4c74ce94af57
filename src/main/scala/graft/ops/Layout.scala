package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Shared write-layout helpers for the persisted-index family. */
object Layout {

  /** Write `df` to `path` partitioned by its `bucket` column, one file
    * per bucket per write, after a repartition by that column with a
    * PINNED partition count (round 19, guide §2.5/§6).
    *
    * Round 18 added `repartition(col(bucket))` so each bucket is exactly
    * one file per batch — but an UN-numbered repartition is an
    * AQE-coalescible shuffle, and at batch sizes AQE folds all buckets
    * into ONE post-shuffle task, which then writes every bucket's file
    * SERIALLY (measured: the two writeBatch jobs were 1-task stages of
    * ~1.1 s each inside q165's steady path — the dominant single cost).
    * Pinning the partition count makes the shuffle user-specified
    * (REPARTITION_BY_NUM — AQE leaves it alone), so file writes
    * parallelize across cores while the one-file-per-bucket-per-batch
    * invariant is untouched: every bucket value still hashes wholly
    * into one task. The pin is scale-adaptive, never a local constant:
    * `defaultParallelism` is the cluster's write-slot count — at bench
    * scale 32 tasks each write ~2 of 64 bucket files; on a 2000-core
    * cluster a 4096-bucket corpus build spreads ~2 buckets per slot.
    */
  def writeBucketed(df: DataFrame, bucket: String, mode: String, path: String): Unit =
    df.repartition(math.max(1, df.sparkSession.sparkContext.defaultParallelism), col(bucket))
      .write.partitionBy(bucket).mode(mode).parquet(path)
}
