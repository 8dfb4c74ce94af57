package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted-index family's shared layout module: the `meta/`
  * bucket count, the `epoch/` marker and the `tombstones/` ledger, for
  * [[AnnIndex]], [[TextIndex]], [[DedupIndex]] and (`meta/` only)
  * [[LmModel]]. Each index's `delete` appends ids to a `tombstones/`
  * parquet ledger that `load` folds (broadcast) onto every serve
  * surface — O(batch) deletes, with the ledger bounded by the
  * [[AutoCompactRows]] trip wire.
  *
  * EPOCH-AWARE tombstones (Text/Dedup): `write`/`compact` stamp every
  * data row with the batch's epoch (`ep`, a monotone long handed out by
  * the `epoch/` one-row marker), and tombstones record the epoch they
  * were laid at (`te`). A row is live iff `ep > te` of its id's newest
  * tombstone — so delete-then-reappend of an id works WITHOUT a
  * compaction: the re-appended rows carry a higher epoch than the
  * tombstone that killed the old ones. This is what makes a
  * corpus-release upgrade O(delta): the table rewrite amortizes across
  * releases via [[AutoCompactRows]] instead of landing on every one.
  * The marker is bumped BEFORE a batch's data lands, so a tombstone
  * laid at the current marker always covers every row already written;
  * the remaining at-least-once caveat is that interleaving a delete
  * between an append's crash and its replay re-lands the batch — the
  * single-writer intake contract replays a failed batch before
  * proceeding. [[AnnIndex]] keeps an id-only ledger: a tombstoned id is
  * blocked until its compact.
  *
  * ONE on-disk format: every Text/Dedup/LM layout carries `meta/`, and
  * [[readBuckets]] is the format gate — a directory without it
  * predates the current format (epoch-less tables, `te`-less ledgers,
  * flat sigs/bigrams all do) and is refused with a named error instead
  * of being served under guessed semantics. Rebuild it with `write()`.
  */
object Tombstones {

  /** Auto-compact threshold: when a delete pushes the ledger past this
    * many rows, the index compacts inline instead of returning a
    * loaded view over an ever-growing broadcast side. One million
    * 8-byte ids ≈ 8 MB — comfortably inside Spark's 10 MB default
    * broadcast threshold with headroom for row overhead, and a
    * compaction every million deletes amortizes the rewrite to noise.
    * Tests override the per-call parameter to exercise the trip wire
    * with small ledgers.
    */
  val AutoCompactRows = 1000000L

  /** Layout-sized bucket count: `n / perBucket` clamped to [64, 4096].
    * Each family passes its own bytes-per-bucket constant; the count is
    * decided once at `write`, persisted by [[writeMeta]], and reused by
    * every append/compact/serve (mixing counts within one layout would
    * break the serve-time bucket equi-pruning).
    */
  def bucketsFor(n: Long, perBucket: Long): Int =
    math.max(64L, math.min(4096L, n / perBucket)).toInt

  /** Persist the layout's bucket count as the one-row `meta/` table. */
  def writeMeta(s: SparkSession, dir: String, buckets: Int): Unit = {
    import s.implicits._
    Seq(buckets).toDF("buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The layout's persisted bucket count — and the family's format
    * gate: a layout without `meta/` predates the current index format
    * and fails here, before anything reads its tables.
    */
  def readBuckets(s: SparkSession, dir: String): Int = {
    val p = new Path(s"$dir/meta")
    if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
      throw new IllegalStateException(
        s"$dir predates the current index format (no meta/); rebuild it with write()")
    MetaScalar.scalarLongs(s, p.toString, "buckets").map(_.head.toInt)
      .getOrElse(s.read.parquet(p.toString).collect()(0).getInt(0))
  }

  /** Highest epoch handed out for writing at `dir` — 0 if no marker
    * exists. Falls back to the staging copy ([[writeEpoch]]'s
    * `epoch.tmp`) when the final marker is missing: a
    * crash between writeEpoch's delete and rename leaves exactly that
    * state, and the staging copy was fully written before the delete —
    * without the fallback the epoch would silently reset to 0, letting
    * later tombstones land at te=0 (never killing live rows) and
    * re-appends land at-or-below existing tombstone epochs (wrongly
    * dead). Unlike the torn-append seam, batch replay does not heal an
    * epoch reset, so the marker write itself must be crash-safe.
    */
  def readEpoch(s: SparkSession, dir: String): Long = {
    val p = new Path(s"$dir/epoch")
    val tmp = new Path(s"$dir/epoch.tmp")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // footer-stats fast path (MetaScalar, round 18): the marker is a
    // coalesce(1) one-row write, so min==max==value in the file footer
    // — a driver-side read instead of a Spark job per epoch check
    if (fs.exists(p))
      MetaScalar.scalarLongs(s, p.toString, "epoch").map(_.head)
        .getOrElse(s.read.parquet(p.toString).collect()(0).getLong(0))
    else if (fs.exists(tmp))
      MetaScalar.scalarLongs(s, tmp.toString, "epoch").map(_.head)
        .getOrElse(s.read.parquet(tmp.toString).collect()(0).getLong(0))
    else 0L
  }

  /** Persist the epoch marker (one driver-side row — never races a
    * concurrent read of itself) crash-safely: stage the new value at
    * `epoch.tmp`, then delete-and-rename into place. Every intermediate
    * crash state is recoverable — a torn staging write leaves the old
    * final marker intact, and a crash after the delete leaves the
    * COMPLETE staging copy, which [[readEpoch]] falls back to.
    */
  def writeEpoch(s: SparkSession, dir: String, e: Long): Unit = graft.Jobs.labeled(s, "tombstones: writeEpoch") {
    import s.implicits._
    val p = new Path(s"$dir/epoch")
    val tmp = new Path(s"$dir/epoch.tmp")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(e).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    fs.rename(tmp, p)
  }

  /** Hand out the next epoch for an append batch: bump the marker FIRST
    * (see object doc), then return the bumped value for the data rows.
    */
  def bumpEpoch(s: SparkSession, dir: String): Long = {
    val next = readEpoch(s, dir) + 1L
    writeEpoch(s, dir, next)
    next
  }

  /** The `tombstones/` ledger as written (ids, plus `te` on epoch
    * layouts), or None when no ledger exists.
    */
  def ledger(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/tombstones")
    if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
      Some(MetaScalar.open(s, p.toString))
    else None
  }

  /** The newest tombstone epoch per id — the broadcast side of every
    * epoch-aware liveness join. None when no ledger exists.
    */
  def tombMax(s: SparkSession, dir: String, idCol: String): Option[DataFrame] =
    ledger(s, dir).map(_.groupBy(col(idCol)).agg(max(col("te")).as("te")))

  /** Append `ids` to the ledger — one file per delete batch, stamped
    * `te = epoch` when an epoch is given — and report whether the
    * ledger has reached `autoCompactAt` rows (a footer count, not a
    * scan), i.e. whether the caller must compact now.
    * repartition(1), not coalesce(1): coalesce propagates the single
    * partition UP the narrow lineage, so computing a large delete
    * batch's ids would run one-task — repartition confines the
    * 1-partition constraint to the write itself.
    */
  def appendLedger(s: SparkSession, dir: String, ids: DataFrame,
      epoch: Option[Long], autoCompactAt: Long): Boolean = {
    val p = s"$dir/tombstones"
    epoch.fold(ids)(e => ids.withColumn("te", lit(e)))
      .repartition(1).write.mode("append").parquet(p)
    MetaScalar.rows(MetaScalar.open(s, p)) >= autoCompactAt
  }

  /** Drop the ledger — after a `compact` folded it, or before a `write`
    * that replaces the index.
    */
  def dropLedger(s: SparkSession, dir: String): Unit = {
    val p = new Path(s"$dir/tombstones")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Epoch-aware liveness: keep rows whose `ep` postdates their id's
    * newest tombstone (or that have no tombstone at all).
    */
  def liveByEpoch(df: DataFrame, tomb: Option[DataFrame],
      idCol: String): DataFrame =
    tomb.fold(df) { t =>
      df.join(broadcast(t), Seq(idCol), "left")
        .filter(col("te").isNull || col("ep") > col("te"))
        .drop("te")
    }
}
