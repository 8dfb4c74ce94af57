package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Driver-side reads of parquet FOOTERS in place of Spark jobs: the
  * tiny one-row metadata tables the persisted-index family keeps next
  * to its data (`meta/`, `epoch/`), the tombstone-ledger size, and the
  * row count of a bare index-table scan — round 18, guide §1.2 "per-task work
  * only after the algorithm is right" applied to the serve paths'
  * FIXED overhead: each `spark.read.parquet(...).collect()` of a
  * one-row marker is a full Spark job (~0.1–0.3 s of scheduling for
  * ~8 bytes), and an index upgrade or gate decision reads several
  * markers per call. These tables are written `coalesce(1)` by this
  * repo, so the value is recoverable from the single file's FOOTER
  * statistics (min == max == the value for a one-row column chunk) —
  * a driver-side metadata read, no job, ~ms.
  *
  * Strictly an optimization: ANY deviation from the expected shape
  * (several data files, several row groups, missing/invalid
  * statistics, nulls, a partitioned directory, a plan that is more
  * than a scan) returns None and the caller falls back to the Spark
  * read. MetaScalarSpec pins footer-read == Spark-read on every shape
  * the repo writes.
  */
object MetaScalar {

  /** The scalar long in `dir`'s single-file one-row parquet column
    * `column`, or None when the layout is not the expected one-file /
    * one-row-group / one-row / exact-stats shape.
    */
  def scalarLong(s: SparkSession, dir: String, column: String): Option[Long] = {
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val files = dataFiles(fs.listStatus(p))
      if (files.length != 1) return None
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(files(0).getPath, conf))
      try {
        val blocks = rdr.getFooter.getBlocks
        if (blocks.size() != 1 || blocks.get(0).getRowCount != 1L) return None
        val chunk = blocks.get(0).getColumns.asScala
          .find(_.getPath.toDotString == column).orNull
        if (chunk == null) return None
        val st = chunk.getStatistics
        if (st == null || !st.hasNonNullValue || st.getNumNulls != 0) return None
        (st.genericGetMin, st.genericGetMax) match {
          case (a: java.lang.Long, b: java.lang.Long) if a == b => Some(a)
          case (a: java.lang.Integer, b: java.lang.Integer) if a == b =>
            Some(a.longValue)
          case _ => None
        }
      } finally rdr.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Total row count of a FLAT parquet directory from its file footers
    * — a driver-side metadata read replacing a `read.parquet().count()`
    * Spark job (~100 ms of scheduling per call on the delete paths'
    * auto-compact checks, round 19). None when the directory is absent,
    * contains subdirectories (a partitioned layout), or any footer is
    * unreadable; callers fall back to the Spark count.
    */
  def rowCount(s: SparkSession, dir: String): Option[Long] = {
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val entries = fs.listStatus(p)
      if (entries.exists(e => e.isDirectory && !hidden(e))) return None
      var total = 0L
      dataFiles(entries).foreach { f =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try rdr.getFooter.getBlocks.asScala.foreach(total += _.getRowCount)
        finally rdr.close()
      }
      Some(total)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[rowCount]] of `df` when its analyzed plan is a bare parquet scan
    * of one flat directory — the sizing probe behind
    * [[AnnIndex.autoNprobe]] and the exact-cover gate — and None for any
    * other plan (a filter, a join such as a folded tombstone ledger, a
    * partitioned or multi-path scan), where the caller counts instead.
    */
  def scanRowCount(df: DataFrame): Option[Long] = df.queryExecution.analyzed match {
    case r: LogicalRelation => r.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
          h.partitionSchema.isEmpty && h.location.rootPaths.size == 1 =>
        rowCount(df.sparkSession, h.location.rootPaths.head.toString)
      case _ => None
    }
    case _ => None
  }

  /** Spark's hidden-file rule: a `.`- or `_`-prefixed name is not data
    * (`.crc` siblings, `_SUCCESS`, a committer's in-flight files).
    */
  private def hidden(f: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = f.getPath.getName
    n.startsWith(".") || n.startsWith("_")
  }

  private def dataFiles(entries: Array[org.apache.hadoop.fs.FileStatus]) =
    entries.filter(f => f.isFile && !hidden(f) && f.getPath.getName.endsWith(".parquet"))

  private implicit class JavaListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = Seq.newBuilder[A]
      val it = l.iterator()
      while (it.hasNext) b += it.next()
      b.result()
    }
  }
}
