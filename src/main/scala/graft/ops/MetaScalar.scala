package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooterBridge, ParquetFileFormat}
import org.apache.spark.sql.types.StructType

/** Driver-side reads of parquet FOOTERS in place of Spark jobs: opening
  * a table the engine owns ([[open]]: its schema from one footer), the
  * tiny one-row metadata tables the persisted-index family keeps next
  * to its data (`meta/`, `epoch/`, QualityModel's `model/`), the
  * tombstone-ledger size, and the row count of a bare index-table scan
  * — round 18, guide §1.2 "per-task work only after the algorithm is
  * right" applied to the serve paths' FIXED overhead: each
  * `spark.read.parquet(...)` without a schema runs Spark's 1-task
  * schema-inference job, and each `.collect()` of a one-row marker is
  * another full job (~0.1–0.3 s of scheduling for ~8 bytes). These
  * values are recoverable from FOOTERS — the schema from any data
  * file of a single-schema table, a one-row `coalesce(1)` table's value
  * from its single file's statistics (min == max == the value for a
  * one-row column chunk) — a driver-side metadata read, no job, ~ms.
  *
  * Strictly an optimization: ANY deviation from the expected shape
  * (no data file, an unreadable footer, parquet summary files, schema
  * merging on, several data files or row groups where one is expected,
  * missing/invalid statistics, nulls, a partitioned directory, a plan
  * that is more than a scan) returns None and the caller falls back to
  * the Spark read. No cache: every call reads the footer as it is now.
  * MetaScalarSpec pins footer-read == Spark-read on every shape the
  * repo writes.
  */
object MetaScalar {

  /** The table at `path` exactly as `s.read.parquet(path)` opens it —
    * same columns, order, types and nullability, partition columns
    * still discovered by Spark — without Spark's schema-inference job:
    * the schema comes from the first data file's footer, read on the
    * driver ([[footerSchema]]), and is handed to the reader. Spark's
    * non-merging inference reads that same one footer, so the schema is
    * the one it would derive; open only SINGLE-SCHEMA tables (every
    * table the engine writes: one writer shape per table, appends
    * included) — a table whose schema merging is its contract
    * (`Ingest`'s `mergeSchema` read) keeps `spark.read`. Falls back to
    * `s.read.parquet(path)` on any deviation.
    */
  def open(s: SparkSession, path: String): DataFrame =
    footerSchema(s, path).fold(s.read.parquet(path))(s.read.schema(_).parquet(path))

  /** The schema Spark's inference would derive for the parquet table
    * at `path`, from one footer read on the driver, with Spark's own
    * conversion under the session's parquet confs ([[GraftFooterBridge]]).
    * None when schema merging is on, a summary file (`_metadata`,
    * `_common_metadata`) exists, a directory level mixes files and
    * subdirectories, no data file exists, or the footer is unreadable.
    */
  private[graft] def footerSchema(s: SparkSession, path: String): Option[StructType] =
    try {
      if (s.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
      else {
        val conf = s.sparkContext.hadoopConfiguration
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        firstDataFile(fs, fs.getFileStatus(p)).map { f =>
          val rdr = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
          try GraftFooterBridge.schema(s, new Footer(f.getPath, rdr.getFooter))
          finally rdr.close()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Depth-first down to the first file Spark's listing would treat as
    * data (see [[skipped]]) — the one its non-merging inference reads;
    * None on a summary file or a level holding both files and
    * directories.
    */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else {
      val entries = fs.listStatus(st.getPath)
      // name order with a directory's trailing `/`: the order of Spark's
      // full-path sort of the leaf files, so this is the file it reads
      val (dirs, files) = entries.filterNot(skipped)
        .sortBy(e => e.getPath.getName + (if (e.isDirectory) "/" else ""))
        .partition(_.isDirectory)
      if (entries.exists(e => Summaries(e.getPath.getName)) ||
          (dirs.nonEmpty && files.nonEmpty)) None
      else files.headOption.orElse(
        dirs.iterator.map(firstDataFile(fs, _)).collectFirst { case Some(f) => f })
    }

  private val Summaries = Set("_metadata", "_common_metadata")

  /** Spark's listing filter (`InMemoryFileIndex`): `_`-prefixed names
    * unless they hold `=` (a partition directory), `.`-prefixed names,
    * and in-flight `._COPYING_` files are not part of the table.
    */
  private def skipped(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
  }

  /** The scalar longs in `dir`'s single-file one-row parquet columns
    * `columns`, in that order, from ONE footer open — or None when the
    * layout is not the expected one-file / one-row-group / one-row /
    * exact-stats shape for every one of them.
    */
  def scalarLongs(s: SparkSession, dir: String, columns: String*): Option[Seq[Long]] = {
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val files = dataFiles(fs.listStatus(p))
      if (files.length != 1) return None
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(files(0).getPath, conf))
      try {
        val blocks = rdr.getFooter.getBlocks
        if (blocks.size() != 1 || blocks.get(0).getRowCount != 1L) return None
        val chunks = blocks.get(0).getColumns.asScala
        val vals = columns.map { c =>
          chunks.find(_.getPath.toDotString == c).map(_.getStatistics).flatMap { st =>
            if (st == null || !st.hasNonNullValue || st.getNumNulls != 0) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (a: java.lang.Long, b: java.lang.Long) if a == b => Some(a.longValue)
              case (a: java.lang.Integer, b: java.lang.Integer) if a == b =>
                Some(a.longValue)
              case _ => None
            }
          }
        }
        if (vals.forall(_.isDefined)) Some(vals.flatten) else None
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
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val entries = fs.listStatus(p)
      if (entries.exists(e => e.isDirectory && !skipped(e))) return None
      var total = 0L
      dataFiles(entries).foreach { f =>
        val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try rdr.getFooter.getBlocks.asScala.foreach(total += _.getRowCount)
        finally rdr.close()
      }
      Some(total)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Row count of `df`: the footer count ([[rowCount]]) when its analyzed
    * plan is a bare parquet scan of one flat directory — the sizing probe
    * behind [[AnnIndex.autoNprobe]] and the exact-cover gate — and a
    * `count()` job for any other plan (a filter, a join such as a folded
    * tombstone ledger, a partitioned or multi-path scan).
    */
  def rows(df: DataFrame): Long = scanRowCount(df).getOrElse(df.count())

  private def scanRowCount(df: DataFrame): Option[Long] = df.queryExecution.analyzed match {
    case r: LogicalRelation => r.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
          h.partitionSchema.isEmpty && h.location.rootPaths.size == 1 =>
        rowCount(df.sparkSession, h.location.rootPaths.head.toString)
      case _ => None
    }
    case _ => None
  }

  private def dataFiles(entries: Array[FileStatus]) =
    entries.filter(f => f.isFile && !skipped(f) && f.getPath.getName.endsWith(".parquet"))

  private implicit class JavaListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = Seq.newBuilder[A]
      val it = l.iterator()
      while (it.hasNext) b += it.next()
      b.result()
    }
  }
}
