package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface — every ingestion form the reference uses
  * (SURVEY §2.1 S1-S9), as thin composable wrappers. The value here is
  * the documented, consistent option set, not abstraction for its own
  * sake — callers get back plain DataFrames/writers.
  */
object Ingest {

  /** CSV with header + schema inference (S1, reference scripts/01:46).
    * Inference costs an extra pass — at scale prefer [[csvWithSchema]].
    */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** CSV with header, explicit schema — the 100 TB path: one pass, no
    * sampling, stable types (S2-analog, reference 08:104 reads
    * string-typed; explicit schema subsumes it).
    */
  def csvWithSchema(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Drop rows where every column is null — the reference's ingest filter
    * (S9, scripts/01:56 `dropna(how='all')`).
    */
  def dropAllNullRows(df: DataFrame): DataFrame = df.na.drop("all")

  /** Permissive CSV read that CAPTURES malformed lines instead of
    * nulling them silently: rows that fail the schema land intact in
    * `_corrupt_record`, so a pipeline can split good/bad streams and
    * quarantine the bad ones (the multi-source cleaning posture of
    * reference scripts/03, but row-granular). The corrupt column must be
    * materialized alongside data columns to be populated — hence part of
    * the schema passed in, not bolted on after. Caveat: Spark refuses a
    * query whose referenced columns are ONLY `_corrupt_record` (the
    * pruned scan would have nothing to fail on) — `cache()` the frame or
    * include a data column before splitting good/bad streams.
    */
  def csvPermissive(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .csv(path)

  /** CSV read that silently drops rows failing the schema — for sources
    * where bad lines are expected noise, not signal. Counting the drop
    * rate needs a second read (or [[csvPermissive]]); Spark does not
    * report it.
    */
  def csvDropMalformed(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .schema(schema)
      .csv(path)

  /** Parquet read (S3). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Parquet overwrite sink (S5, reference 03:124). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Partitioned parquet sink (S6, reference 02:100-103): physical layout
    * keyed by a low-cardinality column so downstream predicate queries
    * prune whole directories (partition pruning at scan).
    */
  def writeParquetPartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Small-files compaction: rewrite a parquet dataset into a bounded
    * file count. The #1 operational parquet problem at scale — thousands
    * of tiny files from incremental writes destroy scan throughput
    * (per-file open cost) and driver memory (file listing).
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      numFiles: Int): Unit =
    spark.read.parquet(inPath).repartition(numFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Clustered parquet write: range-partition + sort within partitions on
    * the cluster columns, so parquet row-group min/max statistics become
    * selective — point/range predicates on those columns skip row groups
    * (the poor-man's z-order, effective for one leading dimension).
    */
  def writeClusteredParquet(df: DataFrame, path: String, clusterCols: String*): Unit =
    df.repartitionByRange(clusterCols.map(df.col): _*)
      .sortWithinPartitions(clusterCols.map(df.col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Schema-evolution parquet read: merge the schemas of all footers so
    * files written before a column existed read back with nulls in it.
    * Footer-merging is a distributed job over file metadata — pay it only
    * on datasets that actually evolved (plain reads use the first footer).
    */
  def parquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC read/write — columnar alternative to parquet, same pushdown and
    * pruning behavior (beyond the reference's formats; completes the
    * columnar source surface).
    */
  def orc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** JSON-lines read/write (schema explicit on read — inference costs a
    * full pass, same rule as CSV).
    */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** XML read/write — native in Spark 4 core (no external package):
    * `rowTag` names the repeated element that becomes a row. Completes
    * the self-describing-format surface next to JSON lines.
    */
  def xml(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read.option("rowTag", rowTag).schema(schema).xml(path)

  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.option("rowTag", rowTag).mode(SaveMode.Overwrite).xml(path)

  /** JDBC full-table read (S4, reference 05:64-68). Single-partition by
    * default — correct for small dimensions.
    */
  def jdbcTable(spark: SparkSession, url: String, table: String,
      props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** JDBC partitioned read — the at-scale variant the reference's config
    * explicitly forgoes for dims (config.py:40-44): stride the table on a
    * numeric column across `numPartitions` parallel connections.
    */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, props)

  /** Result of a fault-isolated multi-source load: the sources that built,
    * the per-source failure messages, and the reference's success tally.
    */
  case class SourceLoad(ok: Map[String, DataFrame], failed: Map[String, String]) {
    def apply(name: String): Option[DataFrame] = ok.get(name)
    /** "3/4 sources loaded" — the tally the reference logs (scripts/03:306-316). */
    def tally: String = s"${ok.size}/${ok.size + failed.size} sources loaded"
  }

  /** Per-source failure isolation (reference
    * scripts/03_clean_multisource_data.py:44-51,306-316: each source is
    * cleaned inside try/except, a failure yields None, and the run
    * continues with a success tally). One corrupt or missing source must
    * not abort a multi-source ingest — at 100 TB with dozens of upstream
    * feeds, partial availability is the NORMAL case.
    *
    * Each thunk builds (and typically validates) one source. Spark
    * analysis errors — missing path, schema/column mismatch in the
    * cleaning projection — surface at build time and are caught here.
    * DataFrames are lazy, so data-level corruption inside row values
    * surfaces at the caller's action; wrap the terminal write in the
    * thunk when full load→clean→land isolation is wanted.
    */
  def loadIsolated(sources: (String, () => DataFrame)*): SourceLoad = {
    val results = sources.map { case (name, build) =>
      name -> scala.util.Try(build())
    }
    SourceLoad(
      ok = results.collect { case (n, scala.util.Success(df)) => n -> df }.toMap,
      failed = results.collect { case (n, scala.util.Failure(e)) =>
        n -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      }.toMap)
  }

  /** JDBC overwrite sink (S7, reference 04:74-78). */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 1000): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("batchsize", batchSize)
      .jdbc(url, table, props)
}
