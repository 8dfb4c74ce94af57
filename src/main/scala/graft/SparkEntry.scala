package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine is organized as capability modules under `graft.ops`; each
  * exposes `specs: Seq[Q]` pairing the Spark implementation with its
  * DuckDB oracle SQL. This object is just the registry.
  */
object SparkEntry {

  private[graft] def allSpecs: Seq[Q] =
    ops.Analytics.specs ++ ops.Clean.specs ++ ops.Dimensional.specs ++
      ops.Joins.specs ++ ops.Quality.specs ++ ops.Events.specs ++
      ops.TextOps.specs ++ ops.VectorSearch.specs ++ ops.Multimodal.specs ++
      ops.Stats.specs ++ ops.StreamingBatch.specs ++ ops.RangeJoin.specs ++
      ops.Typed.specs ++ ops.DedupClusters.specs ++ ops.NativeTopK.specs ++
      ops.SqlInterface.specs ++ ops.Sampling.specs ++ ops.Nested.specs ++
      ops.ProductAnalytics.specs ++ ops.Incremental.specs ++ ops.Chunking.specs ++
      ops.SqlSurface.specs ++ ops.Retrieval.specs ++ ops.Tokenization.specs ++
      ops.Dedup.specs ++ ops.Curation.specs ++ ops.Packing.specs ++
      ops.ResidualPQ.specs ++ ops.SnapshotDiff.specs ++ ops.DedupIndex.specs ++
      ops.AnnIndex.specs ++ ops.IngestionGate.specs ++ ops.QualityModel.specs ++
      ops.LmModel.specs ++ ops.Release.specs ++ ops.RetrainFlow.specs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Analytics.pricingSummary.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allSpecs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allSpecs.collect { case Q(name, _, Some(sql)) => name -> sql }.toMap
}
