package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tune.session()
    // rank-filter window idiom -> native bounded-heap top-k, the same
    // rewrite a GraftExtensions-built session gets at build time
    plans.TopKRewriteInstall.ensureInstalled(spark)
    dump(spark, sfDir, outDir)
    spark.stop()
  }

  /** The dump itself, session-lifecycle-free so ContractSpec can run it
    * on the shared test session.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (unset for driver runs → all queries).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-query start markers (dev-only): lets a log grep attribute
    // engine-level WARN/ERROR lines (e.g. a codegen fallback) to the
    // query that was executing — the registry runs 200+ queries in one
    // JVM, so unattributed timestamps are useless.
    val trace = sys.env.contains("SPARK_GRAFT_VERIFY_TRACE")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      if (trace) System.err.println(s"[verify] start $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
