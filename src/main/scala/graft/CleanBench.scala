package graft

import graft.insurance.Cleaning
import graft.sources.Ingest
import org.apache.spark.sql.functions._

/** Head-to-head with the reference's cleaning stage (scripts 02+03): same
  * staged inputs, same cleaned outputs (contracts partitioned by status,
  * vehicles/claims/telematics plain), one lazy job graph, single action
  * per table. Usage: runMain graft.CleanBench <stagedDir> <outDir>.
  */
object CleanBench {
  def main(args: Array[String]): Unit = {
    // default: the reference's own staged data (read-only input; a
    // /tmp copy is only needed when running the REFERENCE scripts,
    // which write next to their inputs)
    val staged = args.headOption.getOrElse("/root/reference/data/staged")
    val out = if (args.length > 1) args(1) else "/tmp/graft_clean"
    val spark = Tune.session()
    val t0 = System.nanoTime()
    val contracts = Cleaning.cleanContracts(
      spark.read.parquet(s"$staged/contracts.parquet")
        .withColumn("annual_premium", col("annual_premium").cast("string"))
        .withColumn("client_age", col("client_age").cast("double")))
    Ingest.writeParquetPartitioned(contracts, s"$out/contracts_clean", "contract_status")
    Ingest.writeParquet(Cleaning.cleanVehicles(
      spark.read.parquet(s"$staged/vehicles.parquet")), s"$out/vehicles_clean")
    Ingest.writeParquet(Cleaning.cleanClaims(
      spark.read.parquet(s"$staged/claims.parquet")), s"$out/claims_clean")
    Ingest.writeParquet(Cleaning.cleanTelematics(
      spark.read.parquet(s"$staged/telematics_raw.parquet")), s"$out/telematics_clean")
    Seq("contracts_clean", "vehicles_clean", "claims_clean", "telematics_clean")
      .foreach(t => println(s"[cleanbench] $t rows=" +
        spark.read.parquet(s"$out/$t").count()))
    println(f"[cleanbench] elapsed_after_session=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
