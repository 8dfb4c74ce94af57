package graft

import graft.insurance._
import graft.sources.Ingest
import org.apache.spark.sql.functions._

/** End-to-end insurance warehouse build — the reference's scripts 01-08 as
  * ONE lazy Spark job graph over the reference's own raw data.
  *
  * Usage: runMain graft.InsurancePipeline [rawDir] [outDir]
  * Defaults read the reference dataset (read-only) and write under /tmp.
  *
  * This is the library's "switch path" demo: same inputs as the reference
  * pipeline, same cleaned/star-schema outputs (modulo the documented
  * fact_claims natural-key fix), minus the Py4J hop, the per-stage
  * double-execution `count()`s, and the single-threaded pandas staging.
  */
object InsurancePipeline {
  /** Count rows DURING a write, not with a second scan: attach an
    * Observation to the plan and read it after the write action — the
    * zero-cost replacement for the reference's interleaved count()s.
    */
  def writeWithRowCount(df: org.apache.spark.sql.DataFrame, path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }

  def main(args: Array[String]): Unit = {
    val rawDir = args.headOption.getOrElse("/root/reference/data")
    val outDir = if (args.length > 1) args(1) else "/tmp/insurance_dw"
    val spark = Tune.session()

    // Tables THIS run wrote. The summary/JDBC stages key off this set, not
    // File.exists() probes — a reused outDir can hold stale parquet from a
    // previous run, and reporting (or JDBC-loading) leftovers as if this
    // run produced them would mask an upstream source failure.
    val written = scala.collection.mutable.LinkedHashSet[String]()
    def record(name: String): Unit = written += name

    // Staging + cleaning (reference scripts 01-03), fault-isolated per
    // source (reference 03:44-51,306-316): one corrupt/missing feed logs
    // a skip and the remaining sources still land; downstream stages run
    // for whatever their inputs survived.
    val loaded = Ingest.loadIsolated(
      "contracts" -> (() => Cleaning.cleanContracts(
        Ingest.dropAllNullRows(Ingest.csvInferred(spark, s"$rawDir/raw/contracts.csv"))
          .withColumn("annual_premium", col("annual_premium").cast("string"))
          .withColumn("client_age", col("client_age").cast("double")))),
      "vehicles" -> (() => Cleaning.cleanVehicles(
        Ingest.dropAllNullRows(Ingest.csvInferred(spark, s"$rawDir/raw/vehicles.csv")))),
      "claims" -> (() => Cleaning.cleanClaims(
        Ingest.dropAllNullRows(Ingest.csvInferred(spark, s"$rawDir/raw/claims.csv")))),
      "telematics" -> (() => Cleaning.cleanTelematics(
        Ingest.parquet(spark, s"$rawDir/staged/telematics_raw.parquet"))))
    loaded.failed.foreach { case (n, e) => println(s"[pipeline-skip] source $n failed: $e") }
    println(s"[pipeline] ${loaded.tally}")

    loaded("contracts").foreach { contracts =>
      Ingest.writeParquetPartitioned(contracts, s"$outDir/contracts_clean", "contract_status")
      record("contracts_clean")
    }
    loaded("vehicles").foreach { vehicles =>
      println(s"[pipeline-observed] vehicles_clean rows=" +
        writeWithRowCount(vehicles, s"$outDir/vehicles_clean"))
      record("vehicles_clean")
    }
    loaded("claims").foreach { claims =>
      println(s"[pipeline-observed] claims_clean rows=" +
        writeWithRowCount(claims, s"$outDir/claims_clean"))
      record("claims_clean")
    }

    // Dimensions (script 04) + facts (scripts 05 + 07) + analytics
    // (scripts 09 + 10) + validation (script 06) — gated on contracts.
    loaded("contracts").foreach { _ =>
      val contractsClean = Ingest.parquet(spark, s"$outDir/contracts_clean")
      val dimCustomer = Dimensions.dimCustomer(contractsClean)
      val dimPolicy = Dimensions.dimPolicy(contractsClean)
      val dimDate = Dimensions.dimDate(spark, "2020-01-01", "2030-12-31")
      Ingest.writeParquet(dimCustomer, s"$outDir/dim_customer"); record("dim_customer")
      Ingest.writeParquet(dimPolicy, s"$outDir/dim_policy"); record("dim_policy")
      Ingest.writeParquet(dimDate, s"$outDir/dim_date"); record("dim_date")

      val factPolicy = Facts.factPolicySnapshot(contractsClean, dimCustomer, dimPolicy, dimDate)
      Ingest.writeParquet(factPolicy, s"$outDir/fact_policy_snapshot")
      record("fact_policy_snapshot")
      loaded("claims").foreach { claims =>
        Ingest.writeParquet(Facts.factClaims(claims, dimPolicy, dimDate), s"$outDir/fact_claims")
        record("fact_claims")
      }

      val fp = Ingest.parquet(spark, s"$outDir/fact_policy_snapshot")
      Ingest.writeParquet(
        Analytics.premiumByPeriod(fp, Ingest.parquet(spark, s"$outDir/dim_date")),
        s"$outDir/analysis_premium_by_period")
      record("analysis_premium_by_period")
      Ingest.writeParquet(
        Analytics.premiumBySegment(fp, Ingest.parquet(spark, s"$outDir/dim_customer")),
        s"$outDir/analysis_premium_by_segment")
      record("analysis_premium_by_segment")
      Validation.validateFactPolicy(fp).show(truncate = false)
    }

    // Risk scoring (script 08) — gated on telematics only.
    loaded("telematics").foreach { telematics =>
      Ingest.writeParquet(Risk.riskScores(Risk.deviceSpeeds(telematics)),
        s"$outDir/fact_driver_risk")
      record("fact_driver_risk")
    }

    // Summary: one cheap count per written table. (The reference instead
    // interleaves count() actions mid-pipeline, re-executing every plan
    // upstream of each — SURVEY §4's "caching/reuse absent" defect. For
    // zero-extra-action metrics on the write pass itself, see the
    // Observation usage in `cleanWithMetrics` below.)
    Seq("contracts_clean", "vehicles_clean", "claims_clean", "dim_customer",
      "dim_policy", "dim_date", "fact_policy_snapshot", "fact_claims",
      "fact_driver_risk", "analysis_premium_by_period",
      "analysis_premium_by_segment").foreach { t =>
      if (written.contains(t))
        println(s"[pipeline] $t rows=${Ingest.parquet(spark, s"$outDir/$t").count()}")
      else println(s"[pipeline] $t skipped (source failed upstream)")
    }
    if (written.contains("fact_driver_risk"))
      Ingest.parquet(spark, s"$outDir/fact_driver_risk")
        .orderBy(col("deviceId")).show(10, false)

    // Optional JDBC warehouse load (third arg = JDBC URL), mirroring the
    // reference's PostgreSQL loads (scripts 04:74-78, 05:146-151) --
    // demonstrated against the Derby that ships with Spark.
    if (args.length > 2) {
      val url = args(2)
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      Seq("dim_customer", "dim_policy", "fact_policy_snapshot", "fact_claims")
        .filter(written.contains)
        .foreach { t =>
          Ingest.writeJdbc(Ingest.parquet(spark, s"$outDir/$t"), url, t, props)
          println(s"[pipeline-jdbc] loaded $t")
        }
    }
    spark.stop()
  }
}
