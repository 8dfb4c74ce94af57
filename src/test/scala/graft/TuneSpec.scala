package graft

import org.apache.spark.sql.internal.SQLConf

/** The hard-rule confs every session needs, pinned once on the session
  * [[Tune.session]] builds — the factory every main and this harness use.
  */
class TuneSpec extends SparkSuite {

  test("the factory session carries the hard-rule confs") {
    val c = spark.conf
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(c.get("spark.sql.adaptive.enabled") === "true")
    // ANSI left at the Spark 4 default, which is on
    assert(c.get(SQLConf.ANSI_ENABLED.key) === SQLConf.ANSI_ENABLED.defaultValueString)
    assert(c.get(SQLConf.ANSI_ENABLED.key) === "true")
    assert(c.get("spark.sql.sources.parallelPartitionDiscovery.threshold") ===
      Tune.ListParThreshold)
    assert(spark.sparkContext.master === s"local[${Tune.Cpus}]")
    assert(c.get("spark.sql.shuffle.partitions") === Tune.Cpus.toString)
  }
}
