package graft

import org.apache.spark.sql.SparkSession

/** Engine-level session tuning shared by every graft main (round 19).
  * Scale-dependent values are env-parameterised with local defaults —
  * never constants that only make sense on `local[32]`.
  */
object Tune {

  /** `spark.sql.sources.parallelPartitionDiscovery.threshold`: above this
    * many paths Spark lists a directory tree with a DISTRIBUTED JOB
    * instead of on the driver. The persisted-index layouts here are
    * 64–4096 bucket directories (the [[ops.DedupIndex.bucketsFor]] /
    * [[ops.TextIndex.bucketsFor]] clamps), so the default threshold of
    * 32 made EVERY `read.parquet` of an index table pay a full job
    * (~140–390 ms of scheduling for a millisecond of local listing);
    * q165's serve path alone carried 8 such jobs (~1.1–2 s, measured
    * round 19). 4200 covers the 4096-bucket clamp with slack: a driver
    * listing of ≤4200 directories is microseconds-per-path on
    * local/HDFS-class filesystems. Deployments on high-latency object
    * stores with wider tables should lower it via
    * `SPARK_GRAFT_LIST_PAR_THRESHOLD` — that is the regime the
    * distributed listing exists for.
    */
  val ListParThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_LIST_PAR_THRESHOLD", "4200")

  /** Local cores a session runs on (`SPARK_GRAFT_CPUS`, default 4). */
  val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Apply the shared engine confs to a session builder. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      ListParThreshold)

  /** The one session factory of every graft main and the test harness:
    * `local[Cpus]` with one shuffle partition per core, plus the hard
    * rules every session needs — UTC session time zone, `nanosAsLong`
    * (a no-op on MICROS-typed `events.ts`, required if it regenerates
    * as NANOS), AQE on, ANSI at the Spark 4 default — and [[apply]]'s
    * engine confs. `conf` entries are applied last, so a caller can add
    * or override any of them.
    */
  def session(conf: (String, String)*): SparkSession = {
    val base = apply(SparkSession.builder())
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val s = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
