package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Test-table loaders + shared determinism helpers.
  *
  * All queries in this engine are hash-compared against a DuckDB oracle
  * (see `Verify.scala`), so every floating-point aggregate must be
  * bit-deterministic regardless of partition/summation order. The pattern
  * used throughout: cast to `decimal(18,2)` BEFORE summing (exact
  * arithmetic, order-independent), cast the exact result back to double.
  * The oracle SQL mirrors this with
  * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // If events.ts is parquet TIMESTAMP(NANOS) this conf makes the scan
      // read it as an epoch-nano long instead of failing; it is a no-op for
      // MICROS/MILLIS data. Either physical type is handled by `tsUs` below.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    // schema from the footer on the driver: no inference job per open
    graft.ops.MetaScalar.open(spark, s"$sfDir/$name.parquet")
  }

  /** Canonical epoch-MICROseconds from the events `ts` column, adaptive to
    * the parquet physical type the testdata was generated with (it has
    * changed across harness rounds): TIMESTAMP(NANOS) reads as an
    * epoch-nano LONG under `nanosAsLong` → exact integer division;
    * TIMESTAMP(MICROS) reads as TIMESTAMP / TIMESTAMP_NTZ → `unix_micros`
    * (the NTZ→TZ cast is exact under the required UTC session timezone).
    * Every event-time site derives micros through this ONE helper so a
    * testdata regeneration is absorbed here. The DuckDB oracle form
    * `epoch_ns(ts)//1000` is invariant across these physical types.
    *
    * The returned Column is BOUND to `df` (via `df("ts")`, not a bare
    * `col("ts")`), so in a self-join of two events scans it resolves
    * against the passed side instead of being ambiguous.
    */
  def tsUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType         => call_function("div", df("ts"), lit(1000L))
    case TimestampNTZType => unix_micros(df("ts").cast(TimestampType))
    case TimestampType    => unix_micros(df("ts"))
    case t => throw new IllegalArgumentException(s"unsupported events.ts type: $t")
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The embeddings as `(vec_id, v)`, `v` upcast to `array<double>` —
    * the frame every vector kernel reads.
    */
  def vectors(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
}

/** Shared Column helpers enforcing cross-engine determinism. */
object Det {
  private val Money = DecimalType(18, 2)

  /** Order-independent exact sum of a monetary double column. */
  def dsum(c: Column): Column = sum(c.cast(Money)).cast("double")

  /** Round a double expression for oracle comparison. */
  def r4(c: Column): Column = round(c, 4)

  /** Order-independent sum of an arbitrary double column: round to `scale`
    * digits first (absorbing float noise), then sum exactly as decimal.
    */
  def rsum(c: Column, scale: Int): Column =
    sum(round(c, scale).cast(DecimalType(28, scale))).cast("double")

  /** Round-half-away-from-zero integer average (den > 0):
    * `(2*num + sign(num)*den) DIV (2*den)` rounds num/den to the NEAREST
    * integer (ties away from zero) for EVERY sign of `num` — the naive
    * `(2*num + den) DIV (2*den)` is only correct for num >= 0 (for
    * negative numerators its truncation overshoots even exact quotients
    * by one). Oracle pairing: DuckDB's INTEGER `//` truncates toward
    * zero exactly like Spark's `DIV` (verified: `-7 // 2` = -3 in both
    * engines — DuckDB only floors for DOUBLE operands), so oracles whose
    * numerator is provably non-negative may keep the short
    * `(2*n + d) // (2*d)` form (identical values), while any
    * negative-capable oracle (q75's embedding sums) must spell the sign
    * term: `(2*n + CASE WHEN n < 0 THEN -d ELSE d END) // (2*d)`.
    * Negative sums occur in real data, so this single definition — not
    * per-query re-derivations — is the only sanctioned form of an
    * oracle-checked rounded average. Call sites scale `num` up by 10^k
    * first to average at k decimal digits.
    */
  def halfUpDiv(num: Column, den: Column): Column =
    call_function("div",
      lit(2) * num + when(num < 0, -den).otherwise(den), lit(2) * den)
}
