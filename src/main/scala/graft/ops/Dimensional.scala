package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Kimball-style dimension construction family — the reference's
  * scripts/04_load_dimension_tables.py re-expressed.
  *
  * Covers: generated calendar dimension via sequence+explode (04:166-179),
  * dedup-before-dim-load (04:69), surrogate-key generation via
  * row_number over an ordered window (04:118-123).
  *
  * Scale note (SURVEY §7 risk register): `row_number().over(Window.orderBy(..))`
  * funnels ALL rows through one partition — fine for a ≤100k-row dimension,
  * wrong for a 100 TB fact. The scale path for dense unique ids is
  * `monotonically_increasing_id()` (no shuffle, non-dense) or
  * `zipWithIndex` (one extra pass, dense); we keep the ordered-window form
  * here because dimensions are small by definition and the oracle needs
  * determinism.
  */
object Dimensional {

  /** Shared generated calendar covering every date range the registered
    * queries touch (orders era 1992-1998 AND events era 2020-2021):
    * computed once per session via [[graft.Shared]] and reused by q08
    * (full dimension) and q12 (date-key join) instead of re-running the
    * sequence→explode generation per query. ~11k rows, localCheckpoint'ed,
    * broadcast-sized by construction.
    */
  def calendar(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    graft.Shared.materialized(s, "dim-date-1992-2021") {
      s.range(1)
        .select(explode(sequence(
          lit(java.sql.Date.valueOf("1992-01-01")),
          lit(java.sql.Date.valueOf("2021-12-31")),
          expr("interval 1 day"))).as("d"))
        .select(
          date_format(col("d"), "yyyyMMdd").cast("int").as("date_key"),
          col("d").as("full_date"),
          year(col("d")).as("year"), month(col("d")).as("month"),
          dayofmonth(col("d")).as("day"), quarter(col("d")).as("quarter"),
          date_format(col("d"), "EEEE").as("day_name"),
          date_format(col("d"), "MMMM").as("month_name"),
          dayofweek(col("d")).isin(1, 7).as("is_weekend"))
    }

  /** The 100 TB surrogate-key paths the scale note above points at, as
    * library functions (the ordered-window q09 form stays for dimension
    * parity with the reference):
    *
    *  - [[sparseSurrogateKeys]]: `monotonically_increasing_id` — zero
    *    shuffle, ids unique but NON-dense (partition id in the high
    *    bits); the right default for fact-table keys where only
    *    uniqueness matters.
    *  - [[denseSurrogateKeys]]: RDD `zipWithIndex` — ids dense 0..n-1 at
    *    the cost of one extra job (Spark counts the leading partitions
    *    to compute per-partition offsets); for when downstream systems
    *    require gapless ids.
    *
    * Neither is deterministic across RUNS (assignment follows physical
    * partitioning), which is why no oracle query registers them —
    * uniqueness/density are asserted by DimensionalSpec instead.
    */
  def sparseSurrogateKeys(df: org.apache.spark.sql.DataFrame,
      keyCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn(keyCol, monotonically_increasing_id())

  def denseSurrogateKeys(df: org.apache.spark.sql.DataFrame,
      keyCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+
        org.apache.spark.sql.types.StructField(keyCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val withId = df.rdd.zipWithIndex.map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx)
    }
    spark.createDataFrame(withId, schema)
  }

  /** Generated calendar dimension: sequence → explode → calendar attrs. */
  val dateDimension = Q(
    "q08_date_dimension",
    """SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
      |  CAST(d AS DATE) AS full_date,
      |  CAST(year(d) AS INTEGER) AS year, CAST(month(d) AS INTEGER) AS month,
      |  CAST(dayofmonth(d) AS INTEGER) AS day, CAST(quarter(d) AS INTEGER) AS quarter,
      |  strftime(d, '%A') AS day_name, strftime(d, '%B') AS month_name,
      |  dayofweek(d) IN (0, 6) AS is_weekend
      |FROM (SELECT unnest(generate_series(DATE '2020-01-01', DATE '2021-12-31', INTERVAL 1 DAY)) AS d)
      |ORDER BY date_key""".stripMargin) { (s, _) =>
    calendar(s)
      .filter(col("year").isin(2020, 2021))
      .orderBy(col("date_key"))
  }

  /** Dedup + surrogate keys: groupBy-min dedup (deterministic version of
    * dropDuplicates, per reference 04:64-69 intent) then an ordered
    * row_number surrogate key (04:118-123).
    */
  val surrogateKeys = Q(
    "q09_surrogate_keys",
    """WITH dedup AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    MIN(c_custkey) AS rep_custkey, COUNT(*) AS n_members
      |  FROM customer GROUP BY c_nationkey, c_mktsegment)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_nationkey, c_mktsegment) AS INTEGER) AS sk,
      |  c_nationkey, c_mktsegment, rep_custkey, n_members
      |FROM dedup
      |ORDER BY sk""".stripMargin) { (s, d) =>
    val dedup = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(min(col("c_custkey")).as("rep_custkey"), count(lit(1)).as("n_members"))
    dedup
      .withColumn("sk",
        row_number().over(Window.orderBy(col("c_nationkey"), col("c_mktsegment"))))
      .select(col("sk"), col("c_nationkey"), col("c_mktsegment"),
        col("rep_custkey"), col("n_members"))
      .orderBy(col("sk"))
  }

  /** `dropDuplicates` surface itself (A6) — deterministic here because the
    * dedup key is the full row projection.
    */
  val dropDup = Q(
    "q09b_drop_duplicates",
    """SELECT DISTINCT c_nationkey, c_mktsegment
      |FROM customer
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"))
      .dropDuplicates("c_nationkey", "c_mktsegment")
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  val specs: Seq[Q] = Seq(dateDimension, surrogateKeys, dropDup)
}
