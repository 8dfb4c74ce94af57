package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Seventh advanced batch (round 3): the remaining scalar-function
  * surface (calendar arithmetic + string shaping) and null-preserving
  * generators. Both are narrow single-scan shapes — the only shuffle in
  * either query is the presentation sort.
  */
object Advanced7 {

  /** Calendar + string shaping sweep: date_trunc / last_day / ISO
    * weekday / week-of-year / datediff / date_add over order dates, and
    * lpad / reverse / translate / repeat over customer fields — the long
    * tail of §2.8 scalar functions a reference user would reach for
    * next. One broadcast dim join; every function is a codegen'd
    * built-in. Cross-engine traps handled: Spark `weekday` is 0=Monday
    * while DuckDB `isodow` is 1=Monday (+1 aligns), and Spark
    * `date_trunc` returns timestamp (cast to date on both sides).
    */
  val calendarStrings = Q(
    "q92_calendar_strings",
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  last_day(o_orderdate) AS month_end,
      |  CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
      |  CAST(weekofyear(o_orderdate) AS INTEGER) AS week_no,
      |  CAST(date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS DATE) AS review_date,
      |  lpad(CAST(o_custkey AS VARCHAR), 9, '0') AS cust_code,
      |  reverse(lower(c_mktsegment)) AS seg_rev,
      |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lowvowel,
      |  repeat(substr(c_mktsegment, 1, 1), 3) AS seg_tag
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey < 1000
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 1000)
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        last_day(col("o_orderdate")).as("month_end"),
        (weekday(col("o_orderdate")) + 1).as("iso_dow"),
        weekofyear(col("o_orderdate")).as("week_no"),
        datediff(col("o_orderdate").cast("date"), lit("2024-01-01").cast("date")).as("days_since"),
        date_add(col("o_orderdate").cast("date"), 90).as("review_date"),
        lpad(col("o_custkey").cast("string"), 9, "0").as("cust_code"),
        reverse(lower(col("c_mktsegment"))).as("seg_rev"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_lowvowel"),
        repeat(substring(col("c_mktsegment"), 1, 1), 3).as("seg_tag"))
      .orderBy(col("o_orderkey"))
  }

  /** Null-preserving generator: explode each document's long words
    * (≥8 letters via codegen'd regexp_extract_all) with positions,
    * KEEPING documents that have none — `posexplode_outer` emits a
    * (null, null) row instead of dropping the parent, so a downstream
    * per-doc aggregate still sees every document. ~1/5 of this corpus
    * has no match: the outer semantics are load-bearing, not cosmetic.
    */
  val explodeOuter = Q(
    "q93_explode_outer",
    """WITH m AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z]{8,}') AS ws FROM documents)
      |SELECT doc_id,
      |  CAST(u.pos AS INTEGER) AS pos, u.w AS long_word
      |FROM m LEFT JOIN LATERAL (
      |  SELECT unnest(ws) AS w, generate_subscripts(ws, 1) - 1 AS pos) u ON true
      |ORDER BY doc_id, pos NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("[a-z]{8,}"), lit(0)).as("ws"))
      .select(col("doc_id"), posexplode_outer(col("ws")).as(Seq("pos", "long_word")))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Z-order cell profile — oracle-checks `sources.ZOrder`'s Morton
    * arithmetic cross-engine: the oracle's magic-mask bit spread must
    * equal [[graft.sources.ZOrder.zkey]]'s per-bit interleave over 16
    * bits (the write-side clustering is only as correct as this value),
    * then profile row counts and revenue per coarse z cell.
    * Everything is codegen'd bit ops; one scan, one partial-agg'd
    * groupBy.
    */
  val zorderCells = Q(
    "q94_zorder_cells",
    """WITH b AS (
      |  SELECT o_custkey % 256 AS xb,
      |    least(CAST(floor(o_totalprice / 2500) AS BIGINT), 255) AS yb,
      |    o_totalprice
      |  FROM orders),
      |sx AS (SELECT *,
      |  ((xb | (xb << 8)) & 16711935) AS x1, ((yb | (yb << 8)) & 16711935) AS y1 FROM b),
      |s2 AS (SELECT *,
      |  ((x1 | (x1 << 4)) & 252645135) AS x2, ((y1 | (y1 << 4)) & 252645135) AS y2 FROM sx),
      |s3 AS (SELECT *,
      |  ((x2 | (x2 << 2)) & 858993459) AS x3, ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
      |s4 AS (SELECT *,
      |  ((x3 | (x3 << 1)) & 1431655765) AS x4, ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3),
      |z AS (SELECT (x4 | (y4 << 1)) >> 8 AS z_cell, o_totalprice FROM s4)
      |SELECT z_cell, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM z GROUP BY z_cell ORDER BY z_cell""".stripMargin) { (s, d) =>
    val xb = pmod(col("o_custkey"), lit(256))
    val yb = least(floor(col("o_totalprice") / 2500).cast("long"), lit(255L))
    Tables.orders(s, d)
      .select(shiftright(graft.sources.ZOrder.zkey(xb, yb, 16), 8).as("z_cell"),
        col("o_totalprice"))
      .groupBy(col("z_cell"))
      .agg(count(lit(1)).as("n"), graft.Det.dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("z_cell"))
  }

  /** Boolean aggregate family: bool_and / bool_or / count_if — the
    * assertion-style aggregates QA dashboards run. Map-side partial
    * aggregation shrinks each to one boolean/long per mapper.
    */
  val boolAggs = Q(
    "q95_bool_aggs",
    """SELECT c_mktsegment,
      |  bool_and(c_acctbal > 0) AS all_positive,
      |  bool_or(c_acctbal > 9000) AS any_rich,
      |  CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_negative
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        bool_and(col("c_acctbal") > 0).as("all_positive"),
        bool_or(col("c_acctbal") > 9000).as("any_rich"),
        count_if(col("c_acctbal") < 0).as("n_negative"))
      .orderBy(col("c_mktsegment"))
  }

  /** Spark 4 VARIANT path for semi-structured data: `parse_json` ingests
    * the payload once into the binary variant encoding (shreddable,
    * type-preserving — the modern replacement for per-query from_json
    * re-parsing), `variant_get` extracts typed paths. The oracle reads
    * the same path with DuckDB's JSON extraction — identical values
    * prove the encoding round-trips. q28 is the from_json sibling.
    */
  val variantExtract = Q(
    "q96_variant_extract",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(json_extract(props, '$.k') AS INTEGER) AS k
      |  FROM events)
      |SELECT event_type, COUNT(k) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM e GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        try_variant_get(parse_json(col("props")), "$.k", "int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  def specs: Seq[Q] =
    Seq(calendarStrings, explodeOuter, zorderCells, boolAggs, variantExtract)
}
