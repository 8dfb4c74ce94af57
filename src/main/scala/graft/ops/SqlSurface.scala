package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.Deletions2
import graft.sources.ZOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational and SQL-function surface beyond the reference pipeline:
  * as-of joins, window frames and navigation, grouping sets / cube /
  * pivot / unpivot, map, array and string functions, calendar and
  * variant extraction, SCD2 intervals, upserts, fuzzy joins, sketch
  * heavy hitters, robust statistics and the Z-order sort key. Each query
  * pairs its Spark implementation with DuckDB oracle SQL (see [[graft.Q]]).
  */
object SqlSurface {

  /** As-of join via union-marker: for each 'purchase' event, the most
    * recent 'error' event of the same user at-or-before it.
    *
    * Spark has no native as-of operator. The naive form (inequality join
    * + top-1 per left row) is O(pairs) and dies at scale. Two linear
    * implementations are registered against the SAME oracle: this one,
    * the union-marker pattern (tag both sides, union, ONE window pass per
    * key ordered by time — composes entirely from built-ins), and q43b
    * ([[nativeAsof]]), the native `plans.AsOfJoin` exec (both sides
    * shuffle once on the key, then a per-partition O(n+m) streaming merge
    * with one buffered row — no union materialization and no window
    * buffering at all). The custom exec exists because the union pass
    * sorts PURCHASES AND ERRORS TOGETHER through one window; the merge
    * sorts each side separately and never materializes their union.
    */
  val asofJoin = Q(
    "q43_asof_join",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us,
      |    CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS tag
      |  FROM events WHERE event_type IN ('error', 'purchase')),
      |w AS (
      |  SELECT user_id, event_id, ts_us, tag,
      |    last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_error_id,
      |    last_value(CASE WHEN tag = 0 THEN ts_us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_error_us
      |  FROM e)
      |SELECT user_id, event_id AS purchase_id, asof_error_id,
      |  ROUND((ts_us - asof_error_us) / 1000000.0, 6) AS gap_sec
      |FROM w WHERE tag = 1
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val e = ev
      .filter(col("event_type").isin("error", "purchase"))
      .select(col("user_id"), col("event_id"), Tables.tsUs(ev).as("ts_us"),
        when(col("event_type") === "error", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("asof_error_id",
        last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("asof_error_us",
        last(when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("asof_error_id"),
        round((col("ts_us") - col("asof_error_us")) / 1000000.0, 6).as("gap_sec"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Native as-of join (see [[asofJoin]]): same semantics and oracle
    * as q43, via `plans.AsOfJoin`'s streaming-merge exec. The right side
    * carries the event_id tie-break so equal-(user, ts) errors resolve
    * to the max event_id — exactly the oracle window's last_value order.
    */
  val nativeAsof = Q(
    "q43b_native_asof",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us,
      |    CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS tag
      |  FROM events WHERE event_type IN ('error', 'purchase')),
      |w AS (
      |  SELECT user_id, event_id, ts_us, tag,
      |    last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_error_id,
      |    last_value(CASE WHEN tag = 0 THEN ts_us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_error_us
      |  FROM e)
      |SELECT user_id, event_id AS purchase_id, asof_error_id,
      |  ROUND((ts_us - asof_error_us) / 1000000.0, 6) AS gap_sec
      |FROM w WHERE tag = 1
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val e = ev
      .filter(col("event_type").isin("error", "purchase"))
      .select(col("user_id"), col("event_id"), Tables.tsUs(ev).as("ts_us"),
        col("event_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("asof_error_id"),
        col("ts_us").as("asof_error_us"))
    graft.plans.AsOf.join(purchases, errors,
        leftKey = "user_id", rightKey = "e_user",
        leftTsCol = "ts_us", rightTsCol = "asof_error_us",
        rightTieBreaks = Seq("asof_error_id"))
      .select(col("user_id"), col("purchase_id"), col("asof_error_id"),
        round((col("ts_us") - col("asof_error_us")) / 1000000.0, 6).as("gap_sec"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Window-frame family: lead, ntile, running sum (ROWS unbounded..current),
    * 3-row moving average. Window sums go through decimal so sliding-frame
    * accumulation order can't produce float drift between engines.
    */
  val windowFrames = Q(
    "q44_window_frames",
    """SELECT user_id, event_id,
      |  lead(event_id) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id) AS next_event_id,
      |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id) AS INTEGER) AS quartile,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2)))
      |    OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
      |  (2 * SUM(CAST(ROUND(value * 100) AS BIGINT))
      |    OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 10000
      |   + COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      |  // (2 * COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) / 1000000.0 AS moving_avg3
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = ord.rowsBetween(-2, Window.currentRow)
    val ev = Tables.events(s, d)
    ev.select(col("user_id"), col("event_id"), col("value"), Tables.tsUs(ev).as("ts_us"))
      .select(col("user_id"), col("event_id"),
        lead(col("event_id"), 1).over(ord).as("next_event_id"),
        ntile(4).over(ord).as("quartile"),
        sum(col("value").cast("decimal(18,2)")).over(cum).cast("double").as("running_value"),
        sum(round(col("value") * 100).cast("long")).over(mov).as("mov_cents"),
        count(lit(1)).over(mov).as("mov_n"))
      .select(col("user_id"), col("event_id"), col("next_event_id"), col("quartile"),
        col("running_value"),
        (Det.halfUpDiv(col("mov_cents") * 10000, col("mov_n")) / 1000000.0)
          .as("moving_avg3"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** List aggregation: ordered collect_list / collect_set rendered as
    * strings (deterministic via explicit sorting).
    */
  val collectList = Q(
    "q45_collect_list",
    """SELECT user_id,
      |  array_to_string(list_sort(list(event_type)), ',') AS all_types,
      |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS distinct_types,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("event_type")))).as("all_types"),
        concat_ws(",", sort_array(collect_set(col("event_type")))).as("distinct_types"),
        count(lit(1)).as("n"))
      .orderBy(col("user_id"))
  }

  /** CUBE over two dimensions with grouping indicator. */
  val cubeAgg = Q(
    "q46_cube",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("revenue"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n_orders"), col("revenue"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** PIVOT: order revenue by status × priority, explicit value list (the
    * oracle expresses the same as conditional aggregation — identical
    * semantics, fixed output schema).
    */
  val pivotAgg = Q(
    "q47_pivot",
    """SELECT o_orderstatus,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p1_urgent,
      |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p3_medium,
      |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p5_low
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Seq("1-URGENT", "3-MEDIUM", "5-LOW"))
      .agg(Det.dsum(col("o_totalprice")))
      .withColumnRenamed("1-URGENT", "p1_urgent")
      .withColumnRenamed("3-MEDIUM", "p3_medium")
      .withColumnRenamed("5-LOW", "p5_low")
      .orderBy(col("o_orderstatus"))
  }

  /** Salted two-phase aggregation: events grouped by event_type (only 5
    * distinct values — at 100 TB every one is a hot key). Phase 1
    * pre-aggregates on (key, salt) across 16 synthetic salts, phase 2
    * combines per key — the shuffle carries 5×16 rows instead of 5
    * giant partitions. The oracle is the plain GROUP BY: identical
    * results, different physical distribution.
    */
  val saltedAgg = Q(
    "q50_salted_agg",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val phase1 = Tables.events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,2)")).as("psum"),
        max(col("value")).as("pmax"))
    phase1.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        sum(col("psum")).cast("double").as("sum_value"),
        max(col("pmax")).as("max_value"))
      .orderBy(col("event_type"))
  }

  /** GROUPING SETS — independent subtotal lattices in one pass (beyond
    * q25's rollup / q46's cube): by status, by priority, and the grand
    * total. gid is derived from key NULL-ness in both engines, avoiding
    * any engine-specific grouping_id bit order.
    */
  val groupingSets = Q(
    "q71_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  (CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
      |   + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS gid,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("total_value"))
      .withColumn("gid",
        when(col("o_orderstatus").isNull, 2).otherwise(0)
          + when(col("o_orderpriority").isNull, 1).otherwise(0))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n_orders"), col("total_value"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_last,
        col("o_orderpriority").asc_nulls_last)
  }

  /** Ordered string aggregation (LISTAGG): nations per region as a
    * deterministic csv — collect_list is unordered across partitions, so
    * the engine sorts the collected array before joining.
    */
  val stringAgg = Q(
    "q72_string_agg",
    """SELECT r_name,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
      |  COUNT(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin) { (s, d) =>
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations_csv"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("r_name"))
  }

  /** EXISTS / NOT EXISTS / scalar subquery, DataFrame-style: semi-join,
    * anti-join, and a broadcast 1-row aggregate. The rich-customer
    * threshold compares c_acctbal * n_customers > sum(acctbal) — exact
    * decimal arithmetic on both engines, no float-division boundary.
    */
  val subqueries = Q(
    "q73_subqueries",
    """WITH g AS (
      |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
      |         COUNT(*) AS n_cust
      |  FROM customer),
      |f AS (
      |  SELECT c_custkey, c_nationkey,
      |    (CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT n_cust FROM g) > (SELECT bal_sum FROM g)
      |     AND EXISTS (SELECT 1 FROM orders
      |                 WHERE o_custkey = c_custkey AND o_totalprice > 200000)) AS rich,
      |    NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS inactive
      |  FROM customer)
      |SELECT n_name,
      |  CAST(SUM(CASE WHEN rich THEN 1 ELSE 0 END) AS BIGINT) AS n_rich,
      |  CAST(SUM(CASE WHEN inactive THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive,
      |  COUNT(*) AS n_customers
      |FROM f JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    val g = broadcast(cust.agg(
      sum(col("bal")).as("bal_sum"), count(lit(1)).as("n_cust")))
    val bigOrders = Tables.orders(s, d)
      .filter(col("o_totalprice") > 200000).select(col("o_custkey"))
    val anyOrders = Tables.orders(s, d).select(col("o_custkey"))
    val richKeys = cust.crossJoin(g)
      .filter(col("bal") * col("n_cust") > col("bal_sum"))
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey")).withColumn("rich", lit(1L))
    val inactiveKeys = cust
      .join(anyOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey")).withColumn("inactive", lit(1L))
    cust
      .join(richKeys, Seq("c_custkey"), "left")
      .join(inactiveKeys, Seq("c_custkey"), "left")
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(coalesce(col("rich"), lit(0L))).as("n_rich"),
        sum(coalesce(col("inactive"), lit(0L))).as("n_inactive"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("n_name"))
  }

  /** Rank-family window functions (dense_rank / percent_rank /
    * cume_dist) — value-based, so tie handling is deterministic without
    * an artificial unique-key tiebreak.
    */
  val windowRanks = Q(
    "q74_window_ranks",
    """SELECT n_name, s_name, s_acctbal, d_rank, p_rank, c_dist FROM (
      |  SELECT n_name, s_name, s_acctbal,
      |    CAST(DENSE_RANK() OVER w AS INTEGER) AS d_rank,
      |    ROUND(PERCENT_RANK() OVER w, 6) AS p_rank,
      |    ROUND(CUME_DIST() OVER w, 6) AS c_dist
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal DESC)) t
      |WHERE d_rank <= 3
      |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("n_name")).orderBy(col("s_acctbal").desc)
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("s_name"), col("s_acctbal"))
      .withColumn("d_rank", dense_rank().over(w))
      .withColumn("p_rank", round(percent_rank().over(w), 6))
      .withColumn("c_dist", round(cume_dist().over(w), 6))
      .filter(col("d_rank") <= 3)
      .orderBy(col("n_name"), col("s_acctbal").desc, col("s_name"))
  }

  /** Decile bucketing of customers by balance WITHIN market segment —
    * the training-data-mixing shape (stratify, then quota per stratum).
    * ntile is keyed by segment so the window sort runs parallel per
    * partition; ties break on c_custkey for cross-engine determinism.
    */
  val quantileBuckets = Q(
    "q81_quantile_buckets",
    """WITH b AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    CAST(ntile(10) OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal, c_custkey) AS INTEGER) AS bucket
      |  FROM customer)
      |SELECT c_mktsegment, bucket, COUNT(*) AS n,
      |  ROUND(MIN(c_acctbal),2) AS lo, ROUND(MAX(c_acctbal),2) AS hi,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM b GROUP BY 1,2 ORDER BY c_mktsegment, bucket""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("bucket", ntile(10).over(w))
      .groupBy(col("c_mktsegment"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("lo"),
        round(max(col("c_acctbal")), 2).as("hi"),
        graft.Det.dsum(col("c_acctbal")).as("total"))
      .orderBy(col("c_mktsegment"), col("bucket"))
  }

  /** Per-customer order-history navigation: first / second / latest order
    * price via `first_value` / `nth_value` / `last_value` over an explicit
    * unbounded frame. The navigation window and the row_number picker
    * share partitioning AND ordering, so Catalyst plans ONE Window node
    * over one sort — five window functions, one shuffle, one sort.
    * Ordering is (o_orderdate, o_orderkey): the key makes it total, so
    * every engine picks identical first/nth/last rows.
    */
  val windowNavigation = Q(
    "q84_window_navigation",
    """SELECT o_custkey, n_orders, first_price, second_price, last_price
      |FROM (
      |  SELECT o_custkey,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS n_orders,
      |    FIRST_VALUE(o_totalprice) OVER w AS first_price,
      |    NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
      |    LAST_VALUE(o_totalprice) OVER w AS last_price,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |) t WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val order = Seq(col("o_orderdate"), col("o_orderkey"))
    val wNav = Window.partitionBy(col("o_custkey")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRn = Window.partitionBy(col("o_custkey")).orderBy(order: _*)
    Tables.orders(s, d)
      .select(col("o_custkey"),
        count(lit(1)).over(wNav).as("n_orders"),
        first_value(col("o_totalprice")).over(wNav).as("first_price"),
        nth_value(col("o_totalprice"), 2).over(wNav).as("second_price"),
        last_value(col("o_totalprice")).over(wNav).as("last_price"),
        row_number().over(wRn).as("rn"))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy(col("o_custkey"))
  }

  /** Order-status profile per market segment via a MAP column:
    * status→count entries built with `map_from_entries`, inspected with
    * `map_keys`/`try_element_at`. The map is built AFTER aggregation (3
    * entries per segment), so the expensive path is still a plain
    * two-level partial-agg'd groupBy; the map work touches 5 rows.
    * `try_element_at` (not `element_at`) because ANSI mode errors on
    * missing map keys.
    */
  val mapFunctions = Q(
    "q85_map_functions",
    """SELECT c_mktsegment,
      |  CAST(COUNT(DISTINCT o_orderstatus) AS INTEGER) AS n_statuses,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS open_cnt,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS finished_cnt,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS pending_cnt
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val counts = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy(col("c_mktsegment"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("o_orderstatus"), col("cnt"))))).as("m"))
      .select(col("c_mktsegment"),
        size(map_keys(col("m"))).as("n_statuses"),
        coalesce(try_element_at(col("m"), lit("O")), lit(0L)).as("open_cnt"),
        coalesce(try_element_at(col("m"), lit("F")), lit(0L)).as("finished_cnt"),
        coalesce(try_element_at(col("m"), lit("P")), lit(0L)).as("pending_cnt"))
      .orderBy(col("c_mktsegment"))
  }

  /** Array set algebra per document: split the token stream in half and
    * measure vocabulary overlap between the halves with `array_intersect`
    * / `array_union` / `array_except` (distinct-set semantics in both
    * engines). A narrow per-row projection — arrays never leave the row,
    * nothing shuffles but the presentation sort. Docs are ≥10 tokens in
    * this corpus, so both halves are non-empty.
    */
  val arraySetOps = Q(
    "q86_array_setops",
    """WITH t AS (
      |  SELECT doc_id, list_distinct(toks[1:CAST(len(toks)//2 AS INTEGER)]) AS a,
      |         list_distinct(toks[CAST(len(toks)//2 AS INTEGER)+1:CAST(len(toks) AS INTEGER)]) AS b
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(a) AS INTEGER) AS n_first, CAST(len(b) AS INTEGER) AS n_second,
      |    CAST(len(list_filter(a, x -> list_contains(b, x))) AS INTEGER) AS n_common,
      |    CAST(len(list_distinct(list_concat(a, b))) AS INTEGER) AS n_union,
      |    CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS INTEGER) AS n_only_first
      |  FROM t)
      |SELECT doc_id, n_first, n_second, n_common, n_union, n_only_first,
      |  ROUND(n_common * 1.0 / n_union, 4) AS jaccard
      |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"), col("toks"))
      .select(col("doc_id"),
        array_distinct(slice(col("toks"), lit(1), (col("n") / 2).cast("int"))).as("a"),
        array_distinct(slice(col("toks"), (col("n") / 2).cast("int") + 1,
          col("n") - (col("n") / 2).cast("int"))).as("b"))
    t.select(col("doc_id"),
        size(col("a")).as("n_first"), size(col("b")).as("n_second"),
        size(array_intersect(col("a"), col("b"))).as("n_common"),
        size(array_union(col("a"), col("b"))).as("n_union"),
        size(array_except(col("a"), col("b"))).as("n_only_first"))
      .withColumn("jaccard", round(col("n_common") * 1.0 / col("n_union"), 4))
      .orderBy(col("doc_id"))
  }

  /** Richest / poorest customer per market segment via `max_by` / `min_by`
    * — declarative argmax aggregates with map-side partial aggregation
    * (each mapper keeps one candidate per segment; the shuffle carries 5
    * rows per mapper, never the table). Balances can tie, so the ordering
    * key is lexicographic (balance-in-cents, custkey): the Spark side uses
    * a STRUCT key (orderable at every scale — no packing overflow), while
    * the oracle packs the pair into one BIGINT, which is monotonic exactly
    * while custkey < 10^7 — always true at the oracle's test SFs (the
    * engine side carries no such bound). `round` before the cents cast
    * because Spark's ANSI double→long truncates while DuckDB's rounds
    * (the dialect trap from q51).
    */
  val argMinMax = Q(
    "q88_argminmax",
    """SELECT c_mktsegment,
      |  arg_max(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS top_name,
      |  MAX(c_acctbal) AS top_bal,
      |  arg_min(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS bottom_name,
      |  MIN(c_acctbal) AS bottom_bal
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val key = struct(
      round(col("c_acctbal") * 100).cast("bigint").as("bal_cents"),
      col("c_custkey").as("c_custkey"))
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        max_by(col("c_name"), key).as("top_name"),
        max(col("c_acctbal")).as("top_bal"),
        min_by(col("c_name"), key).as("bottom_name"),
        min(col("c_acctbal")).as("bottom_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Wide→long melt of per-segment price stats via `unpivot` — the
    * reshape feeding chart/export layers. The aggregate is the expensive
    * part (one scan, map-side combine); the melt triples 5 rows.
    */
  val unpivotStats = Q(
    "q89_unpivot",
    """WITH w AS (
      |  SELECT c_mktsegment,
      |    ROUND(MIN(o_totalprice), 2) AS min_price,
      |    ROUND(MAX(o_totalprice), 2) AS max_price,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment)
      |SELECT c_mktsegment, stat, v FROM (
      |  SELECT c_mktsegment, 'min_price' AS stat, min_price AS v FROM w
      |  UNION ALL
      |  SELECT c_mktsegment, 'max_price' AS stat, max_price AS v FROM w
      |  UNION ALL
      |  SELECT c_mktsegment, 'sum_price' AS stat, sum_price AS v FROM w)
      |ORDER BY c_mktsegment, stat""".stripMargin) { (s, d) =>
    val wide = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        Det.dsum(col("o_totalprice")).as("sum_price"))
    wide.unpivot(
        Array(col("c_mktsegment")),
        Array(col("min_price"), col("max_price"), col("sum_price")),
        "stat", "v")
      .orderBy(col("c_mktsegment"), col("stat"))
  }

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

  /** SCD2 dimension build — collapse a per-customer order-status history
    * into validity intervals [eff_from, eff_to): keep only CHANGE rows
    * (status differs from the previous row), then close each interval
    * with the next change's date. The reference's dimension loads
    * (scripts/04) are type-1 overwrites; this is the type-2 upgrade a
    * real warehouse needs. Windows partition by customer — parallel over
    * 150k×SF keys, no global sort.
    */
  val scd2Intervals = Q(
    "q98_scd2_intervals",
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev_s
      |  FROM orders),
      |c AS (SELECT * FROM o WHERE prev_s IS NULL OR prev_s <> o_orderstatus)
      |SELECT o_custkey,
      |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
      |  o_orderstatus, o_orderdate AS eff_from,
      |  lead(o_orderdate) OVER w AS eff_to
      |FROM c
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version""".stripMargin) { (s, d) =>
    val wAll = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
      .withColumn("prev_s", lag(col("o_orderstatus"), 1).over(wAll))
      .filter(col("prev_s").isNull || col("prev_s") =!= col("o_orderstatus"))
    changes
      .withColumn("version", row_number().over(wAll))
      .withColumn("eff_to", lead(col("o_orderdate"), 1).over(wAll))
      .select(col("o_custkey"), col("version"), col("o_orderstatus"),
        col("o_orderdate").as("eff_from"), col("eff_to"))
      .orderBy(col("o_custkey"), col("version"))
  }

  /** Windowed deduplication — the bounded-state streaming-dedup shape in
    * batch form: within each 10-minute tumbling window, events of one
    * (user, type) collapse to their first occurrence (min event_id).
    * Pure two-level groupBy: both levels partial-aggregate map-side, and
    * at 100 TB the state is one row per live (user, type, window) — the
    * same bound `dropDuplicatesWithinWatermark` keeps in streaming.
    */
  val windowDedup = Q(
    "q99_window_dedup",
    """WITH b AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_ns(ts)//1000 // 600000000 AS win
      |  FROM events),
      |k AS (
      |  SELECT user_id, event_type, win, MIN(event_id) AS keep_id, COUNT(*) AS n
      |  FROM b GROUP BY 1, 2, 3)
      |SELECT user_id, event_type,
      |  COUNT(*) AS n_windows,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dropped
      |FROM k GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    ev.select(col("user_id"), col("event_type"), col("event_id"),
        Tables.tsUs(ev).as("ts_us"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts_us DIV 600000000").as("win"))
      .groupBy(col("user_id"), col("event_type"), col("win"))
      .agg(min(col("event_id")).as("keep_id"), count(lit(1)).as("n"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n")).as("n_events"),
        (sum(col("n")) - count(lit(1))).as("n_dropped"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Forward-fill imputation — carry the last observed measurement over
    * gaps (here: 'error' events carry no measurement) per user in event
    * order: `last(_, ignoreNulls)` over a running frame. The window
    * partitions by user, so fill state never crosses keys and the sort
    * parallelizes; the canonical telemetry-backfill shape.
    */
  val forwardFill = Q(
    "q100_forward_fill",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |  FROM e)
      |SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_missing,
      |  CAST(COUNT(*) FILTER (WHERE v IS NULL AND v_filled IS NOT NULL) AS BIGINT) AS n_filled,
      |  CAST(SUM(CAST(ROUND(v_filled * 100) AS BIGINT)) AS BIGINT) AS filled_cents
      |FROM f GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, d)
    ev.select(col("user_id"), col("event_id"), Tables.tsUs(ev).as("ts_us"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .groupBy(col("user_id"))
      .agg(
        count(when(col("v").isNull, 1)).as("n_missing"),
        count(when(col("v").isNull && col("v_filled").isNotNull, 1)).as("n_filled"),
        sum(round(col("v_filled") * 100).cast("long")).as("filled_cents"))
      .orderBy(col("user_id"))
  }

  /** Winsorized robust statistics — clip values at the per-type rounded
    * p05/p95 and report clip counts + the winsorized mean (exact-cents
    * [[Det.halfUpDiv]] average). Thresholds round to 4 decimals BEFORE
    * clipping so the clip decision is an exact double compare in both
    * engines (raw interpolated percentiles can differ in the last ulp).
    * The 5-row threshold table broadcasts; the fact side never shuffles
    * before its aggregate.
    */
  val winsorize = Q(
    "q105_winsorize",
    """WITH q AS (
      |  SELECT event_type,
      |    ROUND(quantile_cont(value, 0.05), 4) AS lo,
      |    ROUND(quantile_cont(value, 0.95), 4) AS hi
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) FILTER (WHERE value < lo) AS BIGINT) AS n_lo,
      |  CAST(COUNT(*) FILTER (WHERE value > hi) AS BIGINT) AS n_hi,
      |  lo, hi,
      |  (2 * CAST(SUM(CAST(ROUND(LEAST(GREATEST(value, lo), hi) * 100) AS BIGINT)) AS BIGINT)
      |     + COUNT(*)) // (2 * COUNT(*)) / 100.0 AS winsor_mean
      |FROM events e JOIN q USING (event_type)
      |GROUP BY e.event_type, lo, hi
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val q = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.05)"), 4).as("lo"),
        round(expr("percentile(value, 0.95)"), 4).as("hi"))
    val clipped = least(greatest(col("value"), col("lo")), col("hi"))
    ev.join(broadcast(q), Seq("event_type"))
      .groupBy(col("event_type"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("value") < col("lo"), 1)).as("n_lo"),
        count(when(col("value") > col("hi"), 1)).as("n_hi"),
        sum(round(clipped * 100).cast("long")).as("clip_cents"))
      .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
        col("lo"), col("hi"),
        (Det.halfUpDiv(col("clip_cents"), col("n")) / 100.0).as("winsor_mean"))
      .orderBy(col("event_type"))
  }

  /** Count-min-sketch heavy hitters — the mergeable-sketch counting path
    * (spark-sketch's CountMinSketch via `df.stat`): each partition builds
    * a fixed-size sketch, sketches merge associatively (the 100 TB shape:
    * no groupBy shuffle of raw keys, sketch size is independent of both
    * cardinality and row count), and the driver reads off estimates for
    * the dimension-sized key set. With eps=1e-4 the 5-key domain cannot
    * collide, so the estimates EQUAL the exact counts and the exact
    * GROUP BY is a true oracle — the same estimate==exact trick as q49's
    * IVF recall check. Seeded, so the sketch is deterministic.
    */
  val cmsHeavyHitters = Q(
    "q107_cms_heavyhitters",
    """SELECT event_type, COUNT(*) AS est_count
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val cms = ev.stat.countMinSketch(col("event_type"), 1e-4, 0.999, 42)
    // The key read-out is dimension-sized (event taxonomy), not data-sized.
    val types = ev.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    import s.implicits._
    types.map(t => (t, cms.estimateCount(t))).toDF("event_type", "est_count")
      .orderBy(col("event_type"))
  }

  /** Fuzzy join via SYMMETRIC-DELETE blocking (the SymSpell shape):
    * match a probe list against customer names at Levenshtein distance
    * ≤ 1 WITHOUT the O(n·m) cross join — both sides explode into their
    * deletion neighborhoods (`graft_deletions`: the string + every
    * 1-char deletion), the equi-join on neighborhood keys finds every
    * qualifying pair (blocking is EXACT for distance ≤ 1 — see the
    * expression's scaladoc), and the cheap levenshtein verify runs only
    * on blocked candidates. The oracle is the naive cross join, proving
    * blocked ≡ naive. Probes derive deterministically from the data
    * (every 97th customer's name with its 2nd char dropped).
    */
  val fuzzyJoin = Q(
    "q110_fuzzy_join",
    """WITH probes AS (
      |  SELECT DISTINCT substr(c_name, 1, 1) || substr(c_name, 3, 1000) AS probe
      |  FROM customer WHERE c_custkey % 97 = 0)
      |SELECT p.probe, c.c_custkey, c.c_name,
      |  CAST(levenshtein(c.c_name, p.probe) AS INTEGER) AS dist
      |FROM customer c CROSS JOIN probes p
      |WHERE levenshtein(c.c_name, p.probe) <= 1
      |ORDER BY probe, c_custkey""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    val probes = cust.filter(pmod(col("c_custkey"), lit(97)) === 0)
      .select(concat(substring(col("c_name"), 1, 1), substring(col("c_name"), 3, 1000))
        .as("probe"))
      .distinct()
    val custKeys = cust.select(col("c_custkey"), col("c_name"),
      explode(graft.functions.Deletions.deletions(col("c_name"))).as("k"))
    val probeKeys = probes.select(col("probe"),
      explode(graft.functions.Deletions.deletions(col("probe"))).as("k"))
    custKeys.join(probeKeys, Seq("k"))
      .select(col("probe"), col("c_custkey"), col("c_name"))
      .distinct() // a pair can collide on several deletion keys
      .filter(levenshtein(col("c_name"), col("probe")) <= 1)
      .select(col("probe"), col("c_custkey"), col("c_name"),
        levenshtein(col("c_name"), col("probe")).cast("int").as("dist"))
      .orderBy(col("probe"), col("c_custkey"))
  }

  /** CDC merge/upsert — the incremental-warehouse shape the reference's
    * overwrite loads lack: a change batch (updates to existing keys +
    * brand-new keys, derived deterministically from the data) merges
    * into the base via ONE full-outer join on the key; each output row
    * classifies as update / insert / keep. At scale this is a single
    * co-partitioned shuffle join — and zero-exchange when base and batch
    * share bucketing (the PlanSpec bucketed-join property); a lakehouse
    * MERGE INTO plans the identical join under the hood.
    */
  val mergeUpsert = Q(
    "q112_merge_upsert",
    """WITH batch AS (
      |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 100 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 2000000000, o_totalprice
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |merged AS (
      |  SELECT COALESCE(b.o_orderkey, o.o_orderkey) AS o_orderkey,
      |    COALESCE(b.o_totalprice, o.o_totalprice) AS price,
      |    CASE WHEN b.o_orderkey IS NULL THEN 'keep'
      |         WHEN o.o_orderkey IS NULL THEN 'insert'
      |         ELSE 'update' END AS action
      |  FROM orders o FULL OUTER JOIN batch b ON o.o_orderkey = b.o_orderkey)
      |SELECT action, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM merged GROUP BY action
      |ORDER BY action""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val changed = base.filter(pmod(col("o_orderkey"), lit(100)) === 0)
    val batch = changed
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))
      .union(changed.select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        col("o_totalprice")))
    base.as("o").join(batch.as("b"),
        col("o.o_orderkey") === col("b.o_orderkey"), "full_outer")
      .select(
        coalesce(col("b.o_totalprice"), col("o.o_totalprice")).as("price"),
        when(col("b.o_orderkey").isNull, "keep")
          .when(col("o.o_orderkey").isNull, "insert")
          .otherwise("update").as("action"))
      .groupBy(col("action"))
      .agg(count(lit(1)).as("n_rows"), Det.dsum(col("price")).as("total_value"))
      .orderBy(col("action"))
  }

  /** Fuzzy join at Levenshtein distance ≤ 2 via depth-2 symmetric-
    * delete blocking (`graft_deletions2`): every unit edit costs at
    * most one deletion on each side, so depth-2 neighborhoods
    * intersect for EVERY distance-≤2 pair — the equi-join on exploded
    * keys is exact blocking, and the levenshtein verify touches only
    * blocked candidates. Key fan-out is 1 + len + len·(len−1)/2 per
    * string (the O(len²) knob q110 documents); probes are corrupted by
    * TWO character drops so genuine distance-2 matches exist. The
    * oracle's bounded cross join proves the blocking loses nothing.
    */
  val fuzzyJoin2 = Q(
    "q124_fuzzy_join2",
    """WITH probes AS (
      |  SELECT DISTINCT substr(c_name, 1, 1) || substr(c_name, 3, 2)
      |    || substr(c_name, 6, 1000) AS probe
      |  FROM customer WHERE c_custkey % 199 = 0)
      |SELECT p.probe, c.c_custkey, c.c_name,
      |  CAST(levenshtein(c.c_name, p.probe) AS INTEGER) AS dist
      |FROM customer c CROSS JOIN probes p
      |WHERE levenshtein(c.c_name, p.probe) <= 2
      |ORDER BY probe, c_custkey""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    // drop the 2nd and 5th characters -> distance exactly 2 from the source
    val probes = cust.filter(pmod(col("c_custkey"), lit(199)) === 0)
      .select(concat(substring(col("c_name"), 1, 1), substring(col("c_name"), 3, 2),
        substring(col("c_name"), 6, 1000)).as("probe"))
      .distinct()
    val custKeys = cust.select(col("c_custkey"), col("c_name"),
      explode(Deletions2.deletions2(col("c_name"))).as("k"))
    val probeKeys = probes.select(col("probe"),
      explode(Deletions2.deletions2(col("probe"))).as("k"))
    custKeys.join(probeKeys, Seq("k"))
      .select(col("probe"), col("c_custkey"), col("c_name"))
      .distinct() // a pair collides on many deletion keys
      .filter(levenshtein(col("c_name"), col("probe")) <= 2)
      .select(col("probe"), col("c_custkey"), col("c_name"),
        levenshtein(col("c_name"), col("probe")).cast("int").as("dist"))
      .orderBy(col("probe"), col("c_custkey"))
  }

  /** Recency-weighted engagement (EWMA over each user's last 8 events,
    * decay 0.9) — the classic feature-engineering op whose naive form
    * (`pow(0.9, k)` per engine) is NOT bit-stable across engines.
    * Bounded depth makes it exact: 0.9^k for k ≤ 7 is an exact decimal
    * (9^k·10^(7-k) in 10^-7 units), so every term is INTEGER arithmetic
    * and the sum is order-independent. The window partitions by user —
    * parallelism grows with user cardinality; the k < 8 filter caps
    * per-user state like a streaming last-N buffer would.
    */
  val ewmaEngagement = Q(
    "q126_ewma_engagement",
    """WITH r AS (
      |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) - 1 AS k
      |  FROM events),
      |t AS (
      |  SELECT user_id,
      |    CASE k WHEN 0 THEN cents * 10000000
      |           WHEN 1 THEN cents * 9000000
      |           WHEN 2 THEN cents * 8100000
      |           WHEN 3 THEN cents * 7290000
      |           WHEN 4 THEN cents * 6561000
      |           WHEN 5 THEN cents * 5904900
      |           WHEN 6 THEN cents * 5314410
      |           WHEN 7 THEN cents * 4782969 END AS term
      |  FROM r WHERE k < 8)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_recent,
      |  CAST(SUM(term) AS BIGINT) AS ewma_scaled,
      |  CAST(SUM(term) AS BIGINT) / 1000000000.0 AS ewma
      |FROM t
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // Order by MICROsecond ts like every other event window (ts_us):
    // Both engines order on epoch-MICROS (Tables.tsUs / epoch_ns//1000):
    // ordering on the raw ts column could silently diverge for
    // same-microsecond events when the testdata is NANOS-typed.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val decay = Seq(10000000L, 9000000L, 8100000L, 7290000L,
      6561000L, 5904900L, 5314410L, 4782969L) // 0.9^k in 1e-7 units
    val ev = Tables.events(s, d)
    val r = ev
      .select(col("user_id"), col("event_id"), Tables.tsUs(ev).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("k", row_number().over(w) - 1)
      .filter(col("k") < 8)
    val term = decay.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (mult, k)) => when(col("k") === k, col("cents") * mult).otherwise(acc)
    }
    r.select(col("user_id"), term.as("term"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recent"), sum(col("term")).as("ewma_scaled"))
      .select(col("user_id"), col("n_recent"), col("ewma_scaled"),
        (col("ewma_scaled") / 1000000000.0).as("ewma"))
      .orderBy(col("user_id"))
  }

  /** Robust outlier detection per event type: median + MAD over integer
    * cents, flagging |v − med| > 3·MAD. Working in cents keeps every
    * derived quantity (medians interpolate to halves, deviations to
    * halves, MADs to quarters) EXACTLY representable, so the threshold
    * comparison has no cross-engine float boundary at all — the same
    * reason q105's winsorize works. Exact per-group percentiles are the
    * bounded-cardinality path (5 event types); the 100 TB
    * high-cardinality path is approx_percentile (q51b's t-digest),
    * same plan otherwise.
    */
  val madOutliers = Q(
    "q127_mad_outliers",
    """WITH e AS (
      |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
      |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med FROM e GROUP BY event_type),
      |j AS (SELECT e.event_type, e.cents, m.med, ABS(e.cents - m.med) AS dev
      |      FROM e JOIN m USING (event_type)),
      |m2 AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM j GROUP BY event_type)
      |SELECT j.event_type,
      |  ROUND(MAX(j.med) / 100.0, 4) AS median_value,
      |  ROUND(MAX(m2.mad) / 100.0, 4) AS mad_value,
      |  CAST(COUNT(CASE WHEN j.dev > 3 * m2.mad THEN 1 END) AS BIGINT) AS n_outliers,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM j JOIN m2 USING (event_type)
      |GROUP BY j.event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val m = e.groupBy(col("event_type"))
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val j = e.join(m, Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med")))
    val m2 = j.groupBy(col("event_type"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    j.join(m2, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        round(max(col("med")) / 100.0, 4).as("median_value"),
        round(max(col("mad")) / 100.0, 4).as("mad_value"),
        count(when(col("dev") > lit(3.0) * col("mad"), 1)).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- q197

  private val ZBits = 8

  /** q197: Z-ORDER CLUSTERING KEY — the Morton interleave
    * ([[graft.sources.ZOrder.zkey]]) that [[graft.sources.ZOrder.writeZOrdered]]
    * lays files out by, verified per z-quadrant: bucketing the curve
    * into 16 blocks of 4096 keys must confine BOTH bucketed dimensions
    * of every block to one 64-wide quadrant (the property that makes
    * parquet min/max stats prune 2-D box predicates — the output's
    * min/max columns exhibit it directly). Pure shifts/masks, fully
    * codegen'd; LayoutSpec measures the actual file-skipping win.
    */
  val zorderKey = Q(
    "q197_zorder_key",
    s"""WITH z AS (
       |  SELECT ${ZOrder.zkeySql("l_orderkey % 256", "l_partkey % 256", ZBits)} AS zkey,
       |    l_orderkey % 256 AS x, l_partkey % 256 AS y
       |  FROM lineitem)
       |SELECT CAST(zkey // 4096 AS BIGINT) AS zbucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       |  CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(ZOrder.zkey(col("l_orderkey") % 256, col("l_partkey") % 256, ZBits)
          .as("zkey"),
        (col("l_orderkey") % 256).as("x"), (col("l_partkey") % 256).as("y"))
      .groupBy(expr("zkey div 4096").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("zbucket"))
  }

  val specs: Seq[Q] = Seq(asofJoin, nativeAsof, windowFrames, collectList,
    cubeAgg, pivotAgg, saltedAgg, groupingSets, stringAgg, subqueries,
    windowRanks, quantileBuckets, windowNavigation, mapFunctions,
    arraySetOps, argMinMax, unpivotStats, calendarStrings, explodeOuter,
    zorderCells, boolAggs, variantExtract, scd2Intervals, windowDedup,
    forwardFill, winsorize, cmsHeavyHitters, fuzzyJoin, mergeUpsert,
    fuzzyJoin2, ewmaEngagement, madOutliers, zorderKey)
}
