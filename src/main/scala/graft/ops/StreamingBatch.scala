package graft.ops

import graft.{Q, Tables}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** The streaming module's transforms run on batch frames — Structured
  * Streaming's model is an incrementalized batch plan, so
  * `EventStream.windowedCounts` is ONE definition serving both: here it
  * runs in batch against the oracle; `StreamingSpec` drives the same
  * function over a MemoryStream with watermarks and state.
  */
object StreamingBatch {

  /** 5-minute tumbling event-time windows per event_type, computed by the
    * streaming transform in batch mode.
    */
  val eventWindows = Q(
    "q54_event_windows",
    """SELECT make_timestamp((epoch_ns(ts)//1000) // 300000000 * 300000000) AS window_start,
      |  event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val events = ev
      .select(timestamp_micros(Tables.tsUs(ev)).as("event_ts"),
        col("event_type"), col("value").cast("decimal(18,2)").as("value"))
    EventStream.windowedCounts(events, watermarkDelay = "10 minutes",
        windowLength = "5 minutes")
      .select(col("window_start"), col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Gap-based session windows (4 h) per user via the native
    * `session_window` streaming operator, run in batch mode. The oracle
    * is classic SQL sessionization: break when the gap to the previous
    * event is >= 4 h (Spark's session window is [start, last+gap), so an
    * event exactly gap-late starts a new session — hence `>=`).
    */
  val sessionWindows = Q(
    "q82_session_windows",
    """WITH e AS (SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS t, value FROM events),
      |s AS (SELECT user_id, t, value,
      |  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= INTERVAL 4 HOUR
      |       THEN 1 ELSE 0 END AS brk FROM e),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM s)
      |SELECT user_id, MIN(t) AS session_start, MAX(t) + INTERVAL 4 HOUR AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val events = ev
      .select(col("user_id"), timestamp_micros(Tables.tsUs(ev)).as("event_ts"),
        col("value").cast("decimal(18,2)").as("value"))
    EventStream.sessionStats(events, gap = "4 hours")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream-stream interval join in batch mode: purchases within 30 min
    * AFTER a click by the same user. The time bound is what lets the
    * streaming state store evict — and what keeps the batch join a range
    * join on (user_id, time) rather than a blowup.
    */
  val intervalJoin = Q(
    "q83_interval_join",
    """WITH e AS (SELECT event_id, user_id, event_type,
      |             make_timestamp(epoch_ns(ts)//1000) AS t, value FROM events)
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(p.t) - epoch_us(c.t) AS lag_us,
      |  ROUND(p.value, 2) AS purchase_value
      |FROM e c JOIN e p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.t >= c.t AND p.t <= c.t + INTERVAL 30 MINUTE
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val e = ev
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(Tables.tsUs(ev)).as("t"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("t").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("t").as("purchase_ts"), col("value"))
    EventStream.streamStreamJoin(
        clicks, "click_ts", "30 minutes",
        purchases, "purchase_ts", "30 minutes",
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"),
        round(col("value"), 2).as("purchase_value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val specs: Seq[Q] = Seq(eventWindows, sessionWindows, intervalJoin)
}
