package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference processes its telematics
  * stream as a batch snapshot (scripts/01:28-29 — "very large batch
  * snapshot of historical stream"); this module is the native streaming
  * expression of the same computations, per SURVEY §2.9's extension note:
  * event-time windowed aggregation with watermarking, and per-key custom
  * state via mapGroupsWithState.
  *
  * Every transform here takes a DataFrame that may be either a batch or a
  * `readStream` source — the plans are identical, which is exactly the
  * Structured Streaming model (incrementalized batch plan).
  */
object EventStream {

  /** Event-time tumbling-window aggregation with late-data bound.
    * Input schema: (event_ts: timestamp, event_type: string, value: double).
    */
  def windowedCounts(events: DataFrame, watermarkDelay: String = "10 minutes",
      windowLength: String = "5 minutes"): DataFrame =
    events
      .withWatermark("event_ts", watermarkDelay)
      .groupBy(window(col("event_ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  case class UserEvent(user_id: Long, value: Double)
  case class UserState(n: Long, maxValue: Double)
  case class UserUpdate(user_id: Long, n: Long, maxValue: Double)

  /** Per-key arbitrary stateful processing (the reference's per-device
    * tracking as a live stream): running event count + max value per user
    * via mapGroupsWithState.
    */
  def runningUserStats(events: Dataset[UserEvent]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Double.MinValue))
          val next = rows.foldLeft(prev) { (st, e) =>
            UserState(st.n + 1, math.max(st.maxValue, e.value))
          }
          state.update(next)
          UserUpdate(userId, next.n, next.maxValue)
      }
  }

  /** Streaming deduplication: drop events already seen (by id) within the
    * watermark horizon — the exactly-once guard for at-least-once sources,
    * where a replayed event may carry a different event_ts than the
    * original. `dropDuplicatesWithinWatermark` dedups on the id alone and
    * still bounds state by the watermark: ids older than the horizon are
    * evicted, which is what makes this viable on an unbounded stream.
    */
  def dedupStream(events: DataFrame, idCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-static enrichment: join the live stream against a static
    * dimension (broadcast per micro-batch) — the streaming analog of the
    * reference's device_mapping join (scripts/08:120).
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left_outer")

  /** Gap-based session windows per user (native `session_window`): a
    * session extends while consecutive events arrive within `gap`; the
    * window closes at last_event + gap. In streaming mode the watermark
    * bounds session state (sessions older than the horizon finalize and
    * evict); in batch mode the same plan computes the full history. At
    * scale this shuffles once on user_id — session assembly is local to
    * each key's partition.
    */
  def sessionStats(events: DataFrame, gap: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("event_ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream inner join. Both sides carry watermarks so the state
    * store can discard rows that fall out of the join's time bound — the
    * condition must time-constrain the two event-time columns (range or
    * equality), otherwise state grows without bound. Batch mode runs the
    * identical plan (watermarks are no-ops there), which is what q83
    * verifies against the oracle.
    */
  def streamStreamJoin(left: DataFrame, leftTs: String, leftDelay: String,
      right: DataFrame, rightTs: String, rightDelay: String,
      cond: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTs, leftDelay)
      .join(right.withWatermark(rightTs, rightDelay), cond)

  /** `runningUserStats` on Spark 4's `transformWithState` — the
    * successor API to mapGroupsWithState: typed state handles
    * (ValueState/ListState/MapState) with per-state TTL, timers, and
    * schema evolution, running on the RocksDB store. Same semantics as
    * the mapGroupsWithState form (RocksDBStateSpec proves output
    * parity); new pipelines should start here, the old form stays for
    * API coverage.
    */
  class RunningUserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserUpdate] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserState]("userState",
        org.apache.spark.sql.Encoders.product[UserState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserUpdate] = {
      val prev = Option(state.get()).getOrElse(UserState(0L, Double.MinValue))
      val next = rows.foldLeft(prev) { (st, e) =>
        UserState(st.n + 1, math.max(st.maxValue, e.value))
      }
      state.update(next)
      Iterator.single(UserUpdate(key, next.n, next.maxValue))
    }
  }

  /** Running per-user stats via transformWithState (requires the RocksDB
    * state store provider — the API refuses HDFS-backed stores).
    */
  def runningUserStatsTws(events: Dataset[UserEvent]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningUserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class GpsFix(deviceId: String, tsSec: Long, lat: Double, lon: Double)
  case class SpeedState(lastTs: Long, lastLat: Double, lastLon: Double,
      maxSpeed: Double, nFixes: Long)
  case class SpeedUpdate(deviceId: String, n_fixes: Long, max_speed_kmh: Double)

  /** The reference's telematics risk pipeline as a LIVE stream: per-device
    * GPS fixes arrive in event order, state carries the last fix across
    * micro-batches, speed = Haversine distance over time delta
    * (graft.functions.Geo.haversineKmScalar — same formula as the batch
    * expression tree). Emits the running per-device fix count + max speed.
    */
  def liveSpeedTracking(fixes: Dataset[GpsFix]): Dataset[SpeedUpdate] = {
    import fixes.sparkSession.implicits._
    fixes
      .groupByKey(_.deviceId)
      .mapGroupsWithState[SpeedState, SpeedUpdate](GroupStateTimeout.NoTimeout) {
        (deviceId: String, rows: Iterator[GpsFix], state: GroupState[SpeedState]) =>
          val ordered = rows.toSeq.sortBy(_.tsSec)
          val init = state.getOption.getOrElse(SpeedState(Long.MinValue, 0, 0, 0.0, 0L))
          val next = ordered.foldLeft(init) { (st, fix) =>
            val speed =
              if (st.nFixes == 0 || fix.tsSec <= st.lastTs) 0.0
              else graft.functions.Geo.haversineKmScalar(
                st.lastLat, st.lastLon, fix.lat, fix.lon) /
                ((fix.tsSec - st.lastTs) / 3600.0)
            SpeedState(fix.tsSec, fix.lat, fix.lon,
              math.max(st.maxSpeed, speed), st.nFixes + 1)
          }
          state.update(next)
          SpeedUpdate(deviceId, next.nFixes, next.maxSpeed)
      }
  }

  /** Exactly-once parquet sink: append-mode file sink driven from a
    * checkpoint. The checkpoint's offset log + the file sink's
    * transactional manifest (_spark_metadata) give end-to-end
    * exactly-once across restarts — a query killed mid-batch resumes
    * from the last committed offset and the half-written batch's files
    * are never visible to readers of the manifest. The returned query is
    * NOT awaited: callers own its lifecycle (tests stop/restart it to
    * exercise recovery).
    */
  def toParquetSink(stream: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** foreachBatch escape hatch: run an arbitrary batch action per
    * micro-batch (JDBC upsert, merge, multi-sink fan-out — sinks the
    * declarative writers can't express). Exactly-once is the CALLER's
    * contract here: the action receives (batch, batchId) and must be
    * idempotent on batchId, because a batch replays with the SAME id
    * after a crash-restart.
    */
  def toForeachBatch(stream: DataFrame, checkpoint: String)(
      action: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(action)
      .start()

  /** Drive a streaming DataFrame into an in-memory table and block until
    * all available input is processed — the synchronous harness used by
    * tests (and handy for local smoke runs).
    */
  def runToMemory(stream: DataFrame, queryName: String, outputMode: OutputMode): Unit = {
    val q = stream.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }
}
