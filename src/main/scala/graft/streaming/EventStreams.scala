package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ql.dec

/** Event-stream operators (SURVEY §2.6), written once against
  * DataFrame so the same transform runs in batch (`read`) and
  * Structured Streaming (`readStream`). Streaming-only pieces
  * (watermarks, state) live in the *Streaming variants.
  */
object EventStreams {

  /** Tumbling hourly aggregate — batch form (date_trunc keys the group
    * identically to an aligned 1h window). */
  def tumblingHourly(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))

  /** Streaming form: watermark + 1h window, append-mode-compatible. */
  def tumblingHourlyStreaming(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming sliding windows: each event contributes to 4
    * overlapping hourly windows stepped by 15 minutes — identical
    * window boundaries to the batch `e5_sliding_window` query, with
    * the watermark bounding how long an open window's state lives. */
  def slidingWindowStreaming(events: DataFrame,
                             watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Events labeled with their gaps-and-islands session id — one
    * shuffle on user_id, linear within partition. */
  private def sessionLabeled(events: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_millis(col("ts")) - unix_millis(col("__prev")) > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(run))
  }

  /** Batch sessionization: per-session event counts. */
  def sessionize(events: DataFrame, gapMs: Long = 1800000L): DataFrame =
    sessionLabeled(events, gapMs)
      .groupBy("user_id", "session_id").agg(count(lit(1)).as("n"))

  /** Session time intervals (user_id, session_id, st, en) — the input
    * to interval analytics like peak concurrency (e6). */
  def sessionIntervals(events: DataFrame, gapMs: Long = 1800000L): DataFrame =
    sessionLabeled(events, gapMs)
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))

  /** Per-user session rollup (query shape for e2). Engine-native as
    * of r12 (VERDICT r11 item 8): sessions come from the built-in
    * `session_window` — whose partial sessions MERGE associatively
    * (UpdatingSessions/MergingSessions execs), so a hub user's
    * events combine instead of serializing into one task's
    * lag/cumsum window sort. Island rule identical to the
    * gaps-and-islands form (a gap of exactly `gapMs` merges in both;
    * session COUNTS per user are what e2 reports, and those don't
    * depend on intra-session order) — StreamingSpec pins the
    * differential against `sessionize`. */
  def sessionStats(events: DataFrame, gapMs: Long = 1800000L): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMs milliseconds").as("sw"))
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).cast("long").as("n_events"),
        max(col("n")).as("max_session_events"))

  /** Sessionization via the BUILT-IN `session_window` (batch form).
    * Same island rule as `sessionLabeled` — Spark merges a successor
    * whose start <= the open session's end, so a gap of EXACTLY `gap`
    * still merges (SessionWindowSpec pins this) — but the output is
    * the window itself: window.end of a merged session = last event
    * ts + gap. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("ws"), col("sw.end").as("we"),
        col("n_events"), col("sum_value"))

  /** Streaming form of `sessionWindows`: the built-in state-store
    * sessionization (sessions merge in state, close when the watermark
    * passes their end) — the zero-custom-code alternative to
    * `sessionizeStreaming`'s explicit flatMapGroupsWithState, with the
    * same windows as the batch form (SessionWindowSpec asserts it). */
  def sessionWindowsStreaming(events: DataFrame, gap: String = "30 minutes",
                              watermark: String = "2 hours"): DataFrame =
    sessionWindows(events.withWatermark("ts", watermark), gap)

  /** Streaming dedup: drop events whose id reappears within the
    * watermark window — the streaming arm of the dedup suite (state
    * size bounded by the watermark, unlike a global dropDuplicates). */
  def dedupStreaming(events: DataFrame, idCol: String,
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Stream-static enrichment: a streaming fact joined to a static
    * dimension. The dim is broadcast per micro-batch — stateless, the
    * production shape for decorating events with reference data
    * (static side re-read per batch picks up slowly-changing dims). */
  def enrichStreaming(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), key)

  /** Watermarked stream-stream interval join: right-side events within
    * `withinMs` AFTER the left event, both sides' buffered state
    * pruned by their watermarks (without the time-range condition the
    * join state would grow unboundedly). Columns: left (key, ts, ...),
    * right (key, rts, ...). */
  def intervalJoinStreaming(left: DataFrame, right: DataFrame, key: String,
                            withinMs: Long,
                            watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.withColumnRenamed(key, "__rkey").withWatermark("rts", watermark)
    l.join(r, col(key) === col("__rkey") &&
        col("rts") >= col("ts") &&
        col("rts") <= col("ts") + expr(s"INTERVAL $withinMs MILLISECONDS"))
      .drop("__rkey")
  }

  /** LEFT OUTER form of `intervalJoinStreaming`: left events with no
    * in-window right match still emit (right side null) — but only
    * once BOTH watermarks pass the join window, when the engine can
    * prove no match can still arrive. The attribution shape where
    * un-clicked impressions must be reported too. */
  def intervalJoinStreamingOuter(left: DataFrame, right: DataFrame, key: String,
                                 withinMs: Long,
                                 watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.withColumnRenamed(key, "__rkey").withWatermark("rts", watermark)
    l.join(r, col(key) === col("__rkey") &&
        col("rts") >= col("ts") &&
        col("rts") <= col("ts") + expr(s"INTERVAL $withinMs MILLISECONDS"),
      "leftOuter")
      .drop("__rkey")
  }

  // ---- streaming sessionization with explicit state ----

  case class Ev(user_id: Long, tsMicros: Long)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, startMicros: Long, endMicros: Long, n: Int)

  /** Streaming sessionization via flatMapGroupsWithState: emits a
    * session when a later event exceeds the inactivity gap, and — with
    * `useTimeout` (production default) — when the processing-time
    * timeout fires with no further events. State is O(1) per active
    * user. (`useTimeout=false` keeps test harnesses deterministic:
    * timeout-driven no-data batches make processAllAvailable spin.) */
  def sessionizeStreaming(events: Dataset[Ev], gapMs: Long = 1800000L,
                          useTimeout: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.start, s.last, s.n))
          } else {
            val sorted = evs.toSeq.sortBy(_.tsMicros)
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.tsMicros - s.last <= gapMs * 1000 =>
                  cur = Some(s.copy(last = e.tsMicros, n = s.n + 1))
                case Some(s) =>
                  out += SessionOut(uid, s.start, s.last, s.n)
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
                case None =>
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
              }
            }
            cur.foreach(s => state.update(s))
            if (useTimeout) state.setTimeoutDuration(gapMs)
            out.result().iterator
          }
      }
  }
}
