package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the events shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference has no streaming path (SURVEY.md §2.9) — this is the
  * forward-looking surface a 100 TB ingest needs: the SAME transforms run
  * batch or streaming (the DataFrame fns below take either), watermarks
  * bound state, and sessionization carries explicit per-key state through
  * flatMapGroupsWithState with event-time timeout — state size is
  * O(active users), not O(events).
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Long,
      totalValue: Double)

  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Tumbling 1h windows per event_type with a 10-minute watermark:
    * late events beyond the watermark drop, window state is evicted once
    * the watermark passes — bounded memory at unbounded input.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  val SessionGapS: Long = 30 * 60

  /** Per-user sessionization with explicit state: a session closes when
    * no event arrives within 30 min of the last (event-time timeout), or
    * when an in-batch gap exceeds 30 min. Emits closed sessions only —
    * the streaming twin of Relational.sessionize, and gap arithmetic is
    * deliberately FLOOR-SECOND (like the batch twin's `unix_timestamp`
    * difference) so stream and batch agree event-for-event on
    * sub-second timestamps.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event]): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def emit(s: SessionState): SessionOut =
            SessionOut(userId, new Timestamp(s.sessionStart * 1000L),
              new Timestamp(s.lastTs * 1000L), s.nEvents, round2(s.totalValue))
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed the gap: close and emit the open session
            val s = state.get
            state.remove()
            Iterator.single(emit(s))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = Math.floorDiv(e.ts.getTime, 1000L) // floor second
              cur match {
                case Some(s) if t - s.lastTs <= SessionGapS =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) =>
                  closed += emit(s)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastTs + SessionGapS) * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  private def round2(d: Double): Double = math.rint(d * 100) / 100

  /** Driver-gated stream/batch parity surface: replay the events table
    * chronologically through [[Replay.run]] in several micro-batches,
    * flush open sessions with far-future sentinel rows (the watermark
    * only advances between batches), and return the emitted sessions as
    * (user_id, n_events, duration_s) — the multiset the DuckDB
    * gaps-and-islands oracle reproduces exactly.
    *
    * The replay source is a driver-side test source (production
    * replaces it with Kafka/file sources); the collect here feeds the
    * harness, not the engine — sessionize itself shuffles once on
    * user_id and keeps state O(active users).
    */
  def sessionizeReplay(spark: SparkSession, events: DataFrame, numBatches: Int = 6): DataFrame = {
    import spark.implicits._
    val evs = Replay.collect(
      events.select("event_id", "ts", "user_id", "event_type", "value").as[Event],
      "sessionizeReplay").sortBy(e => (e.ts.getTime, e.event_id))
    // two sentinel batches: the first advances the watermark past every
    // open session's timeout, the second triggers the timeout pass
    val maxTs = evs.last.ts.getTime
    val flush = Seq(
      Seq(Event(-1L, new Timestamp(maxTs + 2 * 3600 * 1000L), -1L, "flush", 0.0)),
      Seq(Event(-2L, new Timestamp(maxTs + 4 * 3600 * 1000L), -1L, "flush", 0.0)))
    Replay.run(spark, Replay.chunks(evs.toSeq, numBatches) ++ flush, "append")(
      ds => sessionize(ds.sparkSession, ds))(
      _.filter(col("user_id") >= 0)
        .selectExpr("user_id", "n_events",
          "unix_timestamp(session_end) - unix_timestamp(session_start) AS duration_s")
        .orderBy(col("user_id"), col("n_events"), col("duration_s")))
  }
}
