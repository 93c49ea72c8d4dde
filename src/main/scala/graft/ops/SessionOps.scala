package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization — the canonical stateful event-stream
  * operator. Two implementations with one semantics:
  *
  *  - [[sessionize]]: batch, pure window functions (lag → gap flag →
  *    cumulative sum = session id → group). One shuffle on the user key;
  *    SQL-expressible, so it carries the DuckDB oracle.
  *  - [[sessionizeStream]]: Structured Streaming with
  *    `flatMapGroupsWithState` — per-key state carries the open session
  *    across micro-batches, closed sessions are emitted as soon as a gap
  *    proves them closed. The spec asserts its closed sessions equal the
  *    batch result minus each user's final (still-open) session.
  */
object SessionOps {

  /** Batch sessionization: sessions are maximal runs of events per user
    * with inter-event gaps ≤ gap. */
  def sessionize(events: DataFrame, gapMinutes: Int,
                 user: String = "user_id", ts: String = "ts",
                 id: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(user)).orderBy(col(ts).asc, col(id).asc)
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("__prev", lag(col(ts), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col(ts)) - unix_micros(col("__prev")) > gapUs, 1L)
        .otherwise(0L))
      .withColumn("session_seq",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(user), col("session_seq"))
      .agg(
        min(col(ts)).as("session_start"),
        max(col(ts)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  final case class Ev(user_id: Long, ts_us: Long)
  final case class OpenSession(start_us: Long, last_us: Long, n: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long,
                           n_events: Long)

  /** Streaming sessionization: emits CLOSED sessions; the open tail per
    * user lives in GroupState across micro-batches.
    *
    * ORDERING ASSUMPTION: events for a user must arrive in event-time
    * order ACROSS micro-batches (within a batch they are sorted here).
    * There is no watermark buffer (NoTimeout), so an earlier-timestamped
    * event landing in a later batch is compared against the open
    * session's last_us and can split/fabricate sessions relative to the
    * batch twin. This holds for the replay fixture (one AvailableNow
    * batch) and for any source that partitions by key and preserves
    * per-key order; for genuinely out-of-order sources use
    * [[sessionizeStreamWatermarked]], which buffers within a watermark
    * and emits on EventTimeTimeout (OutOfOrderSessionSpec proves it
    * equal to the batch twin under cross-batch disorder). */
  def sessionizeStream(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def fn(user: Long, batch: Iterator[Ev],
           state: GroupState[OpenSession]): Iterator[Session] = {
      val sorted = batch.toSeq.sortBy(_.ts_us)
      var open = state.getOption
      val closed = Seq.newBuilder[Session]
      sorted.foreach { e =>
        open = open match {
          case None => Some(OpenSession(e.ts_us, e.ts_us, 1))
          case Some(s) if e.ts_us - s.last_us <= gapUs =>
            Some(s.copy(last_us = e.ts_us, n = s.n + 1))
          case Some(s) =>
            closed += Session(user, s.start_us, s.last_us, s.n)
            Some(OpenSession(e.ts_us, e.ts_us, 1))
        }
      }
      open.foreach(state.update)
      closed.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
  }

  /** State of the watermarked sessionizer: the open session plus events
    * not yet provably complete (ts above the watermark). */
  final case class WmBuf(open: Option[OpenSession], pending: Seq[Long])

  /** Watermarked sessionization for OUT-OF-ORDER sources — closes the
    * in-order assumption [[sessionizeStream]] documents.
    *
    * Events buffer in per-key state until the watermark passes them;
    * only then are they folded into sessions, in event-time order — so
    * cross-batch disorder within the watermark delay cannot split or
    * fabricate sessions. A session is emitted once the watermark
    * exceeds `last event + gap` (no future event can extend it — every
    * later event must start a new session), including via
    * EventTimeTimeout when a key receives no further batches. Per-key
    * state is bounded by the arrival rate × the watermark delay
    * (`pending`) plus one open session — the buffer drains every time
    * the watermark advances, so state does not grow with stream length.
    *
    * @param events     streaming frame carrying `user` and `ts` columns
    * @param gapMinutes session gap (same semantics as [[sessionize]])
    * @param delayMinutes watermark delay: max tolerated disorder
    */
  def sessionizeStreamWatermarked(events: DataFrame, gapMinutes: Int,
                                  delayMinutes: Int,
                                  user: String = "user_id",
                                  ts: String = "event_ts"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def fn(userId: Long, batch: Iterator[(Long, Long, java.sql.Timestamp)],
           state: GroupState[WmBuf]): Iterator[Session] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val st = state.getOption.getOrElse(WmBuf(None, Nil))
      // events older than the current watermark are DROPPED, the same
      // policy a watermarked aggregation applies — folding them in would
      // misfile them behind sessions already proven closed
      val incoming = batch.map(_._2).filter(_ >= wmUs).toSeq
      val (settled, pending) =
        (st.pending ++ incoming).sorted.partition(_ <= wmUs)
      var open = st.open
      val closed = Seq.newBuilder[Session]
      settled.foreach { t =>
        open = open match {
          case None => Some(OpenSession(t, t, 1))
          case Some(s) if t - s.last_us <= gapUs =>
            Some(s.copy(last_us = t, n = s.n + 1))
          case Some(s) =>
            closed += Session(userId, s.start_us, s.last_us, s.n)
            Some(OpenSession(t, t, 1))
        }
      }
      // the watermark itself can prove the open session over: nothing
      // arriving later (ts > wm > last + gap) can be within the gap
      open = open match {
        case Some(s) if wmUs > s.last_us + gapUs =>
          closed += Session(userId, s.start_us, s.last_us, s.n)
          None
        case o => o
      }
      if (open.isEmpty && pending.isEmpty) state.remove()
      else {
        state.update(WmBuf(open, pending))
        // wake when the watermark can next prove progress: the open
        // session's close instant, or the first pending event settling
        val nextUs = (open.map(_.last_us + gapUs) ++ pending.headOption).min
        state.setTimeoutTimestamp(
          math.max(state.getCurrentWatermarkMs() + 1, nextUs / 1000L + 1))
      }
      closed.result().iterator
    }

    events
      .select(col(user).cast("long").as("user_id"), col(ts).as("event_ts"))
      .withWatermark("event_ts", s"$delayMinutes minutes")
      .select(col("user_id"), unix_micros(col("event_ts")).as("ts_us"),
        col("event_ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Run the streaming sessionizer to completion over a parquet glob and
    * return the closed sessions (memory sink, AvailableNow). */
  def sessionizeStreamAvailableNow(spark: SparkSession, dir: String,
                                   gapMinutes: Int,
                                   queryName: String = "stream_sessions"): DataFrame = {
    import spark.implicits._
    // schema comes from the shared footer-derived stream (Tables'
    // single source of truth), not a hard-coded copy that could drift
    val raw = graft.streaming.StreamingConf.tableStream(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
    graft.streaming.StreamingConf.runAvailableNow(
      sessionizeStream(raw, gapMinutes).toDF(), queryName, "append")
  }
}
