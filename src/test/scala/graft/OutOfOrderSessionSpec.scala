package graft

import graft.ops.SessionOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The watermarked sessionizer must agree with the BATCH twin even when
  * events arrive out of event-time order ACROSS micro-batches — the
  * exact scenario the in-order `sessionizeStream` documents as
  * unsupported. Disorder within the watermark delay buffers in state and
  * folds in event-time order; session-closing emissions happen via both
  * the data path and EventTimeTimeout (the final batch carries data for
  * only one user — the other's sessions can only flush by timeout).
  */
class OutOfOrderSessionSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val baseUs = 1700000000000000L
  private def tsOf(minutes: Long): java.sql.Timestamp =
    new java.sql.Timestamp(baseUs / 1000L + minutes * 60000L)

  test("cross-batch out-of-order events sessionize identically to the batch twin") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val sessions = SessionOps.sessionizeStreamWatermarked(
        input.toDF().toDF("user_id", "event_ts"),
        gapMinutes = 10, delayMinutes = 60)
      val q = sessions.writeStream.format("memory")
        .queryName("wm_sessions").outputMode("append").start()
      try {
        // batch 1: the LATER half of each user's history arrives first
        input.addData((1L, tsOf(25)), (1L, tsOf(30)), (2L, tsOf(50)))
        q.processAllAvailable()
        // batch 2: the EARLIER half arrives afterwards — cross-batch
        // disorder of up to 50 minutes of event time, within the 60-min
        // watermark delay (the disorder-tolerance contract)
        input.addData((1L, tsOf(0)), (1L, tsOf(5)), (1L, tsOf(8)), (2L, tsOf(0)))
        q.processAllAvailable()
        // flush: two far-future sentinels push the watermark past every
        // real session; the second batch triggers the processing that
        // sees that watermark. User 2 gets NO new data — its sessions
        // can only flush through EventTimeTimeout.
        // the sentinels sit WITHIN one gap of each other, so they merge
        // into one still-open session that append mode never emits
        input.addData((1L, tsOf(60 * 24 * 2)))
        q.processAllAvailable()
        input.addData((1L, tsOf(60 * 24 * 2 + 5)))
        q.processAllAvailable()

        val got = spark.table("wm_sessions")
          .select("user_id", "start_us", "end_us", "n_events")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        // batch twin over the REAL events (sentinels excluded: their
        // sessions are still open, and append mode never emits them)
        val real = Seq((1L, 0L), (1L, 5L), (1L, 8L), (1L, 25L), (1L, 30L),
          (2L, 0L), (2L, 50L))
        val batchDf = real.map { case (u, m) => (u, baseUs + m * 60000000L) }
          .toDF("user_id", "us")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            monotonically_increasing_id().as("event_id"))
        val expected = SessionOps.sessionize(batchDf, gapMinutes = 10)
          .select(col("user_id"), unix_micros(col("session_start")),
            unix_micros(col("session_end")), col("n_events"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        assert(expected.size == 4, s"fixture should yield 4 sessions: $expected")
        assert(got == expected,
          s"watermarked stream diverged from batch twin:\n got=$got\n exp=$expected")
      } finally q.stop()
    }
  }

  test("an event later than the watermark allows is dropped, not misfiled") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val sessions = SessionOps.sessionizeStreamWatermarked(
        input.toDF().toDF("user_id", "event_ts"),
        gapMinutes = 10, delayMinutes = 30)
      val q = sessions.writeStream.format("memory")
        .queryName("wm_late").outputMode("append").start()
      try {
        input.addData((7L, tsOf(100)))
        q.processAllAvailable() // watermark after this batch: minute 70
        // two days late — far below the watermark once it advances;
        // after the frontier passes minute 70 this event is discarded
        input.addData((7L, tsOf(-60 * 24 * 2)))
        q.processAllAvailable()
        // two sentinels WITHIN one gap of each other: they merge into a
        // single still-open session that append mode never emits
        input.addData((7L, tsOf(60 * 24 * 5)))
        q.processAllAvailable()
        input.addData((7L, tsOf(60 * 24 * 5 + 5)))
        q.processAllAvailable()
        val got = spark.table("wm_late")
          .select("user_id", "start_us", "end_us", "n_events")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        // the minute-100 singleton closes; the two-days-late straggler
        // must not have fabricated a session of its own
        val m100 = baseUs + 100L * 60000000L
        assert(got == Set((7L, m100, m100, 1L)), s"got $got")
      } finally q.stop()
    }
  }
}
