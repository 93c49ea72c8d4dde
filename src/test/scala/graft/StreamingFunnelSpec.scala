package graft

import graft.ops.BehaviorOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming funnel twins vs the batch state machine: the in-order
  * variant across multiple micro-batches, the watermarked variant under
  * cross-batch event-time disorder, and the AvailableNow replay against
  * the batch funnel on the real fixture.
  */
class StreamingFunnelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val steps = Seq("view", "click", "purchase")
  private val baseUs = 1700000000000000L
  private def tsOf(minutes: Long): java.sql.Timestamp =
    new java.sql.Timestamp(baseUs / 1000L + minutes * 60000L)
  private def usOf(minutes: Long): Long = baseUs + minutes * 60000000L

  test("in-order stream across batches matches the batch machine " +
    "and never re-emits a converted step") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val stepEvents = BehaviorOps.toStepEvents(
          input.toDF().toDF("user_id", "event_ts", "event_type"), steps)
        .select(col("user_id"), unix_micros(col("event_ts")).as("ts_us"),
          col("step_idx"))
        .as[(Long, Long, Int)]
      val q = BehaviorOps.funnelStream(stepEvents, steps.length)
        .writeStream.format("memory").queryName("funnel_inorder")
        .outputMode("append").start()
      try {
        input.addData((1L, tsOf(0), "view"), (1L, tsOf(5), "click"))
        q.processAllAvailable()
        // next batch continues where state left off — purchase converts
        input.addData((1L, tsOf(10), "purchase"))
        q.processAllAvailable()
        // a fully-converted user receiving MORE events must not re-emit
        input.addData((1L, tsOf(20), "view"), (1L, tsOf(25), "purchase"))
        q.processAllAvailable()
        val got = spark.table("funnel_inorder")
          .as[BehaviorOps.StepConv].collect().toSet
        assert(got == Set(
          BehaviorOps.StepConv(1L, 1, usOf(0)),
          BehaviorOps.StepConv(1L, 2, usOf(5)),
          BehaviorOps.StepConv(1L, 3, usOf(10))))
      } finally q.stop()
    }
  }

  test("watermarked stream converts correctly under cross-batch disorder") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val stepEvents = BehaviorOps.toStepEvents(
          input.toDF().toDF("user_id", "event_ts", "event_type"), steps)
        .withWatermark("event_ts", "60 minutes")
        .select(col("user_id"), unix_micros(col("event_ts")).as("ts_us"),
          col("step_idx"), col("event_ts"))
        .as[(Long, Long, Int, java.sql.Timestamp)]
      val q = BehaviorOps.funnelStreamWatermarked(stepEvents, steps.length)
        .writeStream.format("memory").queryName("funnel_wm")
        .outputMode("append").start()
      try {
        // batch 1: user 1's LATER steps arrive first
        input.addData((1L, tsOf(20), "click"), (1L, tsOf(30), "purchase"))
        q.processAllAvailable()
        // batch 2: the view arrives 30 minutes of event time late —
        // within the 60-minute tolerance. In arrival order the user
        // "purchased before viewing"; in event time the funnel is clean.
        input.addData((1L, tsOf(0), "view"))
        q.processAllAvailable()
        // watermark pushers on a sacrificial user; user 1 gets no more
        // data, so its conversions can only flush via EventTimeTimeout
        input.addData((99L, tsOf(60 * 24 * 2), "view"))
        q.processAllAvailable()
        input.addData((99L, tsOf(60 * 24 * 2 + 5), "view"))
        q.processAllAvailable()
        val got = spark.table("funnel_wm")
          .as[BehaviorOps.StepConv].collect().toSet
          .filter(_.user_id == 1L)
        assert(got == Set(
          BehaviorOps.StepConv(1L, 1, usOf(0)),
          BehaviorOps.StepConv(1L, 2, usOf(20)),
          BehaviorOps.StepConv(1L, 3, usOf(30))),
          s"disorder mis-converted: $got")
      } finally q.stop()
    }
  }

  test("watermarked stream keeps terminal state: a fully-converted user's " +
    "later activity never re-runs the machine") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val stepEvents = BehaviorOps.toStepEvents(
          input.toDF().toDF("user_id", "event_ts", "event_type"), steps)
        .withWatermark("event_ts", "60 minutes")
        .select(col("user_id"), unix_micros(col("event_ts")).as("ts_us"),
          col("step_idx"), col("event_ts"))
        .as[(Long, Long, Int, java.sql.Timestamp)]
      val q = BehaviorOps.funnelStreamWatermarked(stepEvents, steps.length)
        .writeStream.format("memory").queryName("funnel_wm_terminal")
        .outputMode("append").start()
      try {
        // full conversion, then watermark far past it so all three
        // conversions settle and the state goes terminal
        input.addData((1L, tsOf(0), "view"), (1L, tsOf(5), "click"),
          (1L, tsOf(10), "purchase"))
        q.processAllAvailable()
        input.addData((99L, tsOf(60 * 24), "view"))
        q.processAllAvailable()
        input.addData((99L, tsOf(60 * 24 + 5), "view"))
        q.processAllAvailable()
        // a SECOND full chain from the converted user, settled by
        // pushing the watermark again — state.remove() here would
        // restart the machine from step 0 and double-count every step
        input.addData((1L, tsOf(60 * 24 + 10), "view"),
          (1L, tsOf(60 * 24 + 15), "click"),
          (1L, tsOf(60 * 24 + 20), "purchase"))
        q.processAllAvailable()
        input.addData((99L, tsOf(60 * 24 * 3), "view"))
        q.processAllAvailable()
        input.addData((99L, tsOf(60 * 24 * 3 + 5), "view"))
        q.processAllAvailable()
        val got = spark.table("funnel_wm_terminal")
          .as[BehaviorOps.StepConv].collect().toSeq
          .filter(_.user_id == 1L)
        assert(got.sortBy(_.step) == Seq(
          BehaviorOps.StepConv(1L, 1, usOf(0)),
          BehaviorOps.StepConv(1L, 2, usOf(5)),
          BehaviorOps.StepConv(1L, 3, usOf(10))),
          s"terminal state re-emitted: $got")
      } finally q.stop()
    }
  }

  test("repeated step types: stream replay equals the batch funnel " +
    "(view -> click -> view)") {
    // 'view' sits at steps 1 AND 3: toStepEvents must emit one row per
    // matching index, else the machine waits forever on an index no
    // event carries while the batch form (independent per-step filters)
    // converts users normally
    val repeated = Seq("view", "click", "view")
    val dir = "/root/testdata/sf0.001"
    val conv = BehaviorOps.funnelStreamAvailableNow(spark, dir, repeated,
      queryName = "funnel_replay_repeated")
    val got = conv.groupBy(col("step"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("step")
      .as[(Int, Long)].collect().toSeq
    val expected = BehaviorOps.funnel(Tables.events(spark, dir), repeated)
      .orderBy("step")
      .select(col("step"), col("n_users"))
      .as[(Int, Long)].collect().toSeq
    assert(got == expected.filter(_._2 > 0),
      s"repeated-type stream diverged: got=$got exp=$expected")
    assert(expected.head._2 > 0, "fixture should convert step 1")
  }

  test("AvailableNow replay equals the batch funnel on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val conv = BehaviorOps.funnelStreamAvailableNow(spark, dir, steps,
      queryName = "funnel_replay")
    val got = conv.groupBy(col("step"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("step")
      .as[(Int, Long)].collect().toSeq
    val expected = BehaviorOps.funnel(Tables.events(spark, dir), steps)
      .orderBy("step")
      .select(col("step"), col("n_users"))
      .as[(Int, Long)].collect().toSeq
    assert(got == expected,
      s"stream replay diverged from batch funnel: got=$got exp=$expected")
  }
}
