package graft

import graft.ops.TickOps
import graft.streaming.{StreamingConf, StreamingOhlc, StreamingStats}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The AvailableNow runner sizes a query's state stores from its input
  * backlog (`StreamingConf.statePartitions`): the bytes of its file
  * sources over AQE's advisory partition size, clamped to
  * [1, spark.sql.shuffle.partitions]. A checkpoint keeps the count it was
  * written with. */
class StateSizingSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Run `body` with a progress listener on the session; return its
    * result and the streaming totals it produced. */
  private def observed[T](body: => T): (T, StreamingStats.Totals) = {
    val stats = new StreamingStats
    spark.streams.addListener(stats)
    try {
      val out = body
      (out, stats.drain())
    } finally spark.streams.removeListener(stats)
  }

  test("the fixture events stream runs with the derived state-store count") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(width > 1, "the session width must leave room to tell 1 from it")
    assert(StreamingConf.statePartitions(
      StreamingOhlc.hourlyBarsStream(spark, sf)) == 1)
    val (bars, totals) = observed(
      StreamingOhlc.hourlyOhlcAvailableNow(spark, sf, "sizing_bars").count())
    assert(bars > 0)
    assert(totals.batches > 0)
    assert(totals.stateParts == 1,
      s"ran with ${totals.stateParts} state stores, derived 1")
  }

  test("the derived count never exceeds the session width") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = new java.io.File(s"$sf/events.parquet").length
    val stream = StreamingOhlc.hourlyBarsStream(spark, sf)
    // a one-byte target asks for one store per byte: clamped to the width
    StreamingConf.withConf(spark, advisory, "1") {
      assert(StreamingConf.statePartitions(stream) == width)
      val (_, totals) = observed(
        StreamingOhlc.hourlyOhlcAvailableNow(spark, sf, "sizing_wide").count())
      assert(totals.stateParts == width)
    }
    // in between, the backlog over the target, rounded up
    StreamingConf.withConf(spark, advisory, ((bytes + width - 2) / (width - 1)).toString) {
      assert(StreamingConf.statePartitions(stream) == width - 1)
    }
    // a stream-stream join counts the backlog of both of its sources
    StreamingConf.withConf(spark, advisory, bytes.toString) {
      assert(StreamingConf.statePartitions(stream) == 1)
      assert(StreamingConf.statePartitions(stream.join(stream, "symbol")) == 2)
    }
  }

  test("a restart on a checkpoint written with 8 stores keeps 8 and stays exactly-once") {
    val tmp = System.getProperty("java.io.tmpdir")
    val staged = s"$tmp/graft_sizing_src/events.parquet"
    val exposed = s"$tmp/graft_sizing_exposed"
    val out = s"$tmp/graft_sizing_out"
    Seq(staged, exposed, out).foreach(graft.util.Fs.deleteRec)
    // four chronological files with their modTimes in part order, so the
    // file source takes them in that order
    Tables.events(spark, sf).repartitionByRange(4, col("ts")).write.parquet(staged)
    val parts = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(1700000000000L + i * 60000L) }
    val dst = new java.io.File(s"$exposed/events.parquet")
    dst.mkdirs()
    def expose(f: java.io.File): Unit = {
      val d = new java.io.File(dst, f.getName)
      java.nio.file.Files.copy(f.toPath, d.toPath)
      d.setLastModified(f.lastModified())
    }

    // first run: a checkpoint written at a fixed 8 stores
    parts.take(2).foreach(expose)
    val (_, first) = observed(StreamingConf.withStatePartitions(spark, 8) {
      StreamingOhlc.hourlyBarsStream(spark, exposed, Some(1)).writeStream
        .format("parquet").option("path", s"$out/bars")
        .option("checkpointLocation", s"$out/checkpoint")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    })
    assert(first.stateParts == 8)
    val firstRows = spark.read.parquet(s"$out/bars").count()

    // the restart goes through the runner, which derives 1 for this
    // backlog; the checkpoint's 8 must win
    parts.drop(2).foreach(expose)
    assert(StreamingConf.statePartitions(StreamingOhlc.hourlyBarsStream(spark, exposed)) == 1)
    val (_, restart) = observed(StreamingOhlc.hourlyOhlcToFiles(spark, exposed, out,
      queryName = "sizing_restart", maxFilesPerTrigger = Some(1)))
    assert(restart.batches > 0)
    assert(restart.stateParts == 8,
      s"the restart ran with ${restart.stateParts} stores, its checkpoint has 8")

    val emitted = spark.read.parquet(s"$out/bars")
    assert(emitted.count() > firstRows, "the restart emitted nothing new")
    assert(emitted.groupBy("bar_start", "symbol").count()
      .filter(col("count") > 1).isEmpty, "the restart re-emitted a bar")
    val batch = TickOps.ohlcBars(TickOps.normalizeEvents(Tables.events(spark, sf)), "1 hour")
    assert(emitted.except(batch).isEmpty, "the restart emitted a bar the batch plan does not")
    val maxTs = TickOps.normalizeEvents(Tables.events(spark, sf))
      .agg(max(col("event_ts"))).first().getTimestamp(0)
    assert(batch.filter(col("bar_start") + expr("INTERVAL 2 HOURS") <= lit(maxTs))
      .except(emitted).isEmpty, "a watermark-closed bar is missing after the restart")
  }

  test("streaming_ohlc_hourly gives the same rows at the derived count as at 8") {
    val (derived, totals) = observed(
      SparkEntry.queries("streaming_ohlc_hourly")(spark, sf)
        .collect().map(_.toString).toSeq.sorted)
    assert(totals.stateParts == 1)
    // the same plan at exactly 8 stores, bypassing the runner's sizing
    val (eight, totals8) = observed(StreamingConf.withStatePartitions(spark, 8) {
      StreamingOhlc.hourlyBarsStream(spark, sf).writeStream
        .format("memory").queryName("sizing_bars_8").outputMode("complete")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      spark.table("sizing_bars_8").collect().map(_.toString).toSeq.sorted
    })
    assert(totals8.stateParts == 8)
    assert(derived.nonEmpty)
    assert(derived == eight)
  }
}
