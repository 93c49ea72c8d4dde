package graft.streaming

import graft.ops.TickOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured-Streaming twin of the batch OHLC path (SURVEY.md §2.9).
  *
  * The reference is a daily batch pipeline; its idiomatic Spark uplift is
  * a `readStream` over the landing directory with `Trigger.AvailableNow`
  * (process everything, then stop) — the batch `TickOps.ohlcBars` itself,
  * now incremental: watermarked state, late data dropped after 1 hour,
  * bars emitted on watermark advance.
  * In production the sink is a partitioned table and the trigger a
  * schedule; here the memory sink lets the driver read the result back
  * synchronously.
  */
object StreamingOhlc {

  /** The incremental hourly-bars plan (shared by every sink): watermarked
    * tumbling-window aggregation over the normalized tick stream. */
  def hourlyBarsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ticks = TickOps.normalizeEvents(
      StreamingConf.tableStream(spark, dir, "events", maxFilesPerTrigger))
    // the batch bars on a watermarked stream: the (ts, event_id) tie key
    // means a stream replaying same-timestamp ticks in any micro-batch
    // order finalizes identical bars
    TickOps.ohlcBars(ticks.withWatermark("event_ts", "1 hour"), "1 hour")
  }

  /** PRODUCTION sink: append-mode parquet files + durable checkpoint —
    * bars land once the watermark closes them (the trailing open bars stay
    * in state, exactly once-finalized semantics). Returns the bars path. */
  def hourlyOhlcToFiles(spark: SparkSession, dir: String, outDir: String,
                        queryName: String = "streaming_ohlc_files",
                        maxFilesPerTrigger: Option[Int] = None): String = {
    StreamingConf.runAvailableNow(
      hourlyBarsStream(spark, dir, maxFilesPerTrigger))(_
        .format("parquet")
        .option("path", s"$outDir/bars")
        .option("checkpointLocation", s"$outDir/checkpoint")
        .queryName(queryName)
        .outputMode("append"))
    s"$outDir/bars"
  }

  /** Harness adapter: complete-mode memory sink so the driver can read
    * the FULL result (including still-open trailing bars) back
    * synchronously for the oracle compare. */
  def hourlyOhlcAvailableNow(spark: SparkSession, dir: String,
                             queryName: String = "streaming_ohlc"): DataFrame =
    StreamingConf.runAvailableNow(hourlyBarsStream(spark, dir), queryName,
      "complete")
}
