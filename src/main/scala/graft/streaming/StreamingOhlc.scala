package graft.streaming

import graft.ops.TickOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming twin of the batch OHLC path (SURVEY.md §2.9).
  *
  * The reference is a daily batch pipeline; its idiomatic Spark uplift is
  * a `readStream` over the landing directory with `Trigger.AvailableNow`
  * (process everything, then stop) — the SAME windowed aggregation
  * operator as the batch `ohlcBars`, now incremental: watermarked state,
  * late data dropped after 1 hour, bars emitted on watermark advance.
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
    // (ts, event_id) composite argmin/argmax key — the batch twin's
    // tie-break, so a stream replaying same-timestamp ticks in any
    // micro-batch order finalizes identical bars
    val key = graft.ops.Determinism.tsTieKey(col("event_ts"), col("event_id"))
    ticks
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour").as("w"), col("symbol"))
      .agg(
        min_by(col("price"), key).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), key).as("close"),
        count(lit(1)).as("n_ticks"))
      .select(col("w.start").as("bar_start"), col("symbol"),
        col("open"), col("high"), col("low"), col("close"), col("n_ticks"))
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
