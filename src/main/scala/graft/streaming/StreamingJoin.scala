package graft.streaming

import graft.ops.TickOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream inner join (§2.9 uplift of the join family): big trades
  * joined to the same symbol's follow-on trades within a bounded
  * event-time window.
  *
  * Both sides carry a watermark and the join condition bounds b's event
  * time relative to a's, which is exactly what lets Spark expire join
  * state: a buffered left row can be dropped once the right watermark
  * passes `a_ts + window`, so state is O(rows-per-window), not O(stream).
  * An unbounded condition would make the state grow forever — the join
  * is only scale-sane BECAUSE of the time bound.
  */
object StreamingJoin {

  /** Stream-static enrichment: the tick stream joined to a static
    * dimension table. Unlike the stream-stream join this carries NO
    * state — the static side broadcasts into every micro-batch, the
    * classic reference-data enrichment shape (at scale: a dimension
    * refreshed per batch cadence, never buffered). */
  def enrichAvailableNow(spark: SparkSession, dir: String,
                         queryName: String = "streaming_enrich"): DataFrame = {
    import spark.implicits._
    val dim = Seq(
      ("click", "web"), ("view", "web"), ("purchase", "commerce"),
      ("signup", "commerce"), ("error", "ops"))
      .toDF("symbol", "sector")
    val ticks = TickOps.normalizeEvents(
      StreamingConf.tableStream(spark, dir, "events"))
    // LEFT join + default bucket: a symbol missing from the dimension
    // keeps its rows (sector 'ops'), matching the oracle's CASE ... ELSE
    // semantically — an inner join would only agree while the fixture's
    // symbol domain exactly covers the dim keys
    StreamingConf.runAvailableNow(
      ticks
        .join(org.apache.spark.sql.functions.broadcast(dim), Seq("symbol"), "left")
        .select(col("event_id"), col("symbol"),
          coalesce(col("sector"), lit("ops")).as("sector"), col("price")),
      queryName, "append")
  }

  /** Time-bounded LEFT OUTER stream-stream join over arbitrary streaming
    * frames (spec entry point): matches emit like the inner join; an
    * unmatched left row emits null-padded ONLY once the right-side
    * watermark passes `a_ts + window` — the engine's proof that no
    * partner can still arrive. Same state bound as the inner form; the
    * null-emission delay is the watermark, the price of correctness on
    * an unbounded stream (LeftOuterStreamJoinSpec exercises both
    * arms). */
  def followersLeftOuter(a: DataFrame, b: DataFrame,
                         windowSec: Int): DataFrame =
    a.join(b,
      col("symbol") === col("symbol_b") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      "leftOuter")
      .select(col("symbol"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))

  /** The time-bounded follow-on join plan, shared by both sinks. */
  private def followersPlan(spark: SparkSession, dir: String,
                            threshold: Double, windowSec: Int,
                            maxFilesPerTrigger: Option[Int]): DataFrame = {
    val a = TickOps.normalizeEvents(
        StreamingConf.tableStream(spark, dir, "events", maxFilesPerTrigger))
      .filter(col("price") >= threshold)
      .select(col("symbol"), col("event_ts").as("a_ts"),
        col("event_id").as("a_id"))
      .withWatermark("a_ts", "2 hours")
    val b = TickOps.normalizeEvents(
        StreamingConf.tableStream(spark, dir, "events", maxFilesPerTrigger))
      .select(col("symbol").as("symbol_b"), col("event_ts").as("b_ts"),
        col("event_id").as("b_id"))
      .withWatermark("b_ts", "2 hours")
    a.join(b,
        col("symbol") === col("symbol_b") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("symbol"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** Follow-on trades: for each tick with price ≥ `threshold` (stream A),
    * every tick of the same symbol in (a_ts, a_ts + windowSec] (stream B).
    * AvailableNow + append memory sink as the harness adapter. */
  def bigTradeFollowersAvailableNow(spark: SparkSession, dir: String,
                                    threshold: Double = 300.0,
                                    windowSec: Int = 3600,
                                    queryName: String = "streaming_join"): DataFrame = {
    // INNER stream-stream join matches emit in the batch that pairs
    // them — the trailing no-data micro-batch exists only to advance
    // the watermark for STATE CLEANUP (and for outer-join null
    // emission, which this adapter does not use). For a one-shot
    // AvailableNow consumption that terminates right after, that
    // final batch re-runs the whole join plan to produce zero rows —
    // measured r15: 0.9 s of the row's 3.6 s. Disable it HERE only;
    // the restartable file sink (bigTradeFollowersToFiles) and the
    // left-outer spec path keep the default (cleanup and null
    // emission matter when state outlives the run).
    StreamingConf.withConf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      StreamingConf.runAvailableNow(
        followersPlan(spark, dir, threshold, windowSec, None), queryName, "append")
    }
  }

  /** PRODUCTION sink for the stream-stream join: append parquet + durable
    * checkpoint. Restartable — buffered join state (rows awaiting
    * partners inside the time bound) lives in the state store, so a
    * killed-and-resumed run emits exactly the pairs a single run would
    * (StreamingSinkSpec proves it). Returns the pairs path. */
  def bigTradeFollowersToFiles(spark: SparkSession, dir: String,
                               outDir: String,
                               threshold: Double = 300.0,
                               windowSec: Int = 3600,
                               queryName: String = "streaming_join_files",
                               maxFilesPerTrigger: Option[Int] = None): String = {
    StreamingConf.runAvailableNow(
      followersPlan(spark, dir, threshold, windowSec, maxFilesPerTrigger))(_
        .format("parquet")
        .option("path", s"$outDir/pairs")
        .option("checkpointLocation", s"$outDir/checkpoint")
        .queryName(queryName)
        .outputMode("append"))
    s"$outDir/pairs"
  }
}
