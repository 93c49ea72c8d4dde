package graft

import graft.ops.TickOps
import graft.streaming.StreamingOhlc
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PRODUCTION streaming sink path: append-mode parquet files with a
  * durable checkpoint (the memory sink is only the harness adapter).
  * Append mode finalizes a bar when the watermark passes its window end,
  * so the file sink must contain exactly batch-identical bars for every
  * watermark-closed window; trailing open bars stay in state.
  */
class StreamingSinkSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def deleteRec(dir: String): Unit = graft.util.Fs.deleteRec(dir)

  test("file sink emits watermark-closed bars identical to the batch twin") {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_stream_files"
    deleteRec(out)
    val path = StreamingOhlc.hourlyOhlcToFiles(spark, sf, out)
    val emitted = spark.read.parquet(path)
    val batch = TickOps.ohlcBars(
      TickOps.normalizeEvents(Tables.events(spark, sf)), "1 hour")

    // every emitted bar is bit-identical to its batch twin
    assert(emitted.count() > 0, "file sink emitted nothing")
    assert(emitted.except(batch).isEmpty,
      "file sink emitted a bar the batch plan does not produce")

    // and it covers at least every bar strictly older than the final
    // watermark (max event time - 1h delay), i.e. only trailing bars may
    // still be open in state
    val maxTs = TickOps.normalizeEvents(Tables.events(spark, sf))
      .agg(max(col("event_ts"))).first().getTimestamp(0)
    val closed = batch.filter(
      col("bar_start") + expr("INTERVAL 2 HOURS") <= lit(maxTs))
    assert(closed.except(emitted).isEmpty,
      "a watermark-closed bar is missing from the file sink")
  }

  /** Stage the events table as 4 chronological parquet files so
    * maxFilesPerTrigger=1 yields 4 real micro-batches (range partitions
    * are ordered by part number; the file source processes equal-modtime
    * files in path order → chronological). */
  private def stageMultiFile(): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_multibatch"
    deleteRec(base)
    // keep ts as the raw ns-long (the stream reader's schema), not the
    // µs-timestamp Tables.events surfaces
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf/events.parquet")
      .repartitionByRange(4, col("ts"))
      .write.parquet(s"$base/events.parquet")
    // the file source orders by (modTime, path); parallel write finish
    // times are arbitrary, so pin modTimes to the part order (range
    // partitions ascend by part number) to make batches chronological
    val parts = new java.io.File(s"$base/events.parquet")
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 60000L)
    }
    base
  }

  test("multi-batch streaming: watermark advances across batches; bars match the batch twin") {
    val staged = stageMultiFile()
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_stream_mb"
    deleteRec(out)
    val path = StreamingOhlc.hourlyOhlcToFiles(spark, staged, out,
      queryName = "mb_bars", maxFilesPerTrigger = Some(1))
    // the run really was incremental: one offset commit per file
    val nBatches = new java.io.File(s"$out/checkpoint/offsets")
      .list().count(!_.endsWith(".tmp"))
    assert(nBatches >= 4, s"expected >=4 micro-batches, got $nBatches")

    val emitted = spark.read.parquet(path)
    val batch = TickOps.ohlcBars(
      TickOps.normalizeEvents(Tables.events(spark, sf)), "1 hour")
    // append mode across 4 watermark advances: everything emitted is a
    // true bar, and every bar the final watermark closed was emitted
    assert(emitted.count() > 0)
    assert(emitted.except(batch).isEmpty,
      "multi-batch emitted a bar the batch plan does not produce")
    val maxTs = TickOps.normalizeEvents(Tables.events(spark, sf))
      .agg(max(col("event_ts"))).first().getTimestamp(0)
    val closed = batch.filter(
      col("bar_start") + expr("INTERVAL 2 HOURS") <= lit(maxTs))
    assert(closed.except(emitted).isEmpty,
      "a watermark-closed bar is missing after the multi-batch run")
  }

  test("multi-batch streaming dedup still equals the batch DISTINCT") {
    val staged = stageMultiFile()
    val streamed = graft.streaming.StreamingDedup
      .distinctTicksAvailableNow(spark, staged, queryName = "mb_dedup",
        maxFilesPerTrigger = Some(1))
    val batch = TickOps.normalizeEvents(Tables.events(spark, sf))
      .select(col("symbol"), date_trunc("second", col("event_ts")).as("ts_sec"))
      .distinct()
    // chronological batches + 24h watermark delay: no key is evicted
    // before its duplicates arrive, so the incremental result is exact
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("checkpointed restart is exactly-once: late-arriving files extend, never duplicate") {
    // stage all 4 chronological files, but EXPOSE only the first two;
    // run to completion; then expose the rest and re-run with the SAME
    // checkpoint — the restarted query must pick up only the new files
    val staged = stageMultiFile()
    val exposed = s"${System.getProperty("java.io.tmpdir")}/graft_restart"
    deleteRec(exposed)
    val srcDir = new java.io.File(s"$staged/events.parquet")
    val dstDir = new java.io.File(s"$exposed/events.parquet")
    dstDir.mkdirs()
    val parts = srcDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    def expose(f: java.io.File): Unit = {
      val d = new java.io.File(dstDir, f.getName)
      java.nio.file.Files.copy(f.toPath, d.toPath)
      d.setLastModified(f.lastModified())
    }
    parts.take(2).foreach(expose)

    val out = s"${System.getProperty("java.io.tmpdir")}/graft_stream_restart_out"
    deleteRec(out)
    val path = StreamingOhlc.hourlyOhlcToFiles(spark, exposed, out,
      queryName = "restart_bars_1", maxFilesPerTrigger = Some(1))
    val firstRun = spark.read.parquet(path).count()

    parts.drop(2).foreach(expose)
    StreamingOhlc.hourlyOhlcToFiles(spark, exposed, out,
      queryName = "restart_bars_2", maxFilesPerTrigger = Some(1))

    val emitted = spark.read.parquet(path)
    assert(emitted.count() > firstRun,
      "restart did not process the late-arriving files")
    // exactly-once: no bar appears twice...
    assert(emitted.groupBy("bar_start", "symbol").count()
      .filter(col("count") > 1).isEmpty,
      "restart re-emitted a bar already finalized before the restart")
    // ...every emitted bar is a true batch bar, and everything the final
    // watermark closed is present
    val batch = TickOps.ohlcBars(
      TickOps.normalizeEvents(Tables.events(spark, sf)), "1 hour")
    assert(emitted.except(batch).isEmpty,
      "restarted stream emitted a bar the batch plan does not produce")
    val maxTs = TickOps.normalizeEvents(Tables.events(spark, sf))
      .agg(max(col("event_ts"))).first().getTimestamp(0)
    val closed = batch.filter(
      col("bar_start") + expr("INTERVAL 2 HOURS") <= lit(maxTs))
    assert(closed.except(emitted).isEmpty,
      "a watermark-closed bar is missing after the restart")
  }

  test("multi-batch streaming QC: per-batch partials sum to the batch report") {
    val staged = stageMultiFile()
    val work = s"${System.getProperty("java.io.tmpdir")}/graft_mb_qc"
    deleteRec(work)
    val (_, summary) = graft.streaming.StreamingQc
      .runAvailableNow(spark, staged, work, maxFilesPerTrigger = Some(1))
    val summed = spark.read.parquet(summary)
      .groupBy(col("symbol"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_invalid")).as("n_invalid"))
    // ran incrementally: partials from >= 4 distinct batches
    assert(spark.read.parquet(summary)
      .select("batch_id").distinct().count() >= 4)
    val t = TickOps.normalizeEvents(Tables.events(spark, sf))
    val batch = graft.ops.QualityOps
      .invalidSummary(t, Seq("price", "qty", "trader_id"), "symbol")
    assert(summed.except(batch).isEmpty && batch.except(summed).isEmpty)
  }

  test("streaming dedup equals the batch DISTINCT on the single-batch fixture") {
    val streamed = graft.streaming.StreamingDedup
      .distinctTicksAvailableNow(spark, sf, queryName = "dedup_spec")
    val batch = TickOps.normalizeEvents(Tables.events(spark, sf))
      .select(col("symbol"), date_trunc("second", col("event_ts")).as("ts_sec"))
      .distinct()
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("stream-stream join survives a checkpointed restart with an identical pair set") {
    // first run sees only the chronologically first half of the stream;
    // the resumed run (same checkpoint) sees the rest. Buffered join
    // state must survive the restart: an A-row from the first run that
    // finds its follower only in the second run still emits exactly one
    // pair, and nothing emits twice.
    val staged = stageMultiFile()
    val exposed = s"${System.getProperty("java.io.tmpdir")}/graft_join_restart"
    deleteRec(exposed)
    val srcDir = new java.io.File(s"$staged/events.parquet")
    val dstDir = new java.io.File(s"$exposed/events.parquet")
    dstDir.mkdirs()
    val parts = srcDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    def expose(f: java.io.File): Unit = {
      val d = new java.io.File(dstDir, f.getName)
      java.nio.file.Files.copy(f.toPath, d.toPath)
      d.setLastModified(f.lastModified())
    }
    parts.take(2).foreach(expose)

    val out = s"${System.getProperty("java.io.tmpdir")}/graft_join_restart_out"
    deleteRec(out)
    val path = graft.streaming.StreamingJoin.bigTradeFollowersToFiles(
      spark, exposed, out, threshold = 100.0, windowSec = 3600,
      queryName = "join_restart_1", maxFilesPerTrigger = Some(1))
    val firstRun = spark.read.parquet(path).count()

    parts.drop(2).foreach(expose)
    graft.streaming.StreamingJoin.bigTradeFollowersToFiles(
      spark, exposed, out, threshold = 100.0, windowSec = 3600,
      queryName = "join_restart_2", maxFilesPerTrigger = Some(1))
    val emitted = spark.read.parquet(path)
    assert(emitted.count() > firstRun,
      "restart did not produce the second half's pairs")
    // exactly-once across the restart: no (a_id, b_id) pair twice
    assert(emitted.groupBy("a_id", "b_id").count()
      .filter(col("count") > 1).isEmpty,
      "restart re-emitted a pair")
    // and the final pair set is IDENTICAL to the batch twin — including
    // pairs whose A side arrived before the restart and B side after
    val t = TickOps.normalizeEvents(Tables.events(spark, sf))
    val a = t.filter(col("price") >= 100.0)
      .select(col("symbol"), col("event_ts").as("a_ts"), col("event_id").as("a_id"))
    val b = t.select(col("symbol").as("symbol_b"),
      col("event_ts").as("b_ts"), col("event_id").as("b_id"))
    val batch = a.join(b,
        col("symbol") === col("symbol_b") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("symbol"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
    assert(emitted.except(batch).isEmpty && batch.except(emitted).isEmpty,
      "restarted join diverged from the batch twin")
    // the cross-restart case really occurred: at least one pair whose
    // sides were processed in different runs
    assert(emitted.count() > firstRun && firstRun > 0,
      "fixture did not exercise state across the restart")
  }

  test("stream-stream join equals the batch time-bounded join") {
    val streamed = graft.streaming.StreamingJoin
      .bigTradeFollowersAvailableNow(spark, sf, threshold = 100.0,
        windowSec = 3600, queryName = "join_spec")
    val t = TickOps.normalizeEvents(Tables.events(spark, sf))
    val a = t.filter(col("price") >= 100.0)
      .select(col("symbol"), col("event_ts").as("a_ts"), col("event_id").as("a_id"))
    val b = t.select(col("symbol").as("symbol_b"),
      col("event_ts").as("b_ts"), col("event_id").as("b_id"))
    val batch = a.join(b,
        col("symbol") === col("symbol_b") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("symbol"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
    assert(streamed.count() > 0, "no join matches — widen the window")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  /** documents, embeddings and events as 4 files each, with modTimes
    * pinned to the part order, so maxFilesPerTrigger=1 yields 4
    * micro-batches and a rerun slices them the same way. */
  private lazy val replaySrc: String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_replay_src"
    deleteRec(base)
    Seq("documents" -> Tables.documents(spark, sf),
        "embeddings" -> Tables.embeddings(spark, sf),
        "events" -> Tables.events(spark, sf)).foreach { case (t, df) =>
      df.repartition(4).write.parquet(s"$base/$t.parquet")
      new java.io.File(s"$base/$t.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1700000000000L + i * 60000L)
        }
    }
    base
  }

  /** Every operator on the replay-safe foreachBatch sink, as
    * (name, work dir => streamed result). Each lands its micro-batches
    * under `sink/batch_id=N` of its work dir, except QC, which lands two
    * tables ([[sinkTables]]); its result is `streaming_qc_summary`'s
    * per-symbol sums. */
  private lazy val sinkInputs: Seq[(String, String => org.apache.spark.sql.DataFrame)] = {
    import graft.streaming._
    val one = Some(1)
    val (superCents, children, _) = graft.queries.Staged.annIndex(spark, sf, 2, 2)
    Seq(
      "qc" -> (w => {
        val (_, summary) = StreamingQc.runAvailableNow(spark, replaySrc, w, one)
        spark.read.parquet(summary).groupBy(col("symbol"))
          .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_invalid")).as("n_invalid"))
      }),
      "pii" -> (w => StreamingPii.scanAvailableNow(spark, replaySrc, w,
        _.select(col("doc_id"), col("text")), one)),
      "ann append" -> (w => StreamingAnn.appendAvailableNow(spark, replaySrc,
        w, superCents, children, one)),
      "dedup screen" -> (w => StreamingDedup.incrementalScreenAvailableNow(
        spark, replaySrc, w, 3, 16, 2, 0.5, one)),
      "hll registers" -> (w => StreamingSketch.hllRegistersAvailableNow(
        spark, replaySrc, w, 64, one)),
      "cdf consumer" -> (w => StreamingCdf.consumeAvailableNow(spark,
        graft.queries.Staged.snapshotTable(spark, sf), w, "o_orderkey")))
  }

  private def sinkTables(name: String): Seq[String] =
    if (name == "qc") Seq("quarantine", "summary") else Seq("sink")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("streaming PII sink is replay-safe: redelivered batches don't duplicate") {
    sinkInputs.foreach { case (name, run) =>
      val work = s"${System.getProperty("java.io.tmpdir")}/graft_replay_${name.replace(' ', '_')}"
      deleteRec(work)
      val first = rows(run(work))
      assert(first.nonEmpty, s"$name: first run returned nothing")
      // wipe the checkpoint but keep the sink: the rerun redelivers every
      // micro-batch with the same batchIds — exactly foreachBatch's
      // at-least-once failure mode. The sink must skip the batches it
      // already committed instead of appending duplicates.
      deleteRec(s"$work/ckpt")
      val again = rows(run(work))
      if (again != first)
        fail(s"$name: replayed batches changed the result: ${first.size} " +
          s"rows first, ${again.size} after the replay")
    }
  }

  test("streaming sink restart after a crash mid-batch returns the first run's rows") {
    sinkInputs.foreach { case (name, run) =>
      val work = s"${System.getProperty("java.io.tmpdir")}/graft_crash_${name.replace(' ', '_')}"
      deleteRec(work)
      val first = rows(run(work))
      assert(first.nonEmpty, s"$name: first run returned nothing")
      // the crash: the last batch's output is partly written (files, no
      // _SUCCESS) and its commit never reached the checkpoint, so the
      // restart re-executes that batch into its partial directories
      val commits = new java.io.File(s"$work/ckpt/commits")
      val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      Seq(s"$last", s".$last.crc").foreach(f => new java.io.File(commits, f).delete())
      sinkTables(name).foreach { table =>
        val partial = s"$work/$table/batch_id=$last"
        assert(new java.io.File(s"$partial/_SUCCESS").delete(),
          s"$name: batch $last left no _SUCCESS to remove in $table")
        new java.io.File(s"$partial/._SUCCESS.crc").delete()
      }
      val again = rows(run(work))
      if (again != first)
        fail(s"$name: restart after a partial batch $last changed the " +
          s"result: ${first.size} rows first, ${again.size} after the restart")
    }
  }
}
