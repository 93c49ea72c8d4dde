package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.Collections

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The streaming module's shared machinery: the one AvailableNow runner
  * every streaming query goes through, the one replay-safe foreachBatch
  * sink every per-batch-pure operator writes through, and the one
  * fixture-table stream reader.
  *
  * Streaming-query sizing: `spark.sql.shuffle.partitions` doubles as the
  * STATE STORE count for stateful streaming (fixed at the first
  * checkpoint), and every micro-batch commits every store — so a
  * stateful query's partition count should track its stateful-key
  * throughput, not the batch engine's scan width. The fixtures carry a
  * few active keys per store at 32 partitions and pay ~3× the runtime in
  * commit overhead (measured: 13.7 s → 4.0 s on the stream-stream join
  * at sf0.1 going 32 → 8). On a cluster the same sizing is done
  * per-query; 8 here keeps local runs honest without changing results.
  * foreachBatch operators get the same width: each micro-batch carries
  * ~one file of data and the per-trigger cost scales with tasks, not
  * data (round-12 experiment: the foreachBatch family ran ~2× slower at
  * local[32] than at local[8] purely from tasks per trigger).
  */
private[graft] object StreamingConf {

  val StateParts = 8

  /** Run `body` (start + await a streaming query) with the shuffle
    * partition count temporarily sized for state, restoring after.
    *
    * CONTRACT — not concurrency-safe on a shared session: the conf is
    * session-global, so any query PLANNED on `spark` while `body` runs
    * would also plan at `n` shuffle partitions. Spark offers no
    * per-query override (the state-store count is captured from the
    * session conf at the first checkpoint), so per-query isolation
    * means a per-query session: a caller that must plan batch work
    * concurrently with a streaming run should hand the streaming
    * module `spark.newSession()` (shares the context and the
    * warehouse, owns its SQLConf) and build the stream on THAT — the
    * production shape, one session per streaming job. The engine's
    * own query registry executes one query at a time per session
    * (Verify/Bench are sequential), so the in-place toggle is safe
    * everywhere it is used here. */
  def withStatePartitions[T](spark: SparkSession, n: Int = StateParts)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Run `body` with the session conf `key` set to `value`, then leave
    * the session as it was: the previous value back, or the key unset
    * if it had none (restoring the default explicitly would leave a
    * setting behind). The same single-session contract as
    * [[withStatePartitions]]. */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run `writer`'s query under `Trigger.AvailableNow` (process
    * everything available, then stop) at state-sized shuffle width and
    * wait for it to finish. */
  def runAvailableNow(spark: SparkSession, writer: DataStreamWriter[_]): Unit =
    withStatePartitions(spark) {
      writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }

  /** Memory-sink form, the harness adapter: run `stream` into the
    * in-memory table `queryName` and return that table, so the driver
    * reads the result back synchronously. */
  def runAvailableNow(stream: DataFrame, queryName: String,
                      outputMode: String): DataFrame = {
    val spark = stream.sparkSession
    runAvailableNow(spark, stream.writeStream.format("memory")
      .queryName(queryName).outputMode(outputMode))
    spark.table(queryName)
  }

  /** The fixture table `table` of `dir` as a file stream. The file-stream
    * source wants a directory or glob, not a bare file, so the glob
    * matches exactly the table. Streaming requires an explicit schema: it
    * is read from the parquet footer, the same source of truth as the
    * batch reader, so a fixture schema change cannot silently null out
    * columns here. Events go through [[graft.Tables.eventsOnDiskSchema]]
    * and the shared ns→µs shim [[graft.Tables.normalizeTs]].
    * `maxFilesPerTrigger` bounds each micro-batch (multi-file fixtures
    * then exercise real cross-batch watermark advancement instead of one
    * catch-all batch). */
  def tableStream(spark: SparkSession, dir: String, table: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val events = table == "events"
    val schema =
      if (events) graft.Tables.eventsOnDiskSchema(spark, dir)
      else graft.Tables.load(spark, dir, table).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(s"$dir/$table.parque*")
    if (events) graft.Tables.normalizeTs(raw) else raw
  }

  /** Stream `stream` through the per-batch `transform` into a REPLAY-SAFE
    * parquet sink under `workDir` and return the read-back result.
    *
    * Exactly-once from a replayable source plus an idempotent sink: each
    * micro-batch lands in its own `batch_id=N` directory. A directory
    * that already carries `_SUCCESS` is a redelivered micro-batch
    * (foreachBatch's at-least-once contract, or a restart that lost the
    * batch's commit) and is skipped; a directory without it is the
    * partial output of a crash mid-write, and the overwrite clears it
    * before rewriting. So a redelivery cannot append rows twice.
    * `transform` must be per-batch pure: a replayed batch carries the
    * same rows, so it must produce the same output.
    *
    * The sink is seeded with `transform` of an empty frame carrying the
    * stream's schema, so a stream that delivers no rows reads back empty
    * instead of path-not-found. `batch_id` is sink bookkeeping
    * (partition-discovered) and is dropped from the result. */
  def replaySafeAvailableNow(stream: DataFrame, workDir: String)
                            (transform: DataFrame => DataFrame): DataFrame = {
    val spark = stream.sparkSession
    val out = s"$workDir/sink"
    transform(spark.createDataFrame(Collections.emptyList[Row](), stream.schema))
      .write.mode("overwrite").parquet(s"$out/batch_id=-1")
    runAvailableNow(spark, stream.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val dest = s"$out/batch_id=$batchId"
        if (!Files.exists(Paths.get(dest, "_SUCCESS")))
          transform(b).write.mode("overwrite").parquet(dest)
      }
      .option("checkpointLocation", s"$workDir/ckpt"))
    spark.read.parquet(out).drop("batch_id")
  }
}
