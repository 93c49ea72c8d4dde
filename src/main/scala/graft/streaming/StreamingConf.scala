package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.Collections

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The streaming module's shared machinery: the one AvailableNow runner
  * every streaming query goes through, the one replay-safe foreachBatch
  * sink every per-batch-pure operator writes through, and the one
  * fixture-table stream reader.
  *
  * Streaming-query sizing: `spark.sql.shuffle.partitions` doubles as the
  * STATE STORE count for stateful streaming, and every micro-batch opens,
  * writes and commits every store, so the per-trigger cost scales with
  * stores, not data. The runner sizes the count from the stream's own
  * input ([[statePartitions]]): the bytes in the backlog of its file
  * sources over `spark.sql.adaptive.advisoryPartitionSizeInBytes` (the
  * size AQE already aims a batch shuffle partition at), clamped to
  * [1, the session's `spark.sql.shuffle.partitions`]. The count is fixed
  * at the query's first checkpoint: a restart keeps the count its offset
  * log recorded, whatever the backlog then, so a daily `AvailableNow` run
  * is sized by one day's backlog. The fixtures (2 MB of events at sf0.1)
  * get one store. Measured on perfbench's traced `etl_daily` (sf0.01,
  * `local[4]`), `streaming_ohlc_hourly`'s `addBatch` took 1.04–1.09 s at
  * the former fixed 8 stores and 0.66–0.79 s at one.
  * foreachBatch operators run their per-batch work at the same width:
  * each micro-batch carries about one file of data.
  */
private[graft] object StreamingConf {

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
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
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

  /** Run `stream` under `Trigger.AvailableNow` (process everything
    * available, then stop) into the sink `sink` configures, with
    * [[statePartitions]] state stores, and wait for it to finish. */
  def runAvailableNow(stream: DataFrame)
                     (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    withStatePartitions(stream.sparkSession, statePartitions(stream)) {
      sink(stream.writeStream).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }

  /** Memory-sink form, the harness adapter: run `stream` into the
    * in-memory table `queryName` and return that table, so the driver
    * reads the result back synchronously. */
  def runAvailableNow(stream: DataFrame, queryName: String,
                      outputMode: String): DataFrame = {
    runAvailableNow(stream)(
      _.format("memory").queryName(queryName).outputMode(outputMode))
    stream.sparkSession.table(queryName)
  }

  /** The state-store count for `stream`: the bytes in the backlog of its
    * file sources (every streaming file source in its plan, listed now)
    * over AQE's advisory partition size, rounded up, clamped to
    * [1, `spark.sql.shuffle.partitions`]. A source that is not a file
    * source adds no bytes. */
  def statePartitions(stream: DataFrame): Int = {
    val spark = stream.sparkSession
    val conf = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    val backlog = stream.queryExecution.analyzed.collect {
      case r: StreamingRelation => r.dataSource.options.get("path").toSeq ++ r.dataSource.paths
    }.flatten.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoop)
      Option(fs.globStatus(path)).toSeq.flatten
        .map(s => fs.getContentSummary(s.getPath).getLength).sum
    }.sum
    val target = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    math.min(conf.numShufflePartitions.toLong,
      math.max(1L, (backlog + target - 1) / target)).toInt
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
    replaySafeSinks(stream, workDir, "sink" -> transform)
    stream.sparkSession.read.parquet(s"$workDir/sink").drop("batch_id")
  }

  /** [[replaySafeAvailableNow]] for an operator that lands several tables
    * per micro-batch: each `(name, transform)` lands under
    * `workDir/name/batch_id=N` with the same seed, `_SUCCESS` skip and
    * checkpoint (`workDir/ckpt`); the micro-batch is cached while its
    * tables are written. Nothing is read back. */
  def replaySafeSinks(stream: DataFrame, workDir: String,
                      sinks: (String, DataFrame => DataFrame)*): Unit = {
    def land(batch: DataFrame, batchId: Long): Unit =
      sinks.foreach { case (name, transform) =>
        val dest = s"$workDir/$name/batch_id=$batchId"
        if (!Files.exists(Paths.get(dest, "_SUCCESS")))
          transform(batch).write.mode("overwrite").parquet(dest)
      }
    land(stream.sparkSession.createDataFrame(
      Collections.emptyList[Row](), stream.schema), -1)
    runAvailableNow(stream)(_
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (sinks.size == 1) land(b, batchId)
        else {
          b.persist()
          try land(b, batchId) finally b.unpersist()
        }
      }
      .option("checkpointLocation", s"$workDir/ckpt"))
  }
}
