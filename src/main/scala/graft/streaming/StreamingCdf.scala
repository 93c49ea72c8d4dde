package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The change-data feed consumed as a STREAMING SOURCE — the streaming
  * twin of `cdf_incremental_agg` (the round-11 verdict's "CDF as a
  * streaming source"): a snapshot table's per-version change batches
  * (graft.ops.SnapshotOps.tableChanges) are spooled to files exactly as
  * a log tailer would deliver them, streamed back in micro-batches, and
  * a per-group (count, decimal-exact total) aggregate is MAINTAINED
  * from the signed deltas alone — the base table is never rescanned
  * after version 0.
  *
  * Replay safety is the engine-wide foreachBatch discipline
  * ([[StreamingConf.replaySafeAvailableNow]]): each micro-batch writes
  * its PARTIAL signed delta to a `batch_id=N`-keyed directory, a
  * redelivered batch (_SUCCESS already present) is skipped, a partial
  * directory is cleared and rewritten. Slicing invariance is
  * STRUCTURAL, not incidental: the maintained state is base + Σ(partials), and signed
  * deltas are additive — any micro-batch slicing of the same feed sums
  * to the same state (StreamingCdfSpec pins 1-file and all-at-once
  * slicings to the same rows). At 100 TB each partial is one
  * status-keyed hash-agg over one micro-batch; the merge is a sum over
  * |groups|·|batches| tiny rows. */
object StreamingCdf {

  /** Stream the change feed of the snapshot table at `path` and return
    * the maintained per-`groupCol` aggregate of `valueCol` (count +
    * 2-dp total — `cdf_incremental_agg`'s exact output contract).
    * `workDir` holds the spool, the checkpoint and the sink; a rerun over
    * it resumes the stream and returns the same rows, and a fresh
    * consumption needs a fresh `workDir`. */
  def consumeAvailableNow(spark: SparkSession, path: String,
                          workDir: String, key: String,
                          groupCol: String = "o_orderstatus",
                          valueCol: String = "o_totalprice",
                          maxFilesPerTrigger: Option[Int] = Some(1)): DataFrame = {
    import graft.ops.SnapshotOps
    val vs = SnapshotOps.versions(path)
    val spool = s"$workDir/cdf_spool"
    // spool one file per version: the file-ized feed a commit-log
    // tailer delivers (a base/checkpoint version emits no changes).
    // The WHOLE feed is one window pass — tableChanges(min, max) lags
    // per key across every version, so its per-v slices ARE the
    // per-commit feeds (pre/post images telescope exactly). ONE
    // partitioned write spools every version in a single job:
    // repartition(v) lands each commit's rows in one task, so each
    // v=N directory holds exactly one file and maxFilesPerTrigger=1
    // still slices at commit granularity — where the per-version
    // filter + coalesce(1) loop paid one write job (and one pass over
    // the cached feed) PER COMMIT (guide §2.4/§6: one exchange keyed
    // by the layout you need, files sized by the writer's partition).
    val feed = SnapshotOps
      .tableChanges(spark, path, vs.min, vs.max, key)
    // The spool is written once per work dir (guarded on _SUCCESS; a
    // killed run's partial spool is cleared and rewritten): a rerun
    // must stream the SAME files, or the file source would take
    // rewritten files as new data and fold every delta in twice.
    if (!Files.exists(Paths.get(spool, "_SUCCESS"))) {
      graft.util.Fs.deleteRec(spool)
      if (vs.size > 1)
        feed.filter(col("v") > vs.min)
          .repartition(col("v"))
          .write.partitionBy("v").mode("append").parquet(spool)
    }
    // a base-only log, or a post-base range whose writes were ALL no-ops
    // (tableChanges suppresses no-op rows), spools no data file, and the
    // reads below would throw instead of returning the base aggregate —
    // seed one empty file with the feed schema so the stream starts (and
    // contributes zero deltas); a filesystem check, no extra Spark pass
    val hasData = Files.exists(Paths.get(spool)) && {
      val walk = Files.walk(Paths.get(spool))
      try walk.anyMatch(_.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }
    if (!hasData)
      feed.limit(0).coalesce(1).write.mode("append").parquet(spool)
    def dec(c: Column) = c.cast("decimal(30,6)")
    def partial(b: DataFrame): DataFrame =
      b.select(col(groupCol),
          when(col("change_type").isin("insert", "update_postimage"),
            lit(1L)).otherwise(lit(-1L)).as("sgn"),
          col(valueCol))
        .groupBy(col(groupCol))
        .agg(sum(col("sgn")).as("dn"),
          sum(when(col("sgn") === 1L, dec(col(valueCol)))
            .otherwise(-dec(col(valueCol)))).as("dt"))
    val reader = spark.readStream.schema(spark.read.parquet(spool).schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val deltas = StreamingConf
      .replaySafeAvailableNow(reader.parquet(spool), workDir)(partial)
      .groupBy(col(groupCol))
      .agg(sum(col("dn")).as("dn"), sum(col("dt")).as("dt"))
    val base = SnapshotOps.readAsOf(spark, path, vs.min, key)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n0"), sum(dec(col(valueCol))).as("t0"))
    base.join(deltas, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        round((coalesce(col("t0"), lit(0).cast("decimal(30,6)")) +
          coalesce(col("dt"), lit(0).cast("decimal(38,6)")))
          .cast("double"), 2).as("total"))
      .filter(col("n_orders") > 0)
  }
}
