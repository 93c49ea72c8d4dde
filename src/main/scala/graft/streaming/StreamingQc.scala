package graft.streaming

import graft.ops.TickOps
import org.apache.spark.sql.SparkSession

/** Streaming quality-check sinks (SURVEY.md §2.9: "QC checks become
  * foreachBatch sinks"): each micro-batch of the tick stream fans out to
  * the E2 report branches — invalid rows to a quarantine table, per-symbol
  * QC counters to a summary table whose per-batch partials sum to the
  * batch report. Both tables land through the replay-safe sink
  * ([[StreamingConf.replaySafeSinks]]), so a redelivered micro-batch
  * cannot count twice.
  */
object StreamingQc {

  /** Run the QC stream to completion; returns (quarantine dir, summary
    * dir) with parquet results, partitioned by `batch_id`. */
  def runAvailableNow(spark: SparkSession, dir: String, workDir: String,
                      maxFilesPerTrigger: Option[Int] = None): (String, String) = {
    val ticks = TickOps.normalizeEvents(
      StreamingConf.tableStream(spark, dir, "events", maxFilesPerTrigger))
    val qcCols = Seq("price", "qty", "trader_id")
    StreamingConf.replaySafeSinks(ticks, workDir,
      "quarantine" -> (b => TickOps.invalidRows(b, qcCols)),
      "summary" -> (b => graft.ops.QualityOps.invalidSummary(b, qcCols, "symbol")))
    (s"$workDir/quarantine", s"$workDir/summary")
  }
}
