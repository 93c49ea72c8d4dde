package graft.streaming

import graft.ops.TickOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quality-check sinks (SURVEY.md §2.9: "QC checks become
  * foreachBatch sinks"): each micro-batch of the tick stream fans out to
  * the E2 report branches — invalid rows appended to a quarantine table,
  * per-symbol QC counters merged into a running summary. foreachBatch
  * gives batch-DataFrame semantics (joins, overwrite/append sinks) per
  * micro-batch, which is exactly the reference's per-day report shape
  * replayed incrementally.
  */
object StreamingQc {

  /** Run the QC stream to completion; returns (quarantine dir, summary
    * dir) with parquet results. */
  def runAvailableNow(spark: SparkSession, dir: String, workDir: String,
                      maxFilesPerTrigger: Option[Int] = None): (String, String) = {
    val quarantine = s"$workDir/quarantine"
    val summary = s"$workDir/summary"
    val ticks = TickOps.normalizeEvents(
      StreamingConf.tableStream(spark, dir, "events", maxFilesPerTrigger))
    val qcCols = Seq("price", "qty", "trader_id")
    StreamingConf.runAvailableNow(spark, ticks.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.cache()
        TickOps.invalidRows(b, qcCols)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(quarantine)
        graft.ops.QualityOps.invalidSummary(b, qcCols, "symbol")
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(summary)
        b.unpersist()
        ()
      })
    (quarantine, summary)
  }
}
