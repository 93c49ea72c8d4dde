package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic per-row-pure document-stream apply — the machinery behind the
  * streaming twins of batch document passes (`streaming_pii_scan`,
  * `streaming_tokenize`): the documents table streams in micro-batches,
  * each batch runs the SAME pure per-row transform the batch query uses,
  * and results land in [[StreamingConf.replaySafeAvailableNow]]'s
  * `batch_id=N`-keyed sink.
  *
  * Because the transform is per-row pure (no state, no watermark), any
  * micro-batch slicing yields the identical row set and the BATCH
  * oracle applies verbatim to the streamed result; a redelivered batch
  * cannot append duplicate rows. */
object StreamingDocApply {

  /** Stream `dir`'s documents through `transform` into a sink under
    * `workDir` and return the read-back result. `transform` must be
    * per-row pure. */
  def applyAvailableNow(spark: SparkSession, dir: String, workDir: String,
                        transform: DataFrame => DataFrame,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame =
    StreamingConf.replaySafeAvailableNow(StreamingConf.tableStream(
      spark, dir, "documents", maxFilesPerTrigger), workDir)(transform)
}
