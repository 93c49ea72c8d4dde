package graft.streaming

import graft.ops.SimilarityOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN index maintenance (§2.9 uplift of the batch
  * `ann_index_append` move): an arriving vector stream assigned per
  * micro-batch against the FROZEN two-level quantizer trained on the
  * historical corpus — `SimilarityOps.ivf2AssignBatchNorm` inside
  * the replay-safe foreachBatch sink, the same machinery as the
  * streaming incremental dedup screen.
  *
  * Assignment is a per-vector pure function of the frozen
  * (superCents, children) tables, so the result is IDENTICAL under any
  * micro-batch slicing and the batch oracle applies unchanged — no
  * state, no watermark; the only state is the index version pinned at
  * query start. Per-batch cost is O(|batch|·(k1+k2)) comparisons plus
  * one broadcast join on the child table: the continuous form of the
  * daily-ingest append that scales with the stream rate, never the
  * corpus. */
object StreamingAnn {

  def appendAvailableNow(spark: SparkSession, dir: String, workDir: String,
                         superCents: DataFrame, children: DataFrame,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame =
    StreamingConf.replaySafeAvailableNow(
      StreamingConf.tableStream(spark, dir, "embeddings", maxFilesPerTrigger)
        .filter(col("vec_id") % 5 === 0), workDir) { b =>
      SimilarityOps.ivf2AssignBatchNorm(
        SimilarityOps.normalizedCorpus(b), superCents, children)
    }
}
