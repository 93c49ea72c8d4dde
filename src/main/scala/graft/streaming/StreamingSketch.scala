package graft.streaming

import graft.ops.SketchOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming HyperLogLog register maintenance (§2.9 uplift of the batch
  * `distinct_users_hll`): each micro-batch computes its own per-(day,
  * bucket) register maxima and writes them to a register log through the
  * replay-safe foreachBatch sink; the read-back MAX-merges the log into
  * the current registers.
  *
  * MAX is associative, commutative, and idempotent, so the merged
  * registers are IDENTICAL to the batch computation's under any
  * micro-batch slicing, any duplicate delivery, and any arrival order —
  * the algebraic property that makes the sketch a streaming/incremental
  * operator for free (the same argument `streaming_ann_append` makes
  * via per-row purity). Per-batch state appended is at most
  * (days-in-batch × m) rows regardless of batch size; at 100 TB/day the
  * register log stays KB-scale while exact distinct state would grow
  * with the key space. */
object StreamingSketch {

  def hllRegistersAvailableNow(spark: SparkSession, dir: String,
                               workDir: String, m: Int,
                               maxFilesPerTrigger: Option[Int] = None)
      : DataFrame = {
    // to_date() needs the normalized ts the events stream carries: the
    // raw nanos-long footer shape broke it (round-9 registry sweep)
    val log = StreamingConf.replaySafeAvailableNow(
      StreamingConf.tableStream(spark, dir, "events", maxFilesPerTrigger),
      workDir) { b =>
      SketchOps.hllRegisters(
        b.select(to_date(col("ts")).as("trade_date"), col("user_id")),
        col("trade_date"), col("user_id"), m)
    }
    // the merge: MAX over every appended register generation
    log.groupBy(col("grp"), col("bucket"))
      .agg(max(col("r")).as("r"))
  }
}
