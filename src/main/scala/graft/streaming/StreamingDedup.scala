package graft.streaming

import graft.ops.TickOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication (§2.9 uplift of the dedup family):
  * `dropDuplicatesWithinWatermark` over the normalized tick stream.
  *
  * The watermark bounds the dedup state — keys older than the watermark
  * delay are evicted, so state is O(keys-per-delay-window), not O(all
  * keys ever): the only dedup shape that survives an unbounded stream.
  * Within the watermark the dedup is exact; a duplicate arriving later
  * than the delay after its first occurrence could be re-emitted (the
  * documented watermark trade).
  *
  * The key is (symbol, second-truncated ts) projected BEFORE the dedup,
  * so the state stores only the key pair, never whole rows, and the
  * emitted result is key-deterministic (keeping whole first-seen rows
  * would make non-key columns arrival-order-dependent — not
  * oracle-comparable, and a trap at scale where arrival order is the
  * shuffle's choice).
  */
object StreamingDedup {

  /** Streaming incremental dedup screen (§2.9 uplift of
    * [[graft.ops.DedupOps.dedupIncrementalStaged]]): an arriving
    * document stream screened per micro-batch against the STATIC
    * historical corpus's staged artifacts (digests, banded MinHash
    * signatures, shingle arrays — cached once, reused by every batch).
    *
    * The screen is per-document independent — no batch-vs-batch or
    * cross-batch pairing — so the result is IDENTICAL under any
    * micro-batch slicing, and the batch oracle applies unchanged: the
    * property that makes the operator safe to run continuously (no
    * state, no watermark, nothing to evict; the only state is the
    * static corpus version pinned at query start).
    *
    * Batch results land in the replay-safe foreachBatch sink (the op is
    * a multi-join batch transformation, exactly what foreachBatch exists
    * for); the returned frame reads the sink back. */
  def incrementalScreenAvailableNow(spark: SparkSession, dir: String,
                                    workDir: String, k: Int, nHashes: Int,
                                    bandSize: Int, threshold: Double,
                                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.ops.DedupOps
    val docs = graft.Tables.documents(spark, dir)
    val (digests, bands, shingles) = DedupOps.incrementalCorpusIndex(
      docs.filter(col("doc_id") % 5 =!= 0), k, nHashes, bandSize)
    Seq(digests, bands, shingles).foreach(_.cache())
    val screened = StreamingConf.replaySafeAvailableNow(
      StreamingConf.tableStream(spark, dir, "documents", maxFilesPerTrigger)
        .filter(col("doc_id") % 5 === 0), workDir) { b =>
      DedupOps.dedupIncrementalStaged(digests, bands, shingles, b,
        k, nHashes, bandSize, threshold)
    }
    Seq(digests, bands, shingles).foreach(_.unpersist())
    screened
  }

  /** Distinct (symbol, second) pairs from the event stream; AvailableNow
    * + append memory sink as the harness adapter. On the single-file
    * fixture everything lands in one micro-batch, so the watermark never
    * evicts mid-run and the result equals the batch DISTINCT exactly. */
  def distinctTicksAvailableNow(spark: SparkSession, dir: String,
                                queryName: String = "streaming_dedup",
                                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ticks = TickOps.normalizeEvents(
      StreamingConf.tableStream(spark, dir, "events", maxFilesPerTrigger))
    StreamingConf.runAvailableNow(
      ticks
        .select(col("symbol"), date_trunc("second", col("event_ts")).as("ts_sec"))
        .withWatermark("ts_sec", "24 hours")
        .dropDuplicatesWithinWatermark("symbol", "ts_sec"),
      queryName, "append")
  }
}
