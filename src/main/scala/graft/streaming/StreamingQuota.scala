package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming per-domain quota admission (§2.9 uplift of
  * `domain_quota_sample`): the crawl-frontier quota as it actually runs
  * in flight — each domain admits arriving documents until its quota
  * fills, and the quota must PERSIST across micro-batches
  * (`flatMapGroupsWithState` keyed on domain; the funnel machine
  * re-keyed with one counter of state).
  *
  * Semantics note vs the batch sampler: `domain_quota_sample` fills each
  * quota with the smallest-md5 documents — a RANKING over the full
  * corpus, which no append-mode stream can honor (an early emission
  * can't be retracted when a smaller hash arrives). The streaming form
  * is FIRST-COME admission in ingest (doc_id) order — what a live crawl
  * quota does — so its oracle ranks by doc_id, not md5.
  *
  * ORDERING CONTRACT (same as `BehaviorOps.funnelStream` /
  * `SessionOps.sessionizeStream`): per-domain doc_id order must hold
  * ACROSS micro-batches; within a batch the machine sorts. Under that
  * contract the admitted set is identical for EVERY micro-batch slicing
  * (spec-asserted in StreamingQuotaSpec), because admission depends only
  * on each doc's per-domain arrival position, never on batch boundaries.
  *
  * Scale shape: state is ONE int per domain — bounded by |domains|
  * (~10^7 for a web corpus), regardless of stream length; each
  * micro-batch shuffles only its own rows once on domain. A mega-domain
  * costs its own rows' scan and an O(batch·log batch) in-machine sort,
  * never cross-domain work.
  */
object StreamingQuota {

  /** Admission record: doc admitted as its domain's `samp_rank`-th. */
  final case class Admit(domain: String, doc_id: Long, samp_rank: Int)

  /** Per-domain state: one admitted counter (public — encoders need a
    * visible constructor for state (de)serialization). */
  final case class QuotaSt(admitted: Int)

  /** The quota machine over a (domain, doc_id) stream. */
  def quotaStream(docs: Dataset[(String, Long)], quota: Int): Dataset[Admit] = {
    require(quota > 0, "quota must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    def fn(domain: String, batch: Iterator[(String, Long)],
           state: GroupState[QuotaSt]): Iterator[Admit] = {
      var admitted = state.getOption.map(_.admitted).getOrElse(0)
      val out = Seq.newBuilder[Admit]
      // deterministic within-batch order (the group iterator's order is
      // the shuffle's choice): ascending doc_id = ingest order
      val ids = batch.map(_._2).toArray
      java.util.Arrays.sort(ids)
      var i = 0
      while (i < ids.length && admitted < quota) {
        admitted += 1
        out += Admit(domain, ids(i), admitted)
        i += 1
      }
      // state persists at quota: dropping it would let a later batch
      // restart admission from 0 and overshoot the quota
      state.update(QuotaSt(admitted))
      out.result().iterator
    }
    docs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
  }

  /** Drive the quota machine over `dir`'s documents with
    * Trigger.AvailableNow into a memory sink; `derive` maps a raw
    * document batch to (domain, doc_id) columns (per-row pure — the
    * same derivation the batch query uses). */
  def domainQuotaAvailableNow(spark: SparkSession, dir: String, quota: Int,
                              derive: DataFrame => DataFrame,
                              queryName: String = "stream_quota"): DataFrame = {
    import spark.implicits._
    val pairs = derive(StreamingConf.tableStream(spark, dir, "documents"))
      .select(col("domain"), col("doc_id")).as[(String, Long)]
    StreamingConf.runAvailableNow(quotaStream(pairs, quota).toDF(),
      queryName, "append")
  }
}
