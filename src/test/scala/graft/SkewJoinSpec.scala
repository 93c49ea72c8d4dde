package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join readiness: when one join key dominates, the runtime
  * must split the skewed partition instead of letting one task carry the
  * whole key. Thresholds are lowered so fixture-scale data exhibits the
  * 100 TB failure mode; the assertion is on the adaptive plan actually
  * taking the skew-split path.
  */
class SkewJoinSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("AQE splits the skewed partition of a sort-merge join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ

      // 200k-row fact side where one key owns 95% of the rows
      val fact = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, lit("HOT"))
            .otherwise(concat(lit("k"), (col("id") % 1000).cast("string")))
            .as("key"),
          col("id").as("v"))
      val dim = spark.range(2000)
        .select(concat(lit("k"), (col("id") % 1000).cast("string")).as("key"),
          col("id").as("w"))
        .unionByName(Seq(("HOT", -1L)).toDF("key", "w"))
      val joined = fact.join(dim, Seq("key"))
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      joined.collect() // finalize the adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.toLowerCase.contains("skew"),
        s"expected AQE to mark/split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("planted hot shingle (df ~ n): the maxDf cap bounds the pair-join work") {
    // every document gets the same boilerplate tail -> its shingles have
    // document frequency ~ n. The inverted-index self-join's cost is
    // sum(df^2) over shingles, so one hot shingle alone would contribute
    // n^2 join rows — the 100 TB failure mode of n-gram dedup.
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"),
        concat(col("text"), lit(" this common boilerplate footer text" +
          " is appended to every single document here")).as("text"))
    val n = docs.count()
    val ds = ops.DedupOps.docShingleHashes(docs, 3).cache()
    try {
      val dfreq = ds.groupBy(col("sh_h")).agg(count(lit(1)).as("df_")).cache()
      val hottest = dfreq.agg(max(col("df_"))).first().getLong(0)
      assert(hottest >= n * 9 / 10, s"planted shingle not hot: $hottest of $n")

      val maxDf = 50L
      // data-level bound: after the cap, NO posting list exceeds maxDf,
      // so the largest per-key join contribution is maxDf^2 regardless
      // of corpus size — the task-size bound AQE can't give an
      // index whose single key holds ~all rows
      val kept = ds.join(dfreq.filter(col("df_") <= maxDf), Seq("sh_h"))
      val keptMax = kept.groupBy(col("sh_h")).count()
        .agg(max(col("count"))).first().getLong(0)
      assert(keptMax <= maxDf, s"cap leaked a posting list of $keptMax")

      // the join-work bound is real: sum(df^2) shrinks by orders of
      // magnitude once the hot mass is gone
      val work = dfreq.agg(
        sum(col("df_") * col("df_")).as("uncapped"),
        sum(when(col("df_") <= maxDf, col("df_") * col("df_"))
          .otherwise(0L)).as("capped")).first()
      assert(work.getLong(1) < work.getLong(0) / 10,
        s"capped work ${work.getLong(1)} not << uncapped ${work.getLong(0)}")

      // and the capped screen still finds REAL near-dups: a planted
      // verbatim copy survives (its overlap is not just the boilerplate)
      val planted = docs.unionByName(
        docs.filter(col("doc_id") === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val ds2 = ops.DedupOps.docShingleHashes(planted, 3)
      val pairs = ops.DedupOps.ngramJaccardPairsStopShingle(ds2, maxDf, 0.5)
      assert(pairs.filter(col("doc_a") === 0 &&
        col("doc_b") === 1000000L).count() == 1,
        "capped screen lost the planted verbatim duplicate")
    } finally { ds.unpersist(); () }
  }

  test("planted hot band key (constant signature block): maxBandDf bounds the LSH join") {
    // 90% of the corpus becomes byte-identical boilerplate -> identical
    // MinHash signatures -> every band key of that mass is shared by
    // ~450 documents. The band self-join's work is sum(|band|^2), so
    // the hot band alone would contribute ~450^2 candidate rows — and
    // AQE can't help: skew-split bounds task INPUT, not the quadratic
    // OUTPUT a single degenerate key produces.
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"),
        when(col("doc_id") % 10 =!= 0,
          lit("identical boilerplate body repeated across the corpus"))
          .otherwise(col("text")).as("text"))
    // ...plus a verbatim copy of one UNIQUE doc: the true near-dup the
    // capped screen must still find (its bands have df = 2)
    val planted = docs.unionByName(
      docs.filter(col("doc_id") === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val n = planted.count()
    val (nh, band) = (12, 3)
    val sigs = ops.DedupOps.minhashSignaturesFromIndex(
      ops.DedupOps.docShingleHashes(planted, 3), nh).cache()
    try {
      val banded = ops.DedupOps.bandedSignatures(sigs, nh, band)
      val bandDf = banded.groupBy(col("band_key"))
        .agg(count(lit(1)).as("band_df")).cache()
      val hottest = bandDf.agg(max(col("band_df"))).first().getLong(0)
      assert(hottest >= n * 8 / 10, s"planted band not hot: $hottest of $n")

      // data-level bound, same shape as the shingle maxDf test: after
      // the cap no band's posting list exceeds maxBandDf, so no join
      // key can contribute more than maxBandDf^2 rows at ANY corpus size
      val maxBandDf = 50L
      val keptMax = banded.join(
          bandDf.filter(col("band_df") <= maxBandDf).select("band_key"),
          Seq("band_key"))
        .groupBy(col("band_key")).count()
        .agg(max(col("count"))).first().getLong(0)
      assert(keptMax <= maxBandDf, s"cap leaked a band of $keptMax")
      val work = bandDf.agg(
        sum(col("band_df") * col("band_df")).as("uncapped"),
        sum(when(col("band_df") <= maxBandDf, col("band_df") * col("band_df"))
          .otherwise(0L)).as("capped")).first()
      assert(work.getLong(1) < work.getLong(0) / 10,
        s"capped work ${work.getLong(1)} not << uncapped ${work.getLong(0)}")

      // the capped screen still finds the real near-dup...
      val pairs = ops.DedupOps.minhashLshPairsFromSigs(
        sigs, planted, 3, nh, band, 0.5, maxBandDf = maxBandDf)
      assert(pairs.filter(col("doc_a") === 0 &&
        col("doc_b") === 1000000L).count() == 1,
        "capped LSH lost the planted verbatim duplicate")
      // ...and drops the degenerate mass (exact dedup's job, which is
      // both cheaper and complete for byte-identical payloads)
      assert(pairs.filter(col("doc_a") % 10 =!= 0).count() == 0,
        "hot-band mass leaked through the cap")
    } finally { sigs.unpersist(); () }
  }
}
