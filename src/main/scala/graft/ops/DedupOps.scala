package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.
  *
  * Scale design:
  *  - exact dedup is a single hash-aggregate on the content digest;
  *  - n-gram Jaccard avoids the O(n²) cross join by exploding shingles
  *    and self-joining on the shingle (inverted index) — cost is bounded
  *    by shingle-posting-list sizes, and hot shingles can be dropped as
  *    stopwords at scale;
  *  - MinHash+LSH reduces pair generation to equality joins on band keys
  *    (shuffle on band key, posting lists of near-constant size), then
  *    verifies candidates with exact Jaccard — the standard 100 TB path;
  *  - SimHash packs a document into one int64 for cheap Hamming screens.
  *
  * All hashes derive from [[Hashing]] so a DuckDB oracle can reproduce
  * the exact same signatures and pair sets.
  */
object DedupOps {

  /** Exact dedup: md5 digest of the raw text, one representative (min
    * doc_id) per digest. */
  def exactDedup(docs: DataFrame, text: String = "text"): DataFrame =
    docs.groupBy(md5(col(text)).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Codegen'd distinct-shingle column (functions.Shingles); identical to
    * the declarative TextOps.shingles the oracle mirrors. */
  def fastShingles(docs: DataFrame, k: Int, text: String): org.apache.spark.sql.Column = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    call_function("graft_shingles", col(text), lit(k))
  }

  /** Exploded (doc_id, shingle) inverted-index relation. */
  def docShingles(docs: DataFrame, k: Int, text: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        explode(fastShingles(docs, k, text)).as("shingle"))

  /** Inverted index keyed by the 60-bit shingle hash: fixed-width join/
    * shuffle keys instead of ~20-byte strings. The oracle uses the same
    * hash, so even a (astronomically unlikely) collision reproduces
    * identically in both engines. */
  def docShingleHashes(docs: DataFrame, k: Int, text: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docShingles(docs, k, text)
      .select(col("doc_id"),
        call_function("graft_md5long60", col("shingle")).as("sh_h"))
  }

  /** N-gram Jaccard near-dup pairs above a threshold, via the inverted
    * index: |A∩B| from the shingle-hash join, |A∪B| = |A|+|B|-|A∩B|. */
  def ngramJaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                        text: String = "text"): DataFrame =
    ngramJaccardPairsFromIndex(
      docShingleHashes(docs, k, text),
      docs.select(col("doc_id"),
        size(fastShingles(docs, k, text)).cast("long").as("n_sh")),
      threshold)

  /** Same, over an already-built (doc_id, sh_h) inverted index and a
    * (doc_id, n_sh) size table — stage/cache the index once and the
    * shingle+hash pass runs once instead of three times (both self-join
    * sides and the sizes would otherwise each recompute it). */
  /** (doc_a, doc_b, n_common, n_a, n_b): shared-shingle count per
    * candidate pair from the inverted-index self-join, with both docs'
    * set sizes attached — the one performance-critical pair computation
    * (Σ posting² join rows; see the stop-shingle cap) that every overlap
    * screen (Jaccard, containment) derives its measure from. */
  private def commonPairCounts(ds: DataFrame, sizes: DataFrame): DataFrame =
    ds.as("a").join(ds.as("b"),
        col("a.sh_h") === col("b.sh_h") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("n_a")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("n_b")),
        col("doc_b") === col("doc_id")).drop("doc_id")

  def ngramJaccardPairsFromIndex(ds: DataFrame, sizes: DataFrame,
                                 threshold: Double): DataFrame =
    commonPairCounts(ds, sizes)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Containment screen over the same inverted index: C(A,B) =
    * |A∩B| / |A| — asymmetric, so a short document pasted inside a long
    * one scores ~1.0 where Jaccard (÷ the union) dilutes toward 0. This
    * is the quote/boilerplate/subset detector corpus dedup needs beside
    * the symmetric near-dup screen. Same equality-keyed join and
    * per-pair agg as the Jaccard path — never all-pairs. */
  def containmentPairs(ds: DataFrame, sizes: DataFrame,
                       threshold: Double): DataFrame =
    commonPairCounts(ds, sizes)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") / col("n_a"), 6).as("cont_a"),
        round(col("n_common").cast("double") / col("n_b"), 6).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)

  /** Stop-shingle variant of the Jaccard screen: shingles appearing in
    * more than `maxDf` documents are dropped BEFORE the pair join — the
    * hot-shingle mitigation for the inverted index's Σ posting² cost
    * (a shingle in f docs contributes f² join rows; capping f bounds
    * the worst case). Jaccard is then computed over the RETAINED shingle
    * sets, so the screen is self-consistent and oracle-exact — it trades
    * recall on pairs whose overlap is mostly stop-shingles, which is the
    * point: such pairs are boilerplate matches, not near-dups. */
  def ngramJaccardPairsStopShingle(ds: DataFrame, maxDf: Long,
                                   threshold: Double): DataFrame = {
    // (doc_id, sh_h) is distinct per doc, so df = posting-list length
    val dfreq = ds.groupBy(col("sh_h"))
      .agg(count(lit(1)).as("df_"))
    val kept = ds.join(dfreq.filter(col("df_") <= maxDf), Seq("sh_h"))
      .select(col("doc_id"), col("sh_h"))
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // the pair join + jaccard over the capped index is EXACTLY the plain
    // screen on a smaller index — one shared implementation
    ngramJaccardPairsFromIndex(kept, sizes, threshold)
  }

  /** MinHash signatures: nHashes affine rehashes of the 31-bit shingle
    * hash, min-reduced per document. Computed over the exploded relation
    * with one hash-aggregate (map-side partials shrink it before the
    * shuffle). */
  def minhashSignatures(docs: DataFrame, k: Int, nHashes: Int,
                        text: String = "text"): DataFrame =
    minhashSignaturesFromIndex(docShingleHashes(docs, k, text), nHashes)

  /** Same, over an already-built (doc_id, sh_h) inverted index. */
  def minhashSignaturesFromIndex(ds: DataFrame, nHashes: Int): DataFrame = {
    val coeffs = Hashing.affineCoeffs(nHashes)
    // materialize the md5-derived base hash ONCE per (doc, shingle) in a
    // projection; the n aggregate expressions then only do cheap affine
    // arithmetic on a long
    val base = ds
      .select(col("doc_id"), (col("sh_h") % Hashing.Mersenne31).as("h"))
    base.groupBy(col("doc_id"))
      .agg(
        min(Hashing.affine(col("h"), coeffs.head._1, coeffs.head._2)).as("sig_0"),
        coeffs.tail.zipWithIndex.map { case ((a, b), i) =>
          min(Hashing.affine(col("h"), a, b)).as(s"sig_${i + 1}")
        }: _*)
  }

  /** (doc_id, band_key) banding of a signature frame — the equality key
    * the LSH candidate join buckets on. Exposed so the skew spec pins
    * the PRODUCTION band-key construction, not a lookalike. */
  def bandedSignatures(sigs: DataFrame, nHashes: Int,
                       bandSize: Int): DataFrame = {
    val nBands = nHashes / bandSize
    val bandKeys = (0 until nBands).map { b =>
      val parts = (0 until bandSize).map(r => col(s"sig_${b * bandSize + r}"))
      concat_ws("_", (lit(b.toString) +: parts): _*)
    }
    sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("band_key"))
  }

  /** LSH candidate pairs from banded MinHash signatures (bandSize rows
    * per band), verified with exact n-gram Jaccard. Join is on the band
    * key — never all-pairs. */
  def minhashLshPairs(docs: DataFrame, k: Int, nHashes: Int, bandSize: Int,
                      threshold: Double, text: String = "text"): DataFrame =
    minhashLshPairsFromIndex(docShingleHashes(docs, k, text), docs,
      k, nHashes, bandSize, threshold, text)

  /** Same, with the signature pass fed from an already-built (doc_id,
    * sh_h) inverted index (verification still reads shingle arrays from
    * `docs`). */
  def minhashLshPairsFromIndex(ds: DataFrame, docs: DataFrame, k: Int,
                               nHashes: Int, bandSize: Int, threshold: Double,
                               text: String = "text"): DataFrame =
    minhashLshPairsFromSigs(minhashSignaturesFromIndex(ds, nHashes), docs,
      k, nHashes, bandSize, threshold, text)

  /** Same, over precomputed (possibly session-staged) signatures — the
    * signature aggregation is the pass worth sharing across consumers.
    *
    * `maxBandDf` is the LSH twin of the shingle index's `maxDf` stop-
    * shingle cap: the band self-join's work is Σ|band|², so ONE band key
    * shared by a large fraction of the corpus (mass-identical documents
    * — empty bodies, boilerplate) contributes |band|² candidate rows
    * regardless of AQE (skew-split bounds task INPUT, not a quadratic
    * output). Capped bands are dropped before the join, bounding any
    * key's contribution at maxBandDf²; a pair losing one band can still
    * collide in its other bands, and mass-identical payloads are exact-
    * dedup's job (cheaper and complete) before LSH ever runs. Default
    * off: the registered fixture queries are uncapped (no hot band at
    * fixture scale), same split as dedup_ngram_jaccard vs
    * dedup_ngram_stopshingle. */
  def minhashLshPairsFromSigs(sigs: DataFrame, docs: DataFrame, k: Int,
                              nHashes: Int, bandSize: Int, threshold: Double,
                              text: String = "text",
                              maxBandDf: Long = Long.MaxValue): DataFrame = {
    val bandedAll = bandedSignatures(sigs, nHashes, bandSize)
    val banded =
      if (maxBandDf == Long.MaxValue) bandedAll
      else {
        val bandFreq = bandedAll.groupBy(col("band_key"))
          .agg(count(lit(1)).as("band_df"))
        bandedAll.join(bandFreq.filter(col("band_df") <= maxBandDf)
          .select(col("band_key")), Seq("band_key"))
      }
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify ONLY the candidates: exact Jaccard via per-pair shingle-set
    // intersection — work is O(|candidates|), not O(n²)
    val sh = docs.select(col("doc_id"),
      fastShingles(docs, k, text).as("sh"))
    cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          (size(col("sa.sh")) + size(col("sb.sh"))
            - size(array_intersect(col("sa.sh"), col("sb.sh")))), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental dedup: screen an ingest BATCH against the historical
    * CORPUS with no corpus×corpus (or batch×batch) pairing — the
    * daily-ingest shape at 100 TB. The corpus side's digests and banded
    * MinHash signatures are exactly the artifacts a production pipeline
    * stages once and reuses every day; per-day work scales with the
    * batch and the band-key collision set, never with corpus².
    *
    * Per batch doc:
    *  - `exact_match_id`: the min corpus doc_id with an identical md5
    *    digest (null if none);
    *  - `near_match_id` / `near_jaccard`: the best (highest exact
    *    Jaccard ≥ threshold, ties to smaller corpus id) corpus match
    *    among LSH candidates — batch bands join corpus bands only;
    *  - `is_new`: no exact and no near match.
    * Joins are equality-keyed throughout (digest, band_key, doc ids);
    * verification reads shingle arrays for candidate pairs only. */
  def dedupIncremental(corpus: DataFrame, batch: DataFrame, k: Int,
                       nHashes: Int, bandSize: Int, threshold: Double,
                       text: String = "text"): DataFrame =
    dedupIncrementalStaged(
      corpus.groupBy(md5(col(text)).as("content_hash"))
        .agg(min(col("doc_id")).as("exact_match_id")),
      bandedSignatures(
        minhashSignaturesFromIndex(docShingleHashes(corpus, k, text), nHashes),
        nHashes, bandSize),
      corpus.select(col("doc_id").as("cand_id"),
        fastShingles(corpus, k, text).as("csh")),
      batch, k, nHashes, bandSize, threshold, text)

  /** Same, over pre-built corpus-side artifacts — the PRODUCTION form:
    * `corpusDigests` (content_hash, exact_match_id), `corpusBands`
    * (doc_id, band_key), and `corpusShingles` (cand_id, csh) are
    * written once when the corpus version is published and reused by
    * every daily batch; only the batch side is computed per run. */
  def dedupIncrementalStaged(corpusDigests: DataFrame,
                             corpusBands: DataFrame,
                             corpusShingles: DataFrame,
                             batch: DataFrame, k: Int,
                             nHashes: Int, bandSize: Int, threshold: Double,
                             text: String = "text"): DataFrame = {
    val exact = batch.select(col("doc_id"), md5(col(text)).as("content_hash"))
      .join(corpusDigests, Seq("content_hash"), "left")
      .select(col("doc_id"), col("exact_match_id"))

    val batchBands = bandedSignatures(
      minhashSignaturesFromIndex(docShingleHashes(batch, k, text), nHashes),
      nHashes, bandSize)
    val cands = batchBands.as("nb").join(corpusBands.as("ob"),
        col("nb.band_key") === col("ob.band_key"))
      .select(col("nb.doc_id").as("doc_id"), col("ob.doc_id").as("cand_id"))
      .distinct()
    val shB = batch.select(col("doc_id"), fastShingles(batch, k, text).as("sh"))
    val shC = corpusShingles
    val near = cands
      .join(shB, Seq("doc_id"))
      .join(shC, Seq("cand_id"))
      .select(col("doc_id"), col("cand_id"),
        round(size(array_intersect(col("sh"), col("csh"))).cast("double") /
          (size(col("sh")) + size(col("csh"))
            - size(array_intersect(col("sh"), col("csh")))), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(
        max_by(col("cand_id"),
          struct(col("jaccard"), (lit(0L) - col("cand_id")).as("nc")))
          .as("near_match_id"),
        max(col("jaccard")).as("near_jaccard"))

    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_match_id"),
        col("near_match_id"), col("near_jaccard"),
        (col("exact_match_id").isNull && col("near_match_id").isNull)
          .as("is_new"))
  }

  /** Connected components over a near-dup pair set: iterative min-label
    * propagation (the Pregel/large-star pattern — each round, every node
    * adopts the minimum label in its neighborhood; converges in
    * O(component diameter) rounds, which for dedup graphs is tiny).
    * The driver loop is control flow only — each iteration is a
    * distributed join+aggregate; at 100 TB this is exactly how
    * connected-components runs on any cluster framework.
    *
    * Doc ids must be long-castable (the loop runs on primitive-long
    * pair RDDs; string/UUID ids would need a keying pass first — at
    * which point the surrogate long id IS the production answer).
    *
    * The call leaves nothing persisted: the loop's edge and label RDDs
    * are freed before it returns, and the returned DataFrame reads the
    * final labels from their last shuffle's map output, which Spark
    * keeps while the frame is reachable and removes after it (its
    * ContextCleaner). Re-reading the frame re-runs no pair screen and
    * no union-find or propagation round; a caller that wants the labels
    * in memory caches the frame and owns that cache (Staged.dupClusters).
    *
    * @param pairs (doc_a, doc_b) undirected near-dup evidence
    * @param smallGraphEdges directed-edge-row bound for the single-task
    *        union-find fast path (spec hook: 0 forces the Pregel loop)
    * @return (doc_id, cluster_id = min doc_id of the component) for every
    *         doc appearing in a pair */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20,
                  smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    // The loop runs on PAIR RDDs, not DataFrames. Each DataFrame round
    // costs ~0.2 s of driver work — a fresh Catalyst analyze/optimize/
    // codegen pass over the same three-operator shape — against ~0.13 s
    // of actual distributed work at sf0.1's phash graph (12 rounds =
    // 60% of the loop's wall time spent replanning an identical plan;
    // r14 probe). RDD rounds assemble a DAG directly: zero per-round
    // planning, and the label/edge joins stay CO-PARTITIONED under one
    // HashPartitioner so each round's propagation join is narrow — at
    // 100 TB the round cost is the reduceByKey shuffle plus the label
    // re-key, exactly the Pregel superstep every cluster framework
    // runs. Semantics are unchanged: min-label propagation with
    // pointer-doubling path compression (min over neighbors ∪ self ∪
    // label(label)), converging in O(log diameter) rounds to the
    // component-minimum fixed point.
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val pr = pairs.selectExpr("CAST(doc_a AS LONG) AS doc_a",
        "CAST(doc_b AS LONG) AS doc_b")
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    // undirected evidence, deduped; keyed by dst so the propagation
    // join feeds each node's label to its neighbors
    val raw = pr.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .distinct(math.max(1, sc.defaultParallelism))
      .map { case (src, dst) => (dst, src) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SCALE-ADAPTIVE algorithm choice (guide §2): the count rides the
    // materialization the loop needs anyway (the pair screen runs
    // exactly once either way) and decides the path:
    //  - a graph whose edge list fits ONE task runs classic union-find
    //    in a single job (the broadcast-join move applied to CC: small
    //    data → local algorithm; at ≤ SmallGraphEdges directed rows the
    //    parent map is ≤ ~130 MB of primitive longs). The Pregel loop's
    //    fixed floor — 2 fused-step jobs minimum plus a convergence
    //    action per step — cost 3-4 s on the sf0.1 image graph where
    //    the single task finishes in well under a second (r15 measured:
    //    image_dup_clusters 5.2 s → see OPTIMIZATION_r15.md wave 2);
    //  - anything larger runs the co-partitioned Pregel rounds, the
    //    only shape that works at 100 TB.
    val nEdges = raw.count()
    if (nEdges <= smallGraphEdges) {
      val labels = raw.coalesce(1).mapPartitions { it =>
        // min-root union-find with path compression: cluster_id = the
        // component's min doc_id — the same fixed point the Pregel
        // rounds converge to, computed exactly.
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        val ids = parent.keys.toArray
        ids.iterator.map(id => (id, find(id)))
      }.partitionBy(new org.apache.spark.HashPartitioner(
        math.max(1, sc.defaultParallelism)))
      // one job runs the union-find into the shuffle every later read
      // of the labels starts from; only then is raw freed
      labels.foreachPartition(_ => ())
      raw.unpersist(blocking = false)
      return labelsToDf(spark, labels)
    }
    val nParts = math.max(1L, math.min(nEdges / (1L << 20) + 1,
      math.max(1, sc.defaultParallelism) * 4L)).toInt
    val part = new org.apache.spark.HashPartitioner(nParts)
    val edges = raw.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.foreachPartition(_ => ()) // materialize before freeing raw
    raw.unpersist(blocking = false)
    var labels = edges.mapValues(_ => ()).reduceByKey(part, (a, _) => a)
      .mapPartitions(_.map { case (id, _) => (id, id) },
        preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // labels sum (BigInt — exact at any scale) doubles as the
    // convergence signal: labels only ever DECREASE, so an unchanged
    // sum ⟺ a fixed point. The sum rides the same action that
    // materializes each round's cache — one job per round. Per-partition
    // partial sums return one BigInt each (driver state bounded by the
    // partition count).
    def labelSum(l: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      l.mapPartitions { it =>
        var acc = BigInt(0); it.foreach(acc += _._2); Iterator(acc)
      }.fold(BigInt(0))(_ + _)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    // one round: neighbor labels (co-partitioned join — narrow), self
    // labels, and label(label) (one re-key shuffle), min-reduced per
    // node (one shuffle with map-side combine).
    def round(l: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] = {
      val viaNeighbor = edges.join(l).values // (src, neighborLabel)
      val viaLabel = l.map { case (id, cid) => (cid, id) }
        .join(l).values.map { case (id, cid2) => (id, cid2) }
      sc.union(viaNeighbor, l, viaLabel)
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
    }
    // Two rounds per materialization/convergence action: an RDD round
    // ends at a reduceByKey shuffle, so the intermediate round's map
    // output is computed ONCE and re-read by the fused round's three
    // consumers (shuffle reuse inside one job) — fusing halves the
    // job-launch + sum-action overhead without duplicating work. A flat
    // sum across a fused step still certifies a fixed point (labels
    // only decrease, so zero total change means NO inner round changed
    // anything); the cost is at most one wasted (cheap, no-change)
    // inner round after convergence. cache() on the materialized step
    // gives deterministic freeing (unpersist below) and keeps lineage
    // recomputable on executor loss; for adversarially long chains,
    // periodic RELIABLE checkpointing remains the cluster-safe lineage
    // truncation.
    val Stride = 2
    while (!converged && iter < maxIters) {
      val k = math.min(Stride, maxIters - iter)
      val next = (0 until k).foldLeft(labels)((l, _) => round(l))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels.unpersist(blocking = false)
      labels = next
      iter += k
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusters: min-label propagation did NOT converge after " +
          s"$maxIters rounds — labels may span an unfinished component " +
          s"(graph diameter > $maxIters); raise maxIters")
    // the last round's reduceByKey output was written by its labelSum
    // job: later reads start from that shuffle, not from these caches
    edges.unpersist(blocking = false)
    labels.unpersist(blocking = false)
    labelsToDf(spark, labels)
  }

  /** Directed-edge-row bound under which a component graph runs the
    * single-task union-find path: ≤ ~4M (dst, src) longs ≈ 64 MB of
    * pair data, parent map ≤ ~130 MB in one task — far under any sane
    * task memory, and orders of magnitude under the Pregel loop's
    * fixed job floor in wall time. */
  private val SmallGraphEdges = 4L << 20

  private def labelsToDf(spark: org.apache.spark.sql.SparkSession,
                         labels: org.apache.spark.rdd.RDD[(Long, Long)])
      : DataFrame =
    spark.createDataFrame(
      labels.map { case (id, cid) => org.apache.spark.sql.Row(id, cid) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false))))

  /** SimHash (nBits ≤ 32): per-token 31-bit hashes vote per bit position;
    * bit j of the signature is the sign of the vote sum. Computed by the
    * native one-pass expression (functions.SimHashExpr) — a NARROW MAP,
    * no explode, no aggregate shuffle; the [[simhashAggForm]] twin keeps
    * the declarative explode+vote formulation and a spec asserts they
    * are bit-identical. */
  def simhash(docs: DataFrame, nBits: Int = 32, text: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // null texts are DROPPED, not kept with a null signature — the
    // explode/unnest twin (and the oracle) produce no row for them, and
    // the two forms are spec'd bit-identical
    docs.filter(col(text).isNotNull)
      .select(col("doc_id"),
        call_function("graft_simhash", col(text), lit(nBits)).as("simhash"))
  }

  /** The declarative SimHash twin: explode tokens → per-bit vote SUM →
    * pack. One explode + one hash-aggregate shuffle — kept as the
    * built-ins-only formulation the oracle mirrors literally. */
  def simhashAggForm(docs: DataFrame, nBits: Int = 32, text: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val tok = docs.select(col("doc_id"),
      explode(TextOps.tokens(col(text))).as("token"))
    val h = call_function("graft_md5long60", col("token")) % Hashing.Mersenne31
    val bitVotes = (0 until nBits).map { j =>
      sum(when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L)).as(s"v_$j")
    }
    val votes = tok.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
    val sig = (0 until nBits).map { j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    votes.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ `maxHamming`, via band
    * bucketing: the signature splits into `nBands` equal bands, and by
    * pigeonhole any pair differing in fewer than nBands bits agrees on at
    * least one FULL band — so with maxHamming < nBands, joining on
    * (band index, band value) finds every qualifying pair. The candidate
    * join is equality-keyed (shuffle on the band value, never all-pairs);
    * candidates are verified with one xor+popcount. Exactness-by-
    * pigeonhole is what makes this screen oracle-comparable, unlike
    * recall-probabilistic LSH. */
  def simhashHammingPairs(docs: DataFrame, nBits: Int = 32, nBands: Int = 4,
                          maxHamming: Int = 3, text: String = "text"): DataFrame =
    simhashHammingPairsFromSigs(simhash(docs, nBits, text), nBits, nBands,
      maxHamming)

  /** Same, over an already-computed (doc_id, simhash) signature table —
    * lets a staged/cached signature set serve both the signature query
    * and the pair screen (and keeps the self-join from recomputing the
    * token votes twice).
    *
    * SCALE SHAPE (round-11 ×100 adjudication): the band join runs over
    * DISTINCT signatures, never docs. A near-dup corpus repeats
    * signatures heavily (the ×100 image fixture: 500k docs, 109k
    * distinct hashes), and banding the doc table directly made the
    * candidate mass Σ C(docs-per-band-value, 2) ≈ 4.6·10^10 at 500k
    * docs — byte-wide band values collide constantly at that scale, so
    * the screen went candidate-quadratic while the true output was
    * ~100× smaller (measured 860 s warm; BASELINE.md round 11). Now:
    * (1) identical-signature pairs expand per hash group — a pure
    * output-bound equality self-join; (2) the banded screen + verify
    * runs on the distinct-signature table; (3) qualifying HASH pairs
    * expand back to doc pairs through two equality joins — output-bound
    * again. The only non-output term left is banding collisions among
    * DISTINCT signatures, the irreducible core of the method. */
  def simhashHammingPairsFromSigs(sigs: DataFrame, nBits: Int = 32,
                                  nBands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(nBits % nBands == 0, "nBits must split into equal bands")
    require(maxHamming < nBands,
      "exact banding needs maxHamming < nBands (pigeonhole)")
    val bandBits = nBits / nBands
    val mask = (1L << bandBits) - 1
    val dist = sigs.select(col("simhash")).distinct()
    val banded = dist
      .select(col("simhash"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * bandBits).bitwiseAND(mask)
              .as("bv"))): _*)).as("bk"))
      .select(col("simhash"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    val hashPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("ha"), col("b.simhash").as("hb"),
        call_function("bit_count",
          col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int")
          .as("hamming"))
      // filter BEFORE distinct: hamming is deterministic per pair, so
      // the result is identical and the dedup exchange carries only the
      // surviving pairs, not every band collision
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val cross = hashPairs
      .join(sigs.select(col("doc_id").as("da"), col("simhash").as("ha")),
        Seq("ha"))
      .join(sigs.select(col("doc_id").as("db"), col("simhash").as("hb")),
        Seq("hb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val within = sigs.as("a")
      .join(sigs.as("b"), col("a.simhash") === col("b.simhash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    cross.unionByName(within)
  }

  /** Hamming-banded near-dup pairs over SEQUENCES of per-frame
    * signatures — the video half of the perceptual-dedup story
    * (per-frame dHash → order-respecting sequence distance): the
    * distance between two same-length sequences is the SUM of aligned
    * per-frame Hamming distances, and candidates are an EQUALITY join
    * on a composite group key — never all-pairs, the
    * [[simhashHammingPairsFromSigs]] discipline lifted to sequences.
    *
    * GEOMETRY (round-12 ×10/×100 adjudication): each frame signature
    * splits into nBits/`subBits` small sub-bands, every (frame,
    * sub-band) slot is assigned ROUND-ROBIN (slot index mod
    * `maxTotalHamming`+1) to one of exactly maxTotalHamming+1 groups,
    * and the band key is the 60-bit hash of a whole group's (slot,
    * value) list. Pigeonhole: each differing BIT lives in exactly one
    * slot, so a pair within `maxTotalHamming` differs in at most
    * maxTotalHamming slots — at least one of the maxTotalHamming+1
    * groups contains NO differing slot and its group values (hence
    * hashes) are equal. Round-robin + fine slots matter: per-frame
    * dHashes carry a row-sign backbone (adjacent-pixel differences are
    * constant along a raster row unless the mod-256 wrap flips them),
    * so any key confined to one frame — or even one row-byte —
    * collapses onto a few backbone values and the screen goes
    * candidate-quadratic. Measured at the ×10/×100 video fixtures
    * (50k/500k docs, 111k true pairs at ×10): per-(frame, 14-bit band)
    * keys → 349M candidates at ×10 (deepest cell 6003, 120 s warm);
    * 4-bit cross-frame groups → 5.9M / 534M (×10/×100); 1-bit slots
    * (`subBits = 1`, each group samples every 9th BIT, at most one bit
    * per row-byte) → 1.96M / 139M — the shipped geometry. The ×100
    * residue is the pigeonhole floor for a radius-8 contract on a
    * 56-bit/frame law (the same irreducible-core shape as the audio
    * screen's ×100 adjudication; a tighter radius contract collapses
    * it — see the audio radius-1 lever). The hash key only ever ADDS
    * candidates (equal groups always hash equal; a 60-bit collision is
    * verified away exactly), never drops a qualifying pair.
    *
    * `minFrames` is the caller's declared lower bound on sequence
    * length (the fixture law guarantees 3); it must supply at least
    * maxTotalHamming+1 slots. Different-length sequences are not
    * near-dups by definition here (a dropped/added frame breaks
    * alignment) — the verify step keeps equal `n_frames` only.
    *
    * Input: one row per (media_id, n_frames, frame_idx, sig). Scale
    * shape: slotting explodes to nf·nSub small rows per media, folded
    * straight back to nf-independent (media, group) hash rows by one
    * partial-agg groupBy; the candidate join is equality-keyed; the
    * verify join ships one nf-long array per side per candidate and
    * reduces it with ONE codegen'd zip_with/aggregate — output bytes,
    * not raster bytes, are all that ever shuffles. */
  def hammingSeqPairs(frameSigs: DataFrame, nBits: Int, subBits: Int,
                      maxTotalHamming: Int, minFrames: Int = 1): DataFrame = {
    require(nBits % subBits == 0, "nBits must split into equal sub-bands")
    require(minFrames >= 1, "minFrames must be >= 1")
    val nSub = nBits / subBits
    val nGroups = maxTotalHamming + 1
    require(nSub * minFrames >= nGroups,
      s"exact grouping needs at least maxTotalHamming+1 = $nGroups " +
        s"sub-band slots on the shortest sequence, have " +
        s"$nSub*$minFrames")
    val mask = (1L << subBits) - 1
    // aligned signature arrays, frame order pinned by the struct sort
    val seqs = frameSigs.groupBy(col("media_id"), col("n_frames"))
      .agg(array_sort(collect_list(struct(col("frame_idx"), col("sig"))))
        .as("fs"))
      .select(col("media_id"), col("n_frames"),
        transform(col("fs"), f => f.getField("sig")).as("sig_seq"))
    val slots = frameSigs.select(col("media_id"), col("n_frames"),
        explode(array((0 until nSub).map(s =>
          struct((col("frame_idx") * nSub + s).as("slot"),
            shiftright(col("sig"), s * subBits).bitwiseAND(mask)
              .as("sv"))): _*)).as("sk"))
      .select(col("media_id"), col("n_frames"),
        (col("sk.slot") % nGroups).as("g"),
        col("sk.slot").as("slot"), col("sk.sv").as("sv"))
    // one 60-bit hash per (media, group): the slot sort pins a
    // canonical order (slots are unique per media), so equal group
    // contents ALWAYS hash equal — the key can only add candidates
    val grouped = slots
      .groupBy(col("media_id"), col("n_frames"), col("g"))
      .agg(graft.functions.Hashing.md5Long(concat_ws(",",
        transform(array_sort(collect_list(struct(col("slot"), col("sv")))),
          p => concat(p.getField("slot").cast("string"), lit(":"),
            p.getField("sv").cast("string"))))).as("gv"))
    val cands = grouped.as("a").join(grouped.as("b"),
        col("a.n_frames") === col("b.n_frames") &&
          col("a.g") === col("b.g") && col("a.gv") === col("b.gv") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ma"), col("b.media_id").as("mb"))
      // dedup group collisions BEFORE shipping sequence arrays into the
      // verify join — candidates, not collisions, bound the array join
      .distinct()
    cands
      .join(seqs.as("sa"), col("ma") === col("sa.media_id"))
      .join(seqs.as("sb"), col("mb") === col("sb.media_id"))
      .filter(col("sa.n_frames") === col("sb.n_frames"))
      .select(col("ma").as("media_a"), col("mb").as("media_b"),
        aggregate(
          zip_with(col("sa.sig_seq"), col("sb.sig_seq"),
            (x, y) => call_function("bit_count", x.bitwiseXOR(y))
              .cast("long")),
          lit(0L), (acc, v) => acc + v).cast("int").as("hamming"))
      .filter(col("hamming") <= maxTotalHamming)
  }

  /** Maximal duplicated token SPANS between document pairs — the exact-
    * substring dedup signal (Lee et al. 2022's "Deduplicating Training
    * Data Makes Language Models Better" shape): every shared run of
    * ≥ `w` consecutive tokens, reported with both positions and its
    * full maximal length, so a pipeline can surgically cut repeated
    * passages instead of dropping whole near-dup documents.
    *
    * Pipeline: (1) hash every w-token window (60-bit md5 of the
    * space-joined window — one narrow explode, ~n windows per doc);
    * (2) drop windows whose gram appears in > `maxDf` docs (the
    * boilerplate/hot-gram posting cap, same discipline as the
    * MinHash band caps — without it one ubiquitous phrase makes the
    * join quadratic); (3) equality self-join on the hash (doc_a <
    * doc_b) → matched (pos_a, pos_b) grid points; (4) merge
    * consecutive matches on each (pair, pos_a−pos_b) DIAGONAL into
    * maximal spans with the gaps-and-islands trick (pos_a −
    * row_number() is constant exactly on a run). Every stage is an
    * equality-keyed join/agg or a per-(pair, diagonal) window over
    * already-matched rows — never all-pairs; matched volume is bounded
    * by the df cap times window count. */
  def substringSpans(docs: DataFrame, w: Int, maxDf: Int,
                     text: String = "text"): DataFrame = {
    val g = docs
      .select(col("doc_id"), graft.ops.TextOps.tokens(col(text)).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("toks")) - w),
          i => struct(i.cast("int").as("pos"),
            Hashing.md5Long(concat_ws(" ", slice(col("toks"), i + 1, lit(w))))
              .as("gram")))).as("gp"))
      .select(col("doc_id"), col("gp.pos").as("pos"), col("gp.gram").as("gram"))
    val keep = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs").between(2, maxDf))
      .select("gram")
    val gg = g.join(keep, Seq("gram"))
    val pairs = gg.as("a").join(gg.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a").asc)
    pairs.withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("island", col("pos_a") - row_number().over(wdw))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pos_a")).as("a_start"), min(col("pos_b")).as("b_start"),
        (max(col("pos_a")) - min(col("pos_a")) + w).cast("long").as("span_len"))
      .select("doc_a", "doc_b", "a_start", "b_start", "span_len")
  }

  /** Per-document duplicated-token coverage from [[substringSpans]]
    * output: each doc's span intervals (from BOTH pair roles) merged
    * into disjoint regions (classic interval union: per-doc running
    * max-end window → region grouping), reported as duplicated-token
    * count, region count, and fraction of the doc — the "how much of
    * this document is copied text" statistic that decides cut-vs-drop.
    * `tokenCounts` carries (doc_id, n_tokens). Work is bounded by the
    * span table (already pair-capped), one per-doc window + hash-agg. */
  def substringCoverage(spans: DataFrame, tokenCounts: DataFrame): DataFrame = {
    // DISTINCT the intervals: identical (st, en) rows are union-no-ops,
    // and removing them leaves the (st, en) window order TIE-FREE — a
    // duplicated interval otherwise creates peer rows whose ROWS-frame
    // running max is order-sensitive (and DuckDB 1.0's parallel window
    // evaluation was observed to nondeterministically split such peers
    // into separate regions — the oracle carries the same DISTINCT)
    val iv = spans.select(col("doc_a").as("doc_id"),
        col("a_start").cast("long").as("st"),
        (col("a_start") + col("span_len") - 1).as("en"))
      .unionByName(spans.select(col("doc_b").as("doc_id"),
        col("b_start").cast("long").as("st"),
        (col("b_start") + col("span_len") - 1).as("en")))
      .distinct()
    val byStart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("st").asc, col("en").asc)
    val merged = iv
      .withColumn("prev_max",
        max(col("en")).over(byStart.rowsBetween(Long.MinValue, -1)))
      .withColumn("new_region",
        when(col("prev_max").isNull || col("st") > col("prev_max") + 1, 1L)
          .otherwise(0L))
      .withColumn("region", sum(col("new_region"))
        .over(byStart.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("doc_id"), col("region"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
    merged.groupBy(col("doc_id"))
      .agg(sum(col("en") - col("st") + 1).as("n_dup_tokens"),
        count(lit(1)).as("n_regions"))
      .join(tokenCounts, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
        col("n_regions"),
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_frac"))
  }
}
