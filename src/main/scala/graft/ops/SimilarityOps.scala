package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cosine is computed with higher-order functions (zip_with + aggregate)
  * in double precision with a fixed left-to-right fold, so the DuckDB
  * oracle (list_transform + list_sum) reproduces it bit-for-bit; results
  * are rounded to 6 decimals before ranking to absorb any last-ulp skew.
  *
  * Scale design:
  *  - vectors are L2-normalized ONCE per row before any join; per-pair
  *    work is a single dot-product fold (1 array pass, not 3 — at n²
  *    pairs this is the difference between hours and minutes);
  *  - brute-force top-k broadcasts the (small) query set and streams the
  *    corpus once: per-partition ranking, then a k-row final merge — no
  *    all-pairs shuffle;
  *  - the IVF variant clusters the corpus once (fixed seed centroids, one
  *    assignment pass) and probes only nprobe cells per query — the
  *    standard recall/throughput trade at 10^9+ vectors.
  */
object SimilarityOps {

  /** L2-normalized double vector via the native one-pass expression
    * (functions.ArrayL2Normalize): norm computed ONCE per row. The
    * declarative HOF twin [[l2NormalizeHof]] re-evaluates the norm
    * subtree per element (64× at dim 64); a spec asserts the two are
    * bit-identical. (Callers reach this via [[normalizedCorpus]], which
    * registers graft functions.) */
  def l2Normalize(e: Column): Column = call_function("graft_l2norm", e)

  /** Declarative formulation of [[l2Normalize]] — kept as the
    * cross-check twin for the native expression (same fold order as the
    * DuckDB oracle's list_sum; same zero-vector → null contract, which
    * is also what keeps it ANSI-safe). */
  def l2NormalizeHof(e: Column): Column = {
    val d = transform(e, x => x.cast("double"))
    val n = sqrt(aggregate(d, lit(0.0), (acc, x) => acc + x * x))
    when(n === 0.0 && size(e) > 0, lit(null))
      .otherwise(transform(d, x => x / n))
  }

  /** Cosine of two pre-normalized vectors: a single dot-product pass via
    * the codegen'd native expression (functions.ArrayDotProduct — same
    * left-to-right fold as the higher-order formulation and the oracle),
    * rounded to 6 decimals for cross-engine rank stability. */
  def dotCosine(a: Column, b: Column): Column =
    round(call_function("graft_dot", a, b), 6)

  /** Corpus with the embedding replaced by its normalized form. Also
    * ensures graft's native functions are registered in this session. */
  def normalizedCorpus(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), l2Normalize(col("embedding")).as("n_emb"))
  }

  /** The per-query top-k rule every ANN and retrieval ranking (and its
    * DuckDB oracle) shares: rank each query's scored rows by (`score`
    * DESC, neighbor_id ASC) into `rank`, keep rank <= k. The window
    * partitions by query — and by the `by` columns, for one cut per
    * (query, arm) group — so each partition ranks locally and only k
    * rows per group reach the final merge. */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int,
                                  score: String = "cosine_sim",
                                  by: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy((col("query_id") +: by.map(col)): _*)
      .orderBy(col(score).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The query frame every ANN operator scores against: the `queryIds`
    * rows of a normalized (vec_id, n_emb) corpus as (query_id, q_emb). */
  def queryVectors(corpus: DataFrame, queryIds: Seq[Long]): DataFrame =
    corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("n_emb").as("q_emb"))

  /** Brute-force cosine top-k over a normalized (vec_id, n_emb) corpus
    * ([[normalizedCorpus]] — the shape a production pipeline stages once
    * and shares across query batches): query set × corpus, rank per
    * query. Queries are broadcast; ranking is a per-query-partition
    * window. */
  def bruteForceTopKNorm(corpus: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = queryVectors(corpus, queryIds)
    topKPerQuery(corpus.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotCosine(col("q_emb"), col("n_emb")).as("cosine_sim")), k)
  }

  /** Exact-cosine rerank of an externally produced candidate set
    * (query_id, neighbor_id) — stage 2 of the standard two-stage
    * retrieval pattern: cheap approximate indexes nominate, the true
    * metric ranks. Candidate cardinality is the caller's contract
    * (≤ |queries| · Σ per-index k for a fused union), so the exact
    * pass touches a vanishing fraction of the corpus at any scale:
    * queries broadcast, candidates hash-join the corpus on vec_id,
    * one window per query over ≤ a few dozen rows. */
  def rerankExactTopKNorm(corpus: DataFrame, cands: DataFrame,
                          queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = queryVectors(corpus, queryIds)
    topKPerQuery(cands.join(broadcast(queries), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("n_emb")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotCosine(col("q_emb"), col("n_emb")).as("cosine_sim")), k)
  }

  /** The top-`nprobe` nearest-cell column against a FIXED centroid
    * table — the one cell ranking of an IVF index, shared by the corpus
    * side ([[assignCellsNorm]]) and the query side ([[probeCells]]):
    * collects the (nCells-bounded — n/targetCellSize rows, a few
    * MB per million corpus vectors) centroid matrix to the driver and
    * evaluates the whole argmax as ONE codegen'd expression
    * (functions.GraftNearestCells). The declarative crossJoin +
    * window/agg twin materializes n × nCells rows; with
    * corpus-following nCells that is n²/targetCellSize rows — measured
    * 42× on 10× data at the 200k-vector decade check before this
    * rewrite (BASELINE.md round 5). Ranking is (rounded-6dp cosine
    * DESC, centroid_id ASC), bit-identical to the twin, so
    * oracle-mirrored blocking results hash-match unchanged. Ties break
    * to the smaller centroid_id; a null-normalized (zero) vector is
    * unassignable and drops out. Static-input: centroids are
    * snapshotted at plan-build time (batch sources — same note as
    * RelationalOps.bloomSemiJoin). */
  private def nearestCellsCol(centroids: DataFrame, nprobe: Int,
                              emb: Column): Column = {
    val (ids, flat) = collectedCentroids(centroids)
    call_function("graft_nearest_cells",
      typedLit(ids), typedLit(flat), lit(nprobe), emb)
  }

  /** Collected (ids, flat-embedding) centroid matrix, memoized per
    * DataFrame INSTANCE. The collect is one driver JOB; a query that
    * builds several assignment subtrees against the same (session-
    * staged, hence same-instance) centroid table paid it once per
    * subtree at CONSTRUCTION time — measured r15: ann_nprobe_curve's
    * 8 subtrees = 1.9 s of driver collects per bench rep, ~40% of the
    * row (guide §5: the driver should do almost no data work). Weak
    * keys: the memo holds the frame's collected rows only while the
    * frame itself is alive (Staged keeps one instance per session;
    * entries die with the session). A freshly built centroid frame
    * (different instance) still collects — instance identity is the
    * correctness guard, since a staged table's content is immutable
    * for its session. */
  private val centroidLitMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, (Seq[Long], Seq[Double])]())

  private def collectedCentroids(centroids: DataFrame): (Seq[Long], Seq[Double]) =
    centroidLitMemo.computeIfAbsent(centroids, { c =>
      val rows = c.select(col("centroid_id"), col("c_emb"))
        .orderBy(col("centroid_id")).collect()
      (rows.map(_.getLong(0)).toSeq, rows.flatMap(_.getSeq[Double](1)).toSeq)
    })

  /** Corpus-side cell assignment — the one place a corpus vector is
    * tagged with its `nprobe` nearest cells: one row per (vector,
    * probed cell), (vec_id, n_emb, cell), by the codegen'd argmax
    * ([[nearestCellsCol]]); tie-breaks are (rounded-6dp cosine DESC,
    * centroid_id ASC), identical to the window-based oracle mirror.
    * nprobe = 1 is single assignment; nprobe > 1 is the multi-probe
    * assignment that lets a pair on a cell boundary still collide in a
    * shared cell. Callers rename `cell` (or `n_emb`) in a LATER select:
    * an alias next to the generator in the same select trips Spark 4's
    * analyzer (INTERNAL_ERROR LateralColumnAliasReference). */
  def assignCellsNorm(corpus: DataFrame, centroids: DataFrame,
                      nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus.select(col("vec_id"), col("n_emb"),
      explode(nearestCellsCol(centroids, nprobe, col("n_emb"))).as("cell"))
  }

  /** Query-side IVF probe — the one place a query is tagged with its
    * `nprobe` nearest cells: (query_id, q_emb, probe_rank, cell), one
    * row per probed cell, probe_rank 1 for the nearest. `queries` is a
    * (query_id, q_emb) frame ([[queryVectors]]). The cells come from the
    * same codegen'd argmax and (rounded-6dp cosine DESC, centroid_id
    * ASC) rule as the corpus side ([[nearestCellsCol]]), so the probe
    * needs no centroid cross join and no per-query window. A query
    * whose vector is null drops out, as a corpus vector does. */
  def probeCells(queries: DataFrame, centroids: DataFrame,
                 nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    queries.select(col("query_id"), col("q_emb"),
        posexplode(nearestCellsCol(centroids, nprobe, col("q_emb")))
          .as(Seq("pos", "cell")))
      .select(col("query_id"), col("q_emb"),
        (col("pos") + 1).as("probe_rank"), col("cell"))
  }

  /** Deterministic spherical-k-means centroids: the `nCells` lowest-
    * vec_id vectors seed the cells, then `iters` Lloyd rounds refine
    * them — assign every vector to its nearest centroid, recompute each
    * non-empty cell's centroid as the L2-normalized element-wise mean
    * of its members, round to 6 dp (cross-engine pin).
    *
    * Scale + determinism, by construction:
    *  - only the `sampleM` lowest-vec_id members of a cell feed its
    *    mean — centroid estimation from a bounded deterministic sample,
    *    the production shape at 10^9 vectors (a full-cell fold has
    *    unbounded task memory; a random sample isn't reproducible);
    *  - the member fold runs in vec_id order (sorted collect over ≤
    *    sampleM rows), so the FP sum is exactly reproducible and the
    *    DuckDB oracle (OracleFrags.ivfCentroids) mirrors it bit-for-bit.
    */
  def ivfCentroidsNorm(corpus: DataFrame, nCells: Int, iters: Int = 1,
                       sampleM: Int = 256): DataFrame = {
    var cents = corpus.orderBy(col("vec_id").asc).limit(nCells)
      .select(col("vec_id").as("centroid_id"), col("n_emb").as("c_emb"))
    for (_ <- 0 until iters) {
      val w = Window.partitionBy(col("cell")).orderBy(col("vec_id").asc)
      val sampled = assignCellsNorm(corpus, cents, 1)
        .withColumn("m_rn", row_number().over(w))
        .filter(col("m_rn") <= sampleM)
      val grouped = sampled.groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("vec_id"), col("n_emb"))))
          .as("ms"))
      val dim = size(element_at(col("ms"), 1).getField("n_emb"))
      val sums = aggregate(col("ms"), array_repeat(lit(0.0), dim),
        (acc, m) => zip_with(acc, m.getField("n_emb"), (a, b) => a + b))
      val meanArr = transform(sums, x => x / size(col("ms")))
      cents = grouped.select(col("cell").as("centroid_id"),
        transform(call_function("graft_l2norm", meanArr),
          x => round(x, 6)).as("c_emb"))
    }
    cents
  }

  /** The IVF probe's CANDIDATE set before the top-k cut:
    * (query_id, neighbor_id, probe_rank, cosine_sim) for every corpus
    * vector in one of the query's `nprobe` nearest cells, with the
    * probing cell's rank carried on every row — so the nprobe tuning
    * curve can report scan cost (candidate count) next to recall, the
    * two axes a deployment trades off when sizing nprobe. Because each
    * arm of an nprobe sweep probes a PREFIX of the same
    * [[probeCells]] ranking, the arm-p candidate set is exactly
    * `probe_rank <= p` of this one relation — the nprobe tuning curve
    * derives all its arms from ONE corpus-side candidate join instead
    * of one per arm (guide §2.3;
    * the curve's before-plan carried 8 assignment subtrees / 174
    * Exchanges at 4 arms). */
  def ivfCandidatesNormRanked(corpus: DataFrame, centroids: DataFrame,
                              queryIds: Seq[Long], nprobe: Int): DataFrame = {
    val assigned = assignCellsNorm(corpus, centroids, 1)
    probeCells(queryVectors(corpus, queryIds), centroids, nprobe)
      .join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("probe_rank"),
        dotCosine(col("q_emb"), col("n_emb")).as("cosine_sim"))
  }

  /** IVF top-k: probe the `nprobe` nearest cells per query, rank only
    * within probed cells. Approximate by construction; the oracle
    * implements the identical algorithm, so results still hash-match. */
  def ivfTopKNormWith(corpus: DataFrame, centroids: DataFrame,
                      queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame =
    topKPerQuery(ivfCandidatesNormRanked(corpus, centroids, queryIds, nprobe)
      .drop("probe_rank"), k)

  // ---------------------------------------------------------------------
  // Two-level (hierarchical) IVF — the scale continuation of the flat
  // index. The flat quantizer holds its whole centroid matrix as a plan
  // constant on the driver (nearestCellsCol), which caps it at ~10^8
  // corpus vectors (k* = 2√n cells × dim doubles). Splitting the
  // quantizer into k1 super-cells and k2 children per super-cell gives
  // k1·k2 effective cells while:
  //  - the only plan-constant matrix is the SUPER level (k1 = O(√k)
  //    centroids — O(√k·dim) driver bytes);
  //  - the child table is ordinary distributed DATA, reached by an
  //    equality join on the super-cell id (broadcast when small, shuffle
  //    when not — AQE's call, never the driver's);
  //  - assignment costs k1 + k2 comparisons per vector instead of k1·k2
  //    (the IMI/two-level-IVF argument).
  // Deterministic by construction so the DuckDB oracle mirrors it
  // bit-for-bit: super-centroids are the Lloyd-refined ivfCentroidsNorm;
  // children are the k2 lowest-vec_id members of each super-cell; every
  // argmax breaks ties on (rounded-6dp cosine DESC, id ASC).
  // ---------------------------------------------------------------------

  /** The child-centroid ids: the `k2` lowest-vec_id members of each
    * super-cell, (scell, sub_id). The per-super-cell row_number window
    * shuffles the corpus into k1 partitions — the same
    * bounded-deterministic-sample pattern [[ivfCentroidsNorm]] uses for
    * centroid estimation (its sampleM window) — and only ids cross that
    * shuffle, so it carries no float arrays. At extreme scale both
    * windows run on a corpus SAMPLE staged before training (the
    * quantizer is trained once, on a sample, and shared — assignment,
    * the n-sized pass, never windows). */
  def ivf2ChildIds(corpus: DataFrame, superCents: DataFrame, k2: Int): DataFrame = {
    val w = Window.partitionBy(col("scell")).orderBy(col("vec_id").asc)
    assignCellsNorm(corpus, superCents, 1)
      .select(col("vec_id"), col("cell").as("scell"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= k2)
      .select(col("scell"), col("vec_id").as("sub_id"))
  }

  /** Child (second-level) centroids: the [[ivf2ChildIds]] members with
    * their embeddings — (scell, sub_id, s_emb). sub_id is the member's
    * vec_id (globally unique, so a child cell id needs no pair key).
    * The k1·k2 ids are collected (one driver job at call time, the same
    * bound as the super-centroid matrix [[nearestCellsCol]] collects)
    * and the corpus is filtered to them: a broadcast join-back would
    * build a hashed relation (a fixed 1 MB page at any size) that a
    * cached index keeps referenced for the whole session. */
  def ivf2Children(corpus: DataFrame, superCents: DataFrame, k2: Int): DataFrame = {
    val ids = ivf2ChildIds(corpus, superCents, k2)
      .select(col("sub_id")).collect().map(_.getLong(0)).toSeq
    // a member's super-cell is a function of its embedding: re-deriving
    // it on the k1·k2 filtered rows reproduces the window's scell
    assignCellsNorm(corpus.filter(col("vec_id").isInCollection(ids)), superCents, 1)
      .select(col("cell").as("scell"), col("vec_id").as("sub_id"),
        col("n_emb").as("s_emb"))
  }

  /** Two-level assignment, self-trained: each vector's child cell
    * within its own super-cell — (vec_id, n_emb, cell). The child argmax
    * is a hash-agg (max_by over the scell-equality join), so the
    * per-vector candidate rows reduce map-side: no n·k2 window shuffle.
    * Serving reads the staged id-only assignment of
    * [[ivf2AssignBatchNorm]] instead; AnnIncrementalSpec pins that the
    * two rules agree on the training corpus. */
  def ivf2AssignNorm(corpus: DataFrame, superCents: DataFrame, k2: Int): DataFrame = {
    val children = ivf2Children(corpus, superCents, k2)
    assignCellsNorm(corpus, superCents, 1).withColumnRenamed("cell", "scell")
      .join(children, Seq("scell"))
      .select(col("vec_id"), col("n_emb"), col("sub_id"),
        dotCosine(col("n_emb"), col("s_emb")).as("cs"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("sub_id"),
          struct(col("cs"), (lit(0L) - col("sub_id")).as("nsid"))).as("cell"),
        first(col("n_emb")).as("n_emb"))
  }

  /** Two-level IVF top-k over a STAGED index: probe `nprobe1`
    * super-cells per query, rank the children of those super-cells and
    * keep the `nprobe2` nearest child cells overall, then score only
    * vectors assigned to probed child cells. `children` is the
    * (scell, sub_id, s_emb) table of [[ivf2Children]]; `assigned` is the
    * corpus assignment as ids, (vec_id, cell), from
    * [[ivf2AssignBatchNorm]]. The probe nominates candidate ids from
    * `assigned` against the broadcast probed-cell set and joins
    * embeddings back from `corpus` only for those candidates (broadcast
    * into the corpus scan) for the exact rerank: no corpus-sized
    * shuffle, window or aggregate per query. Approximate by
    * construction; the oracle implements the identical two-level
    * blocking so results hash-match. */
  def ivf2TopKNormWith(corpus: DataFrame, superCents: DataFrame,
                       children: DataFrame, assigned: DataFrame,
                       queryIds: Seq[Long], k: Int,
                       nprobe1: Int, nprobe2: Int): DataFrame = {
    val qsuper = probeCells(queryVectors(corpus, queryIds), superCents, nprobe1)
      .select(col("query_id"), col("q_emb"), col("cell").as("scell"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("qc").desc, col("sub_id").asc)
    // q_emb rides along with the query ids (|queries|·nprobe2 rows):
    // joining the query vectors back later would make Spark inject a
    // runtime bloom filter, one more job per call, between two copies
    // of the same query set
    val qcell = qsuper.join(broadcast(children), Seq("scell"))
      .select(col("query_id"), col("q_emb"), col("sub_id"),
        dotCosine(col("q_emb"), col("s_emb")).as("qc"))
      .withColumn("cr", row_number().over(cw))
      .filter(col("cr") <= nprobe2)
      .select(col("query_id"), col("q_emb"), col("sub_id").as("cell"))
    val cands = assigned.join(broadcast(qcell), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_emb"), col("vec_id"))
    topKPerQuery(corpus.join(broadcast(cands), Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotCosine(col("q_emb"), col("n_emb")).as("cosine_sim")), k)
  }

  /** Multi-probe two-level assignment: each vector lands in its nearest
    * child cell within EACH of its `nprobe` nearest super-cells —
    * boundary repair at the super level, where the dominant blocking
    * boundary lives. ≤ nprobe rows per vector: (vec_id, n_emb, cell). */
  def ivf2MultiAssignNorm(corpus: DataFrame, superCents: DataFrame,
                          k2: Int, nprobe: Int): DataFrame = {
    val children = ivf2Children(corpus, superCents, k2)
    assignCellsNorm(corpus, superCents, nprobe).withColumnRenamed("cell", "scell")
      .join(children, Seq("scell"))
      .select(col("vec_id"), col("n_emb"), col("scell"), col("sub_id"),
        dotCosine(col("n_emb"), col("s_emb")).as("cs"))
      .groupBy(col("vec_id"), col("scell"))
      .agg(
        max_by(col("sub_id"),
          struct(col("cs"), (lit(0L) - col("sub_id")).as("nsid"))).as("cell"),
        first(col("n_emb")).as("n_emb"))
      .select(col("vec_id"), col("n_emb"), col("cell"))
  }

  /** SCALE PATH successor for embedding near-dup past the flat
    * quantizer's driver-matrix cap: identical fused
    * candidates-and-verify shape as [[cosineNearDupPairsBlockedNormWith]]
    * (embedding rides into the cell join, dot + threshold inside the
    * join, groupBy-max cross-cell dedup), but cells come from the
    * TWO-LEVEL assignment — only k1 = O(√k) centroids ever sit in the
    * plan; the k1·k2 effective cells live as distributed data. */
  def cosineNearDupPairsBlocked2NormWith(corpus: DataFrame,
                                         superCents: DataFrame, k2: Int,
                                         threshold: Double,
                                         nprobe: Int = 2,
                                         maxCellSize: Long = Long.MaxValue): DataFrame = {
    cellPairs(capCells(
        ivf2MultiAssignNorm(corpus, superCents, k2, nprobe), maxCellSize),
        threshold)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("cosine_sim")).as("cosine_sim"))
  }

  // ---------------------------------------------------------------------
  // Incremental index maintenance — the ANN twin of the incremental
  // dedup screen: a daily batch of arriving vectors joins an index whose
  // quantizer was trained on the HISTORICAL corpus, WITHOUT retraining
  // and without touching the historical assignment. Per-batch cost is
  // O(|batch| · (k1 + k2)) comparisons plus one broadcast join against
  // the (k1·k2)-row child table — it scales with the batch, never the
  // corpus. Occupancy drift is watched by [[ivf2AppendStats]]; a cell
  // grown past the hot threshold is split in place by
  // [[ivf2SplitHotCells]] + [[ivf2ReassignCells]] (cost: that cell's
  // membership only). These are the two maintenance moves that keep a
  // two-level index serving at 100 TB between full retrains.
  // ---------------------------------------------------------------------

  /** Child-cell argmax of (vec_id, n_emb, scell)-tagged vectors against
    * a child table: (vec_id, scell, cell). Map-side-combinable hash-agg
    * (same movement as [[ivf2AssignNorm]]'s inner argmax); ties break
    * (cosine DESC, sub_id ASC). */
  private def childArgmax(tagged: DataFrame, children: DataFrame): DataFrame =
    tagged
      .join(broadcast(children), Seq("scell"))
      .select(col("vec_id"), col("scell"), col("sub_id"),
        dotCosine(col("n_emb"), col("s_emb")).as("cs"))
      .groupBy(col("vec_id"))
      .agg(max(col("scell")).as("scell"), // 1 super per vector — constant in group
        max_by(col("sub_id"),
          struct(col("cs"), (lit(0L) - col("sub_id")).as("nsid"))).as("cell"))

  /** Assign a batch of vectors against a FROZEN (staged) two-level
    * quantizer: nearest super-cell via the plan-constant k1 matrix, then
    * nearest child within it via the scell-equality join —
    * (vec_id, scell, cell). No retraining, no corpus pass: this is the
    * daily-ingest append. (Applied to the training corpus itself it
    * reproduces [[ivf2AssignNorm]] — one assignment rule for historical
    * and arriving vectors alike.) */
  def ivf2AssignBatchNorm(batch: DataFrame, superCents: DataFrame,
                          children: DataFrame): DataFrame =
    childArgmax(assignCellsNorm(batch, superCents, 1)
      .withColumnRenamed("cell", "scell"), children)

  /** Post-append occupancy per child cell: existing assignment unioned
    * with the arriving batch's, counted per (scell, cell), flagged
    * `needs_split` (0/1) when the cell's total exceeds `hotFactor` × the
    * MEAN cell load. Mean-relative, not absolute, so the trigger is
    * scale-free; the threshold rides a 1-row broadcast cross join. Both
    * inputs are (vec_id, scell, cell)-shaped. */
  def ivf2AppendStats(existing: DataFrame, arriving: DataFrame,
                      hotFactor: Double): DataFrame = {
    val u = existing.select(col("scell"), col("cell"), lit(0L).as("is_new"))
      .unionByName(arriving.select(col("scell"), col("cell"), lit(1L).as("is_new")))
    val stats = u.groupBy(col("scell"), col("cell"))
      .agg((count(lit(1)) - sum(col("is_new"))).as("n_existing"),
        sum(col("is_new")).as("n_arriving"),
        count(lit(1)).as("n_total"))
    val th = stats.agg((avg(col("n_total")) * hotFactor).as("hot_threshold"))
    stats.crossJoin(broadcast(th))
      .select(col("scell"), col("cell"), col("n_existing"),
        col("n_arriving"), col("n_total"),
        (col("n_total") > col("hot_threshold")).cast("long").as("needs_split"))
  }

  /** Split every hot cell in two, in place: the cell's two lowest-vec_id
    * members become REPLACEMENT child centroids under the same
    * super-cell (deterministic — no retrain, no randomness); a hot cell
    * that cannot produce two distinct members is left unsplit. Returns
    * the updated child table; non-hot cells are untouched and the work
    * is bounded by hot-cell membership (two hash-aggs to pick the two
    * lowest ids — no per-cell window, so one giant hot cell cannot pin
    * a single reducer).
    *
    * `members` is the post-append corpus with its assignment:
    * (vec_id, n_emb, cell). */
  def ivf2SplitHotCells(members: DataFrame, children: DataFrame,
                        hotCells: DataFrame): DataFrame = {
    val hot = members.join(broadcast(hotCells.select(col("cell"))), Seq("cell"))
    val m1 = hot.groupBy(col("cell")).agg(min(col("vec_id")).as("v1"))
    val picks = hot.join(broadcast(m1), Seq("cell"))
      .filter(col("vec_id") > col("v1"))
      .groupBy(col("cell"), col("v1"))
      .agg(min(col("vec_id")).as("v2"))
    val parentScell = children.select(col("sub_id").as("cell"), col("scell"))
    val newCents = hot.join(broadcast(picks), Seq("cell"))
      .filter(col("vec_id") === col("v1") || col("vec_id") === col("v2"))
      .join(broadcast(parentScell), Seq("cell"))
      .select(col("scell"), col("vec_id").as("sub_id"), col("n_emb").as("s_emb"))
    val retired = picks.select(col("cell").as("sub_id"))
    children.join(broadcast(retired), Seq("sub_id"), "left_anti")
      // USING-join moves sub_id first — restore the child-table column
      // order so the result is drop-in wherever `children` is expected
      .select(col("scell"), col("sub_id"), col("s_emb"))
      .unionByName(newCents)
  }

  /** Re-assign the members of split cells against the UPDATED child
    * table (argmax over the current children of each member's
    * super-cell — the same rule as fresh assignment, so the invariant
    * "every vector sits in its nearest child within its super-cell"
    * holds after maintenance). Members of unsplit cells keep their
    * assignment untouched. `members` is (vec_id, n_emb, scell, cell);
    * `splitCells` is the (cell) set actually split. */
  def ivf2ReassignCells(members: DataFrame, updatedChildren: DataFrame,
                        splitCells: DataFrame): DataFrame = {
    val hotM = members.join(broadcast(splitCells.select(col("cell"))), Seq("cell"))
      .select(col("vec_id"), col("n_emb"), col("scell"))
    val keep = members.join(broadcast(splitCells.select(col("cell"))),
        Seq("cell"), "left_anti")
      .select(col("vec_id"), col("scell"), col("cell"))
    keep.unionByName(childArgmax(hotM, updatedChildren))
  }

  /** Random-hyperplane LSH top-k: sign-bit signatures against `nPlanes`
    * deterministic hyperplanes (the lowest-vec_id corpus vectors —
    * production would sample Gaussians), banded into `nBands` bucket
    * keys; only corpus vectors sharing at least one band with the query
    * are scored. The candidate join is equality-keyed on (band, value) —
    * the second ANN scale path next to IVF: no centroid assignment pass,
    * and recall tunes with nBands/nPlanes instead of nprobe. `corpus` is
    * the normalized (vec_id, n_emb) relation of [[normalizedCorpus]]. */
  def lshTopKNorm(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                  nPlanes: Int, nBands: Int): DataFrame = {
    require(nPlanes % nBands == 0, "nPlanes must split into equal bands")
    val bandBits = nPlanes / nBands
    val mask = (1L << bandBits) - 1
    // plane index by vec_id rank: a window over nPlanes rows (broadcast
    // scale), so plane weights don't assume contiguous vec_ids
    val planes = corpus.orderBy(col("vec_id").asc).limit(nPlanes)
      .select(col("vec_id"), col("n_emb").as("p_emb"))
      .withColumn("p_idx", (row_number().over(
        Window.orderBy(col("vec_id").asc)) - 1).cast("int"))
    val sigs = corpus.join(broadcast(planes.select("p_emb", "p_idx")), expr("true"))
      .select(col("vec_id"),
        when(dotCosine(col("n_emb"), col("p_emb")) >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), p_idx)"))
          .otherwise(0L).as("w"))
      .groupBy(col("vec_id"))
      .agg(sum(col("w")).as("sig"))
    val banded = sigs.select(col("vec_id"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("sig"), b * bandBits).bitwiseAND(mask).as("bv"))): _*))
        .as("bk"))
      .select(col("vec_id"), col("bk.b").as("b"), col("bk.bv").as("bv"))
    val qb = banded.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("b"), col("bv"))
    val cands = broadcast(qb).as("q").join(banded.as("c"),
        col("q.b") === col("c.b") && col("q.bv") === col("c.bv") &&
          col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"))
      .distinct()
    rerankExactTopKNorm(corpus, cands, queryIds, k)
  }

  /** Feature-hashing document embedder (hashing-trick bag of words):
    * each token lands in bucket `h31(token) % dim` with sign
    * `+1/-1` from bit 15 of the hash (the sign trick that makes hash
    * collisions cancel in expectation instead of biasing), signed
    * counts are L2-normalized and rounded to 6 dp. Closes the text →
    * vector loop INSIDE the engine: deterministic, schema-stable
    * `(vec_id = doc_id, n_emb)` output that every ANN/dedup operator
    * here consumes directly — the stand-in for a model-served embedding
    * column, with identical integer arithmetic in the DuckDB oracle.
    * One explode + two hash-aggs; narrow otherwise. EVERY doc_id is
    * retained (left join from the doc set back onto the bucket sums):
    * a doc whose tokens all cancel — or that has no tokens at all —
    * yields a NULL vector and drops out of downstream cosine ops, the
    * same contract as a zero embedding. Without the join-back a
    * token-less doc would vanish from the output entirely (explode
    * emits no rows for an empty array), silently diverging from the
    * oracle's distinct-doc_id row set. */
  def hashEmbed(docs: DataFrame, dim: Int, text: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val h = call_function("graft_md5long60", col("token")) %
      graft.functions.Hashing.Mersenne31
    val signed = docs
      .select(col("doc_id"), explode(graft.ops.TextOps.tokens(col(text))).as("token"))
      .select(col("doc_id"), (h % dim).cast("int").as("bucket"),
        (lit(1.0) - (shiftright(h, 15) % 2).cast("double") * 2.0).as("sign"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("v"))
    val sums = signed.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v"))))
        .as("m"))
    docs.select(col("doc_id")).distinct()
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id").as("vec_id"),
        transform(
          call_function("graft_l2norm",
            expr(s"transform(sequence(0, ${dim - 1}), i -> coalesce(m[i], 0D))")),
          x => round(x, 6)).as("n_emb"))
  }

  /** (embedding, scale, codes) — the shared symmetric-int8 quantization:
    * scale = 127 / max|x| (1 if the vector is zero), code_i =
    * floor(x_i·scale + 0.5) (half-up, exact in both engines). */
  private def withScaleAndCodes(embeddings: DataFrame): DataFrame = {
    val d = transform(col("embedding"), x => abs(x.cast("double")))
    val mx = array_max(d)
    val scale = when(mx === 0.0, lit(1.0)).otherwise(lit(127.0) / mx)
    embeddings
      .withColumn("scale", scale)
      .withColumn("codes", transform(col("embedding"),
        x => floor(x.cast("double") * col("scale") + lit(0.5))))
  }

  /** Symmetric int8 quantization health report — the 4× storage-
    * compression path an ANN deployment runs before indexing: per-vector
    * scale, saturation count, and reconstruction error. Pure narrow
    * map — codes never leave the executor. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    withScaleAndCodes(embeddings).select(
      col("vec_id"),
      round(col("scale"), 6).as("scale"),
      size(filter(col("codes"), c => abs(c) >= 127))
        .cast("long").as("n_sat"),
      round(aggregate(
        zip_with(col("embedding"), col("codes"),
          (x, c) => pow(x.cast("double") - c / col("scale"), 2)),
        lit(0.0), (acc, v) => acc + v), 6).as("recon_err"))

  /** Int8 code table (vec_id, c: array<long>) — the stored form of the
    * quantized corpus (same scale/code formula as [[quantizeInt8]]). */
  def int8Codes(embeddings: DataFrame): DataFrame =
    withScaleAndCodes(embeddings)
      .select(col("vec_id"),
        transform(col("codes"), c => c.cast("long")).as("c"))

  /** Top-k over the QUANTIZED corpus: integer dot products on int8
    * codes — exact integer arithmetic (no float-parity concerns at
    * all), 4× less data moved per candidate than the double corpus,
    * and the same broadcast-queries/one-corpus-pass movement as the
    * float brute force. Production reranks the short list with float
    * vectors; here the integer score IS the result so the oracle can
    * pin it exactly. */
  def quantizedTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val codes = int8Codes(embeddings)
    val qs = codes.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("c").as("qc"))
    topKPerQuery(codes.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("qc"), col("c"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("qdot")), k, "qdot")
  }

  /** Embedding near-duplicate pairs: all pairs above a cosine threshold.
    * EXACT SMALL-N BASELINE ONLY — a triangular self-join is O(n²) pairs
    * and must never run on a full production corpus; the scale path is
    * [[cosineNearDupPairsBlockedNormWith]] (IVF-cell candidates, then
    * verify), and the exact-but-tiled middle ground is
    * [[SimilarityKernel.cosineNearDupPairsKernelNorm]].
    *
    * Guarded: refuses a corpus above `maxExactRows` (the count is one
    * narrow scan — noise next to the n² join it prevents). Raise the
    * cap explicitly to accept the quadratic cost on purpose. */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
                         maxExactRows: Long = 100000L): DataFrame = {
    val e = normalizedCorpus(embeddings)
    val n = e.count()
    require(n <= maxExactRows,
      s"cosineNearDupPairs is the exact O(n²) small-n baseline and the " +
        s"corpus has $n rows (cap $maxExactRows): use " +
        "cosineNearDupPairsBlockedNormWith (IVF-cell candidates) or " +
        "SimilarityKernel.cosineNearDupPairsKernel (tiled exact) at scale, " +
        "or raise maxExactRows deliberately")
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        dotCosine(col("a.n_emb"), col("b.n_emb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** The corpus-following cell count: nCells = max(16,
    * n / targetCellSize), so blocked near-dup candidate work
    * Σ|cell|² ≈ nprobe²·targetCellSize·n stays LINEAR in n at fixed
    * cell occupancy. A fixed nCells is quadratic in disguise —
    * measured on the 20k-vector sf1 fixture: 16 cells = 95 s of
    * candidate work, 256 cells (≈ n/78) = 3.3 s (BASELINE.md round-4
    * scaling table). Recall tunes with nprobe/targetCellSize; at the
    * fixture scales the formula clamps to 16 cells, so the DuckDB
    * oracle mirrors the blocking verbatim. This is the ONE source of
    * the 16-cell floor / 128-per-cell occupancy constants; the
    * registered headline query reads it to key its staged centroids.
    *
    * Two regimes (round-5 decade check, BASELINE.md):
    *  - occupancy-driven `n / targetCellSize` keeps candidate work
    *    Σ|cell|² linear, but cell ASSIGNMENT costs n·nCells·dim flops —
    *    at n/128 cells that is n²·dim/128, the next quadratic (measured
    *    12.9× on the 20k→200k decade before the cap);
    *  - balancing assignment (n·k) against candidate work (n²·p²/k)
    *    gives k* = p·√n, total O(n^1.5·dim) — the IVF flat-index
    *    optimum. The cap `sqrtFactor·√n` activates past
    *    n = (targetCellSize·sqrtFactor)² (65k vectors at defaults),
    *    so both DuckDB-oracle scales (500/2000 → 16-cell floor) and the
    *    sf1 fixture (20k → 156) are untouched. */
  def autoCellCount(n: Long, targetCellSize: Int = 128,
                    sqrtFactor: Int = 2): Int =
    math.max(16L, math.min(n / targetCellSize,
      (sqrtFactor * math.sqrt(n.toDouble)).toLong)).toInt

  /** Hot-cell cap for cell-blocked pairing — the embedding twin of the
    * text paths' `maxDf`/`maxBandDf` guards. A skewed corpus (a dense
    * cluster of near-identical vectors) collapses into ONE cell and the
    * cell join degenerates to |cell|² — quadratic no matter how nCells
    * scales. Cells above `maxCellSize` are split deterministically into
    * ⌈|cell|/cap⌉ sub-cells by `pmod(vec_id, nsplit)`, bounding
    * per-cell work at cap² while keeping every sub-cell's pairs exact.
    * The recall trade is explicit and loud: within an over-cap cell
    * only same-sub-cell pairs survive (~1/nsplit of its pairs) — the
    * standard cap-and-report posture; a dense near-dup cluster is
    * better served by [[graft.ops.DedupOps.dupClusters]]-style
    * representative dedup than by materializing its quadratic pair
    * set. Cell ids become (cell, salt) structs; no-op for cells at or
    * under the cap (salt 0), so un-skewed plans and every fixture
    * oracle are byte-identical under the default cap of Long.MaxValue. */
  private def capCells(assigned: DataFrame, maxCellSize: Long): DataFrame =
    if (maxCellSize == Long.MaxValue) assigned
    else {
      val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
      assigned.join(counts, Seq("cell"))
        .withColumn("nsplit",
          greatest(lit(1L), ceil(col("cell_n") / maxCellSize.toDouble).cast("long")))
        .withColumn("cell", struct(col("cell"),
          pmod(col("vec_id"), col("nsplit")).as("salt")))
        .drop("cell_n", "nsplit")
    }

  // ---------------------------------------------------------------------
  // Cell-partitioned index LAYOUT — the ANN twin of the reference's
  // CREATE INDEX → physical-layout mapping (SURVEY §2.1 S10: B-tree →
  // partitionBy/bucketBy). Spark has no index structures; what it has is
  // partition pruning. Materializing the assigned corpus partitioned BY
  // CELL turns the IVF index into storage layout: a probe is then a
  // partition filter, and a top-k query READS only nprobe/nCells of the
  // corpus bytes — scan-level pruning, not just compute-level, which is
  // what an inverted-file index means on a 100 TB object store.
  // ---------------------------------------------------------------------

  /** Write the corpus as a cell-partitioned parquet layout
    * (vec_id, n_emb | cell=): one directory per IVF cell. At production
    * scale this is the nightly index build — the same job that computes
    * the assignment anyway, paying one extra sort-within-write. */
  def writeCellLayout(corpus: DataFrame, centroids: DataFrame,
                      path: String): Unit =
    assignCellsNorm(corpus, centroids, 1)
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** IVF top-k against the cell-partitioned layout: probe cells per
    * query (identical probe rule and tie-breaks as [[ivfTopKNormWith]],
    * so results hash-match the in-memory IVF query bit-for-bit), then
    * scan ONLY the probed partitions — the `cell IN (...)` predicate is
    * a PARTITION filter on the layout, so the scan touches
    * ≤ |queries|·nprobe of the nCells cell directories. The probed-cell
    * id list is collected to the driver first: bounded by
    * |queries|·nprobe rows (the same bounded-collect posture as the
    * centroid matrix), and it is exactly what makes the filter a
    * compile-time partition prune instead of a runtime join. Query
    * vectors come from `queries` (the raw/staged corpus) — at scale an
    * id-keyed point lookup, never a layout scan. */
  def ivfTopKPruned(spark: org.apache.spark.sql.SparkSession,
                    layoutPath: String, centroids: DataFrame,
                    queries: DataFrame, queryIds: Seq[Long],
                    k: Int, nprobe: Int): DataFrame = {
    val probed = probeCells(queryVectors(queries, queryIds), centroids, nprobe)
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    // partition-column values read back as the inferred partition type;
    // normalize to long so the join key matches centroid ids
    val pruned = spark.read.parquet(layoutPath)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("n_emb"), col("cell").cast("long").as("cell"))
    topKPerQuery(probed.join(pruned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotCosine(col("q_emb"), col("n_emb")).as("cosine_sim")), k)
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the memory-compression scale path that
  // completes the ANN family (next to IVF/IVF2 cell pruning, LSH bucket
  // pruning, and whole-vector int8). dim is split into m subspaces of
  // dsub = dim/m; each subspace gets a ksub-codeword codebook; a vector
  // is stored as m small codes (m=8, ksub=16 → 8 half-byte codes ≈ 4
  // bytes/vector vs 512 for float64: the 100 TB corpus becomes ~1 TB of
  // codes, small enough to scan per query batch). Search is ADC
  // (asymmetric distance computation): the query stays exact, a per-query
  // lookup table of subspace dot products is built against the codebook
  // (m·ksub entries — broadcast scale), and a candidate's score is m map
  // lookups summed — no per-pair float dot over the raw corpus at all.
  // Deterministic by construction so the DuckDB oracle mirrors it
  // bit-for-bit: codewords are the subvectors of the ksub lowest-vec_id
  // corpus rows (same seeding convention as ivfCentroidsNorm), encoding
  // argmin ties break to the lower code, every per-subspace distance/dot
  // is rounded 6 dp, and sums fold in ascending-j order on both engines.
  // ---------------------------------------------------------------------

  /** PQ codebook (j, code, cw): for subspace j the codewords are the
    * j-th subvectors of the `ksub` lowest-vec_id corpus vectors.
    * ksub·m rows — broadcast scale. (Production would Lloyd-refine each
    * subspace codebook exactly as [[ivfCentroidsNorm]] refines cell
    * centroids — identical machinery; seeds keep the oracle compact.) */
  def pqCodebook(corpus: DataFrame, dim: Int, m: Int, ksub: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m
    // ksub-row window: bounded, same pattern as lshTopKNorm's plane index
    val seeds = corpus.orderBy(col("vec_id").asc).limit(ksub)
      .withColumn("code", (row_number().over(
        Window.orderBy(col("vec_id").asc)) - 1).cast("int"))
    seeds.select(col("code"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          slice(col("n_emb"), j * dsub + 1, dsub).as("cw"))): _*)).as("e"))
      .select(col("e.j").as("j"), col("code"), col("e.cw").as("cw"))
  }

  /** PQ encoding: per (vector, subspace) the argmin-L2 codeword —
    * (vec_id, j, code, dist), dist rounded 6 dp, ties to the lower
    * code. One explode to n·m subvector rows, a broadcast join against
    * the codebook, and a map-side-combinable argmin hash-agg — never a
    * window over the corpus. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, dim: Int, m: Int): DataFrame = {
    val dsub = dim / m
    val sub = corpus.select(col("vec_id"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          slice(col("n_emb"), j * dsub + 1, dsub).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.j").as("j"), col("e.sv").as("sv"))
    sub.join(broadcast(codebook), Seq("j"))
      .select(col("vec_id"), col("j"), col("code"),
        round(aggregate(zip_with(col("sv"), col("cw"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 6).as("dist"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"),
        min(col("dist")).as("dist"))
  }

  /** Stored PQ code table (vec_id, codes array<int>, recon_err): the
    * compressed corpus plus its quantization distortion (Σ over
    * subspaces of the argmin distance — the number that tunes m/ksub
    * before a deployment trusts ADC ranking). Codes collapse to one row
    * per vector via a map (position j → code), so the fold back to
    * array order is exact and order-insensitive to the agg. */
  def pqCodes(corpus: DataFrame, codebook: DataFrame, dim: Int, m: Int): DataFrame =
    pqEncode(corpus, codebook, dim, m)
      .groupBy(col("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("code")))).as("cm"),
        map_from_entries(collect_list(struct(col("j"), col("dist")))).as("dm"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(m - 1)),
          j => element_at(col("cm"), j.cast("int"))).as("codes"),
        round(aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, j) => acc + element_at(col("dm"), j.cast("int"))), 6)
          .as("recon_err"))

  /** Per-query ADC lookup table (query_id, lut: map<int,double>) with
    * LUT[j·ksub + code] = round(dot(q_j, cw), 6) — m·ksub entries per
    * query, broadcast scale. */
  private def adcLut(corpus: DataFrame, codebook: DataFrame, dim: Int,
                     m: Int, ksub: Int, queryIds: Seq[Long]): DataFrame = {
    val dsub = dim / m
    val qsub = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          slice(col("n_emb"), j * dsub + 1, dsub).as("qv"))): _*)).as("e"))
      .select(col("query_id"), col("e.j").as("j"), col("e.qv").as("qv"))
    qsub.join(broadcast(codebook), Seq("j"))
      .select(col("query_id"),
        (col("j") * ksub + col("code")).cast("int").as("key"),
        round(aggregate(zip_with(col("qv"), col("cw"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x), 6).as("pdot"))
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(col("key"), col("pdot"))))
        .as("lut"))
  }

  /** The ascending-j fold of m LUT lookups — the ADC score column. */
  private def adcScore(m: Int, ksub: Int): Column =
    round(aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + element_at(col("lut"),
        (j * ksub + element_at(col("codes"), j.cast("int") + 1))
          .cast("int"))), 6)

  /** ADC top-k over an already-encoded (staged) PQ code table:
    * per-query lookup table LUT[j·ksub + code] = round(dot(q_j, cw), 6)
    * built against the codebook (m·ksub rows per query — broadcast),
    * then ONE pass over the code table scoring each vector as the
    * ascending-j fold of m map lookups. The raw corpus is never touched
    * after encoding — the scan moves codes (bytes/vector), not
    * vectors. */
  def pqAdcTopKCodes(codes: DataFrame, corpus: DataFrame, codebook: DataFrame,
                     dim: Int, m: Int, ksub: Int,
                     queryIds: Seq[Long], k: Int): DataFrame = {
    val lut = adcLut(corpus, codebook, dim, m, ksub, queryIds)
    topKPerQuery(codes.join(broadcast(lut), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcScore(m, ksub).as("adc_score")), k, "adc_score")
  }

  /** Two-stage PQ search — ADC shortlist, then EXACT float rerank of
    * the shortlist only: the production serving shape. The corpus-wide
    * pass moves codes (bytes/vector); float vectors are fetched for
    * |queries|·`shortlist` rows — an id-keyed join, never a second
    * corpus scan of vectors. Final ranking is the exact cosine, so
    * rerank recall@k is bounded only by whether the true neighbors
    * survive the shortlist cut (measured in PqDecade). */
  def pqAdcRerankTopK(codes: DataFrame, corpus: DataFrame, codebook: DataFrame,
                      dim: Int, m: Int, ksub: Int, queryIds: Seq[Long],
                      k: Int, shortlist: Int): DataFrame = {
    val short = pqAdcTopKCodes(codes, corpus, codebook, dim, m, ksub,
        queryIds, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerankExactTopKNorm(corpus, short, queryIds, k)
  }

  /** IVF-PQ — the production composition of the two scale axes: the
    * coarse quantizer prunes WHICH vectors are scored (probed-cell
    * candidates, an equality join on the cell id), the PQ codes shrink
    * WHAT the scoring moves (ADC over the candidates' codes — no float
    * vector is touched after the probe step). Probe rule, tie-breaks,
    * and ADC arithmetic are identical to [[ivfTopKNormWith]] /
    * [[pqAdcTopKCodes]], so the oracle composes the same fragments. */
  def ivfPqTopK(corpus: DataFrame, centroids: DataFrame, codes: DataFrame,
                codebook: DataFrame, dim: Int, m: Int, ksub: Int,
                queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCellsNorm(corpus, centroids, 1)
    val probed = probeCells(queryVectors(corpus, queryIds), centroids, nprobe)
      .select(col("query_id"), col("cell"))
    val lut = adcLut(corpus, codebook, dim, m, ksub, queryIds)
    topKPerQuery(
      probed.join(assigned.select(col("vec_id"), col("cell")), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .join(codes.select(col("vec_id"), col("codes")), Seq("vec_id"))
        .join(broadcast(lut), Seq("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          adcScore(m, ksub).as("adc_score")), k, "adc_score")
  }

  /** SCALE PATH for embedding near-dup over a normalized corpus and a
    * staged centroid table: candidates are generated by IVF cell
    * blocking — pairs must share one of their `nprobe` nearest cells —
    * and only candidates are verified with the exact dot product. The
    * candidate join is EQUALITY-KEYED on the cell id (never all-pairs):
    * work is Σ over cells of |cell|², bounded by nprobe²·n²/nCells for
    * balanced cells, and nCells follows the corpus ([[autoCellCount]])
    * — the same candidates-then-verify shape as
    * [[graft.ops.DedupOps.minhashLshPairsFromSigs]] for text.
    * Approximate by construction (a near-dup pair whose members share
    * no probed cell is missed); the oracle implements the identical
    * blocking so results still hash-match.
    *
    * Fused candidates-and-verify: the embedding rides INTO the cell
    * join (one shuffle of n·nprobe embedding-carrying rows keyed by
    * cell), the exact dot + threshold run inside the join's codegen
    * before anything is materialized, and only SURVIVING pairs reach
    * the cross-cell dedup (groupBy max — values are identical per
    * pair, max is a deterministic pick that rides partial agg).
    *
    * The previous shape — candidate ids first, `distinct`, then two
    * joins back to the corpus to attach embeddings — shuffled the FULL
    * Σ|cell|² candidate set twice with vector payloads: at the
    * 200k-vector decade check that was 51M pairs ≈ 50 GB of exchange,
    * 266 s of its 310 s total. Fused: the pair stream never crosses an
    * exchange. */
  def cosineNearDupPairsBlockedNormWith(corpus: DataFrame,
                                        centroids: DataFrame,
                                        threshold: Double,
                                        nprobe: Int = 2,
                                        maxCellSize: Long = Long.MaxValue): DataFrame =
    cellPairs(capCells(assignCellsNorm(corpus, centroids, nprobe), maxCellSize),
        threshold)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("cosine_sim")).as("cosine_sim"))

  /** The cell-pair verify shared by the blocked screens: the
    * `cell`-equality self-join of (vec_id, n_emb, cell) rows, each pair
    * once per shared cell as (vec_a < vec_b), kept when the exact cosine
    * reaches `threshold` — the dot and the threshold run inside the
    * join, so only surviving pairs leave it. */
  private def cellPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("n_emb").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("n_emb").as("eb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        dotCosine(col("ea"), col("eb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** SemDedup-style within-cell semantic prune (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — the keep-one-per-ε-ball pass a training-data
    * pipeline runs AFTER exact/near-dup text dedup): vectors are
    * assigned to their single nearest IVF cell (the paper's k-means
    * cluster), and within each cell any vector whose cosine to a
    * SMALLER-id cellmate reaches `eps` is dropped, that smallest
    * similar id reported as its exemplar. Keep-the-min-id is this
    * repo's exact-dedup exemplar rule lifted to ε-balls — deterministic
    * and order-free, where the paper's sequential greedy cover is
    * neither (documented divergence: a chain a~b~c with a≁c keeps
    * {a, c} under greedy but only {a} here — the stricter prune).
    *
    * Scale shape: candidates are the cell-equality self-join (never
    * all-pairs; Σ|cell|² bounded by the corpus-following cell count —
    * autoCellCount — and optionally `maxCellSize` hot-cell splitting),
    * the drop decision is one groupBy(vec_b) min/max, and the verdict
    * joins back to the assignment — three equality shuffles total,
    * independent of corpus size per cell. Returns every corpus vector:
    * (vec_id, cell, kept, exemplar, max_sim — the
    * strongest duplicate evidence, not necessarily to the exemplar). */
  def semDedupWithinCellsNorm(corpus: DataFrame, centroids: DataFrame,
                              eps: Double,
                              maxCellSize: Long = Long.MaxValue): DataFrame = {
    val assigned = capCells(assignCellsNorm(corpus, centroids, 1), maxCellSize)
    val dropped = cellPairs(assigned, eps)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("exemplar"),
        max(col("cosine_sim")).as("max_sim"))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("exemplar").isNull.as("kept"),
        col("exemplar"), col("max_sim"))
  }

  /** Benchmark DECONTAMINATION in embedding space — the semantic
    * sibling of the n-gram `decontaminate_ngram` pass (and the
    * cross-set form of [[semDedupWithinCellsNorm]]): a training vector
    * is contaminated iff its cosine to ANY benchmark vector reaches
    * `eps` — paraphrased eval items that n-gram overlap misses. Both
    * sides assign to their `nprobe` nearest IVF cells and candidates
    * are the cell-equality join of TRAIN × BENCH (never all-pairs;
    * work is Σ_cell |train∩cell|·|bench∩cell|, and the benchmark side
    * is tiny by construction). Returns EVERY train vector with its
    * verdict + evidence (min contaminating benchmark id, strongest
    * similarity — the min-id rule is the repo's deterministic exemplar
    * convention), so the downstream cut is one semi-join. */
  def decontaminateBlockedNorm(train: DataFrame, bench: DataFrame,
                               centroids: DataFrame, eps: Double,
                               nprobe: Int = 2): DataFrame = {
    val ta = assignCellsNorm(train, centroids, nprobe)
    // renamed AFTER the assignment: a b_emb alias in the generator's own
    // select would be a lateral alias under explode, which trips Spark 4's
    // analyzer (INTERNAL_ERROR LateralColumnAliasReference)
    val ba = assignCellsNorm(bench, centroids, nprobe)
      .select(col("vec_id").as("bench_id"), col("n_emb").as("b_emb"),
        col("cell"))
    val hits = ta.join(ba, Seq("cell"))
      .select(col("vec_id"), col("bench_id"),
        dotCosine(col("n_emb"), col("b_emb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= eps)
      // a pair can meet in both probed cells — collapse before the
      // verdict join so evidence rows, not cell collisions, shuffle
      .groupBy(col("vec_id"))
      // distinct output name: re-aliasing the agg back to bench_id in
      // the verdict select trips Spark 4's lateral-column-alias
      // resolver (INTERNAL_ERROR: LateralColumnAliasReference)
      .agg(min(col("bench_id")).as("hit_bench_id"),
        max(col("cosine_sim")).as("max_sim"))
    train.select(col("vec_id")).join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("hit_bench_id").isNotNull.as("contaminated"),
        col("hit_bench_id").as("bench_id"), col("max_sim"))
  }

  /** Hard-negative mining for contrastive/metric training: for each
    * query vector, the top-k most-similar corpus vectors carrying a
    * DIFFERENT class label — the negatives that most confuse an
    * embedding model, mined here exactly the way the positives would
    * be. Same scale shape as [[bruteForceTopKNorm]]: the (tiny) query
    * set broadcasts with its labels attached, the corpus streams once
    * through a label-mismatch nested-loop over that constant-size
    * broadcast, and per-partition ranking keeps only k rows per query
    * before the final merge. At 10^9+ vectors the scan side composes
    * with the IVF cell probe unchanged (mine within probed cells). */
  def hardNegativesNorm(corpus: DataFrame, labels: DataFrame,
                        queryIds: Seq[Long], k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.join(labels.select(col("vec_id"), col("label")), "vec_id")
    val queries = c.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("n_emb").as("q_emb"),
        col("label").as("q_label"))
    topKPerQuery(c.join(broadcast(queries), col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("n_label"),
        dotCosine(col("q_emb"), col("n_emb")).as("cosine_sim")), k)
  }

  /** Contrastive-training triple mining: for each anchor in
    * `queryIds`, the nearest SAME-label neighbor (the positive — the
    * pair a contrastive loss pulls together) and the nearest
    * DIFFERENT-label neighbor (the hard negative it pushes apart),
    * with the anchor's margin pos_sim − neg_sim — a negative margin
    * flags exactly the anchors whose neighborhoods the current
    * embedding gets wrong (the examples a training curriculum
    * prioritizes). ONE scored corpus pass (queries broadcast with
    * their labels), split by a label-match flag; both top-1 picks are
    * per-query windows over the same frame. */
  def contrastiveTriples(corpus: DataFrame, labels: DataFrame,
                         queryIds: Seq[Long]): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.join(labels.select(col("vec_id"), col("label")), "vec_id")
    val queries = c.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("n_emb").as("q_emb"),
        col("label").as("q_label"))
    val scored = c.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"),
        col("vec_id").as("neighbor_id"),
        (col("label") === col("q_label")).as("same"),
        dotCosine(col("q_emb"), col("n_emb")).as("sim"))
    val top = topKPerQuery(scored, 1, "sim", by = Seq("same"))
    val pos = top.filter(col("same"))
      .select(col("query_id").as("anchor_id"), col("q_label").as("label"),
        col("neighbor_id").as("pos_id"), col("sim").as("pos_sim"))
    val neg = top.filter(!col("same"))
      .select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("neg_id"), col("sim").as("neg_sim"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("label"), col("pos_id"),
        col("pos_sim"), col("neg_id"), col("neg_sim"),
        round(col("pos_sim") - col("neg_sim"), 6).as("margin"))
  }

  /** Dimension-wise standardization (z-scoring) of the first `d`
    * embedding dimensions — the APPLICATION step of the covariance
    * pass: per-dim mean/variance from one decimal-exact aggregation
    * (identical doubles in both engines), broadcast back over the
    * value stream, z = (x − mean)/√var. Two scans total (stats +
    * apply) and the broadcast is d rows — corpus-size-independent.
    * Zero-variance dims z-score to null (nullif), and the rounded z
    * goes through the −0.0 normalizer since it crosses zero
    * constantly. */
  def standardizeDims(embeddings: DataFrame, d: Int): DataFrame = {
    val vals = embeddings.select(col("vec_id"),
      posexplode(expr(
        s"slice(transform(embedding, x -> CAST(x AS DOUBLE)), 1, $d)")))
      .toDF("vec_id", "i", "x")
    val stats = vals.groupBy(col("i"))
      .agg(count(lit(1)).as("n"),
        Determinism.exactSum(col("x")).as("sx"),
        Determinism.exactSum(col("x") * col("x")).as("sxx"))
      .select(col("i"), (col("sx") / col("n")).as("mean"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
          .as("variance"))
    vals.join(broadcast(stats), Seq("i"))
      .select(col("vec_id"), col("i").cast("int").as("i"),
        Determinism.noNegZero(
          round((col("x") - col("mean")) /
            sqrt(nullif(col("variance"), lit(0d))), 6)).as("z"))
  }

  /** Project embeddings onto a fitted PCA basis (PcaOps.fit), centered
    * on the exact-decimal corpus dimension means. The apply side of
    * covariance → fit: (means, basis) are one broadcast row + k·d plan
    * literals, the projection itself a codegen'd narrow map — zero
    * corpus shuffles at any scale. Each p_k is the ascending-dim
    * left-associated Σ (x_i − mean_i)·loading_ki rounded to 6 dp,
    * mirrored term-for-term by the oracle's generated SQL. */
  def pcaProject(embeddings: DataFrame,
                 model: graft.ops.PcaOps.PcaModel): DataFrame = {
    val d = model.components(0).length
    def x(i: Int) = col("embedding").getItem(i).cast("double")
    val meanCols = (0 until d).map(i =>
      (Determinism.exactSum(x(i)) / count(lit(1))).as(s"m$i"))
    val meansRow = embeddings.agg(meanCols.head, meanCols.tail: _*)
    val projs = model.components.toSeq.zipWithIndex.map { case (q, k) =>
      Determinism.noNegZero(round(
        (0 until d).map(i => (x(i) - col(s"m$i")) * lit(q(i)))
          .reduceLeft(_ + _), 6)).as(s"p$k")
    }
    embeddings.crossJoin(broadcast(meansRow))
      .select(col("vec_id") +: projs: _*)
  }

  /** Candidate generation in PCA space: nearest-`c` by squared L2 over
    * the k projected coordinates (p0..p{k-1} from [[pcaProject]]) —
    * the dim-reduction retrieval path: the scan touches k doubles per
    * vector instead of the full embedding (the PCA analog of PQ's
    * ADC byte scan), and the exact metric reranks the survivors.
    * Queries broadcast; distance terms are ascending-component
    * left-associated so the oracle's generated SQL ranks identically. */
  def pcaCandidates(proj: DataFrame, queryIds: Seq[Long], c: Int,
                    k: Int): DataFrame = {
    val q = proj.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id") +:
        (0 until k).map(i => col(s"p$i").as(s"q$i")): _*)
    val dist = (0 until k).map(i =>
      (col(s"p$i") - col(s"q$i")) * (col(s"p$i") - col(s"q$i")))
      .reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    proj.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dist.as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= c)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Deterministic Johnson–Lindenstrauss (signed random projection)
    * matrix: k×d entries ±1/√k with signs drawn from the shared
    * splitmix stream (Hashing.affineCoeffs) — a CONSTANT that both the
    * Spark plan and the generated oracle SQL inline literally, so no
    * cross-engine hashing is involved at all. Unlike PCA this needs no
    * fit pass and no spectrum assumption: the distance-preservation
    * guarantee depends only on (k, n). */
  def jlMatrix(k: Int, d: Int): Seq[Seq[Double]] = {
    val signs = graft.functions.Hashing.affineCoeffs(k * d).map(_._2 % 2)
    val v = 1.0 / math.sqrt(k.toDouble) // k = 16 → 0.25, exact in binary
    (0 until k).map(j => (0 until d).map(i =>
      if (signs(j * d + i) == 0) v else -v))
  }

  /** JL projection y_j = round(Σ_i x_i·P_ji, 6) — a pure narrow map
    * with the matrix as plan literals: zero shuffles, zero broadcast
    * state, no fit job (the structural contrast to pcaProject's
    * means-row cross join). Ascending-dim left-associated sums so the
    * generated oracle ranks identically. */
  def jlProject(embeddings: DataFrame, mat: Seq[Seq[Double]]): DataFrame = {
    val d = mat.head.length
    def x(i: Int) = col("embedding").getItem(i).cast("double")
    val projs = mat.zipWithIndex.map { case (row, j) =>
      Determinism.noNegZero(round(
        (0 until d).map(i => x(i) * lit(row(i))).reduceLeft(_ + _), 6))
        .as(s"p$j")
    }
    embeddings.select(col("vec_id") +: projs: _*)
  }

  /** Upper-triangular covariance of the first `d` embedding dimensions —
    * the distributed pass behind PCA whitening / decorrelation of an
    * embedding table. One narrow projection explodes each row into its
    * d(d+1)/2 (i, j, xi, xj) pairs, pipelined straight into a partial
    * hash-aggregate (explode → hashagg in one stage: the shuffle carries
    * only d(d+1)/2 groups per partition, never the n·d² pair stream), so
    * the pass is one corpus scan regardless of n. Sums run in exact
    * decimals (Determinism.exactSum) so partial-agg order can't skew the
    * float totals; the final cov arithmetic is on identical doubles in
    * both engines. Population covariance: (E[xy] − E[x]E[y]). */
  def covariancePairs(embeddings: DataFrame, d: Int): DataFrame = {
    val pairs = embeddings
      .select(explode(expr(
        s"""flatten(transform(sequence(0, ${d - 1}), i ->
           |  transform(sequence(i, ${d - 1}), j -> named_struct(
           |    'i', i, 'j', j,
           |    'xi', CAST(embedding[i] AS DOUBLE),
           |    'xj', CAST(embedding[j] AS DOUBLE)))))""".stripMargin))
        .as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.xi").as("xi"), col("p.xj").as("xj"))
    pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        Determinism.exactSum(col("xi")).as("sx"),
        Determinism.exactSum(col("xj")).as("sy"),
        Determinism.exactSum(col("xi") * col("xj")).as("sxy"))
      .select(col("i"), col("j"), col("n"),
        Determinism.noNegZero(
          round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6))
          .as("cov"))
  }
}
