package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based ANN — the Vamana/NSW/HNSW index family: a bounded-degree
  * neighbor graph built over the corpus, searched by beam expansion
  * from a pinned entry point. This is the high-recall SERVING structure
  * production vector stores default to, completing the engine's index
  * matrix next to IVF (cell pruning), LSH (hash pruning), and PQ
  * (compression): those prune the scan; the graph prunes the NUMBER OF
  * HOPS to the answer, trading an O(n·M) edge table for sub-linear
  * query cost.
  *
  * Everything is deterministic so a DuckDB oracle replays it
  * bit-for-bit: candidate generation is IVF-cell-blocked (the DiskANN
  * sharded-build shape — partition the corpus by quantizer cell, build
  * kNN edges within each shard's candidate set, union), every ranking
  * tie-breaks on (rounded-6dp cosine DESC, id ASC), the search runs a
  * FIXED number of supersteps (Pregel-as-joins, the GraphOps
  * discipline) with a fixed beam width, and the entry point is pinned
  * by the caller to the corpus's min vec_id (production pins the
  * medoid; the pin is what matters for replay).
  *
  * Scale posture: the build never goes all-pairs — per node the
  * candidate set is its `buildProbe` nearest cells' members (Σ|cell|²
  * bounded, the semdedup_cells argument; a hot cell splits with the
  * existing two-level machinery). The edge table is n·M rows,
  * equality-joined on `src` at search time. Each search superstep is
  * one equality join (frontier × edges) plus a per-query window over
  * ≤ |queries|·B·(M+1) rows — stream rate, never corpus rate.
  */
object GraphAnnOps {

  import SimilarityOps.dotCosine

  /** Bounded-degree kNN graph: per node, its top-`m` cosine neighbors
    * among the members of its `buildProbe` nearest IVF cells. A
    * (src, dst) pair arises at most once — `dst` appears only under
    * its single PRIMARY cell, while `src` probes `buildProbe` distinct
    * cells — so no dedup pass is needed. Probing more than one cell is
    * what keeps the graph connected ACROSS cells (within-cell-only
    * edges would strand the beam in the entry point's component). */
  def knnGraph(corpus: DataFrame, cents: DataFrame, m: Int,
               buildProbe: Int,
               maxCellSize: Long = Long.MaxValue): DataFrame = {
    val probes0 = SimilarityOps.assignCellsNorm(corpus, cents, buildProbe)
    val members0 = SimilarityOps.assignCellsNorm(corpus, cents, 1)
      .select(col("vec_id").as("nbr_id"), col("n_emb").as("nbr_emb"),
        col("cell"))
    // Hot-cell cap — the build's quadratic guard (the dedup screens'
    // maxCellSize posture, here made CODE for the graph family): a
    // dense cluster collapsing into one cell makes that cell's scoring
    // join |cell|·probe·|cell| no matter how nCells scales. Cells
    // whose MEMBER population exceeds the cap split deterministically
    // into ⌈|cell|/cap⌉ salt slices keyed by pmod(vec_id, nsplit) on
    // BOTH sides, bounding per-slice work at cap² — the explicit,
    // loud trade being that an over-cap cell's candidates shrink to
    // its same-salt slice (~1/nsplit). No-op at the default cap, so
    // every registered plan and oracle is byte-identical.
    val (probes, members) =
      if (maxCellSize == Long.MaxValue) (probes0, members0)
      else {
        val counts = members0.groupBy(col("cell"))
          .agg(count(lit(1)).as("cell_n"))
        def salt(df: DataFrame, idCol: String) = df
          .join(broadcast(counts), Seq("cell"), "left")
          .withColumn("nsplit", greatest(lit(1L),
            ceil(coalesce(col("cell_n"), lit(0L)) /
              maxCellSize.toDouble).cast("long")))
          .withColumn("cell", struct(col("cell"),
            pmod(col(idCol), col("nsplit")).as("salt")))
          .drop("cell_n", "nsplit")
        (salt(probes0, "vec_id"), salt(members0, "nbr_id"))
      }
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    probes.join(members, Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"),
        dotCosine(col("n_emb"), col("nbr_emb")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select(col("src"), col("dst"), col("sim"))
  }

  /** Incremental insert: extend a [[knnGraph]] edge table with an
    * arriving `batch` WITHOUT rescanning the corpus. New arrivals get
    * edges among the (base ∪ batch) members of their probed cells;
    * base nodes are recomputed ONLY where an arrival landed in one of
    * their probed cells (their candidate set changed); every other
    * node keeps its edges untouched. Because membership is the frozen
    * quantizer's primary cell and every ranking is deterministic, the
    * result is IDENTICAL to a full rebuild over base ∪ batch — the
    * property that makes the nightly-rebuild and continuous-insert
    * paths interchangeable (GraphAnnSpec pins the equality; the
    * registered query's oracle IS the full-rebuild replay). Per-batch
    * cost: scoring is confined to cells that received an arrival —
    * |touched cells| ≤ |batch|·buildProbe — so the insert scales with
    * the batch and the touched cells' populations, never the corpus. */
  def knnGraphAppend(oldEdges: DataFrame, base: DataFrame,
                     batch: DataFrame, cents: DataFrame, m: Int,
                     buildProbe: Int): DataFrame = {
    // At-least-once delivery guard: a batch vec_id already in `base`
    // (a re-delivered or replayed arrival) would otherwise appear in
    // BOTH probe sets, duplicating its candidate rows so row_number
    // can keep duplicate (src, dst) edges and break the
    // append-equals-rebuild contract. The anti-join makes re-delivery
    // a no-op — idempotent insert, the property every other
    // incremental path here (HLL register MAX, dedup first-writer)
    // provides — at the cost of one equality join on the batch side
    // (batch-sized left, corpus-keyed right; scales with the batch).
    val freshBatch = batch.join(
      base.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val baseProbes = SimilarityOps.assignCellsNorm(base, cents, buildProbe)
    val batchProbes =
      SimilarityOps.assignCellsNorm(freshBatch, cents, buildProbe)
    def members(df: DataFrame) =
      SimilarityOps.assignCellsNorm(df, cents, 1)
        .select(col("vec_id").as("nbr_id"), col("n_emb").as("nbr_emb"),
          col("cell"))
    val allMembers = members(base).unionByName(members(freshBatch))
    // cells that received an arrival (≤ |batch| rows, broadcast)
    val touched = members(freshBatch).select(col("cell")).distinct()
    // base nodes probing a touched cell: their candidate set changed
    val affectedSrc = baseProbes.join(broadcast(touched), Seq("cell"))
      .select(col("vec_id")).distinct()
    val recompProbes = baseProbes
      .join(broadcast(affectedSrc), Seq("vec_id"))
      .unionByName(batchProbes)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    val recomputed = recompProbes.join(allMembers, Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"),
        dotCosine(col("n_emb"), col("nbr_emb")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select(col("src"), col("dst"), col("sim"))
    val untouched = oldEdges
      .join(broadcast(affectedSrc.select(col("vec_id").as("src"))),
        Seq("src"), "left_anti")
    untouched.unionByName(recomputed)
  }

  /** Beam search over a [[knnGraph]] edge table: every query's walk
    * starts at `entryId` (the corpus's min vec_id by convention — the
    * caller derives it once per corpus, e.g. queries.Staged.corpusMinId,
    * so no search pays a driver job for it), then runs `steps`
    * supersteps, each keeping the `beam` best nodes (by cosine to the
    * query, ties id ASC) of the current beam ∪ its out-neighbors; the
    * answer is the top-`k` of the final beam, self excluded (the
    * ANN-family convention). The beam-keep rule is monotone — a kept
    * node is never worse than a dropped one — so fixed-step replay needs
    * no visited-set state, which is exactly what lets the oracle unroll
    * the same supersteps as plain CTEs. With `snapshotEachStep` the
    * walk additionally emits the top-k AFTER EVERY superstep, labeled
    * by step — the steps tuning curve's input, at the cost of one walk
    * (the per-step snapshots share the prefix; rows gain a leading
    * `steps` column). */
  def beamSearchTopK(corpus: DataFrame, graph: DataFrame, entryId: Long,
                     queryIds: Seq[Long], beam: Int, steps: Int,
                     k: Int, snapshotEachStep: Boolean = false): DataFrame = {
    require(steps >= 1 && beam >= 1 && k >= 1,
      s"beamSearchTopK needs steps/beam/k >= 1 (got steps=$steps, " +
        s"beam=$beam, k=$k) — a 0-step walk has no final beam to rank")
    val spark = corpus.sparkSession
    import spark.implicits._
    val queries = SimilarityOps.queryVectors(corpus, queryIds)
    val nodes = corpus.select(col("vec_id").as("node"), col("n_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("node").asc)
    // The beam state is MATERIALIZED between supersteps (a bounded
    // collect: ≤ |queryIds|·beam (query, node) longs — a plan constant
    // independent of corpus size; at 10 queries × beam 32 that is 320
    // rows at ANY scale). Leaving the frontier as lazy lineage
    // re-evaluates every earlier superstep at each reference —
    // measured 2^steps blowup — while the materialized state makes
    // each superstep one bounded job: the production serving shape,
    // where search state lives on the query node and only the edge
    // table and corpus are distributed.
    def step(frontier: Seq[(Long, Long)]): DataFrame = {
      val fDf = frontier.toDF("query_id", "node")
      val expanded = fDf
        .unionByName(graph.select(col("src").as("node"), col("dst"))
          .join(broadcast(fDf), Seq("node"))
          .select(col("query_id"), col("dst").as("node")))
        .distinct()
      nodes
        .join(broadcast(expanded), Seq("node"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("node"),
          dotCosine(col("q_emb"), col("n_emb")).as("sim"))
    }
    def topkOf(frontier: Seq[(Long, Long)]): DataFrame = {
      val fDf = frontier.toDF("query_id", "node")
        .filter(col("node") =!= col("query_id"))
      SimilarityOps.topKPerQuery(nodes
        .join(broadcast(fDf), Seq("node"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("node").as("neighbor_id"),
          dotCosine(col("q_emb"), col("n_emb")).as("cosine_sim")), k)
    }
    var frontier: Seq[(Long, Long)] = queryIds.map(q => (q, entryId))
    val perStep = (1 to steps).map { t =>
      frontier = step(frontier)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam)
        .select(col("query_id"), col("node"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      t -> frontier
    }
    if (!snapshotEachStep) topkOf(perStep.last._2)
    else perStep.map { case (t, f) =>
      topkOf(f).select(lit(t).as("steps"), col("query_id"),
        col("neighbor_id"), col("cosine_sim"), col("rank"))
    }.reduce(_ unionByName _)
  }
}
