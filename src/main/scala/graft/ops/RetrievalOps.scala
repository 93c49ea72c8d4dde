package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sparse (lexical) retrieval: BM25 over a whitespace-token inverted
  * index, plus the rank-level plumbing that fuses it with the dense
  * hash-embedding retriever (the canonical sparse+dense hybrid).
  *
  * Shape at 100 TB: the posting list is the classic token-sharded
  * inverted index — `groupBy(doc_id, token)` is one hash exchange with
  * map-side partials, document frequencies are a vocabulary-bounded
  * aggregate, and scoring joins the (tiny, |queries|·|terms|) query
  * term set BROADCAST against the postings so the corpus-scale side
  * never reshuffles for the probe. Per-candidate partial scores
  * aggregate with map-side combine; the final rank window sees at most
  * |queries|·|candidates| rows. Stopword-dense terms get near-zero idf
  * (BM25's own damping); a production deployment additionally caps
  * posting-list fan-out the same way the shingle index caps `maxDf`
  * (see DedupOps) — impact-ordered/WAND pruning is the classic
  * refinement and composes with this plan without changing semantics.
  *
  * Cross-engine determinism (the oracle replays every step in DuckDB):
  * idf and length-norm round to 9 dp before use, per-term contributions
  * round to 9 dp, per-candidate sums run in DECIMAL(30,9) so partial-agg
  * order can't skew the float, final scores round to 6 dp. BM25
  * constants are interpolated as decimal literals so both engines parse
  * the identical double (never `lit(K1) + 1` — see the K1p1 note).
  */
object RetrievalOps {

  /** BM25 parameters (Robertson defaults). Kept as STRING literals so
    * the Spark plan and the oracle SQL parse the same decimal text:
    * e.g. `1.2 + 1.0` rounds to a double a hair away from the parsed
    * literal `2.2`, so the sum form must never appear on either side. */
  final val K1 = "1.2"
  final val K1p1 = "2.2"
  final val B = "0.75"
  final val OneMinusB = "0.25"

  /** RRF rank constant (the standard 60). */
  final val RrfC = 60

  /** Posting list with per-document length: (doc_id, token, tf, dl).
    * One tokenize pass; dl via a window sum over the tf rows (re-uses
    * the grouped exchange instead of a second scan + join). */
  def bm25Postings(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
  }

  /** Corpus stats as a ONE-ROW frame (n_docs, avgdl) — cross-joined
    * into the plan, never a driver-side action. */
  def bm25Stats(postings: DataFrame): DataFrame =
    postings.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      (sum(col("tf")).cast("double") / countDistinct(col("doc_id")))
        .as("avgdl"))

  /** Per-token document frequency + Lucene-style BM25 idf
    * ln(1 + (N − df + 0.5)/(df + 0.5)), rounded 9 dp (always > 0, so
    * rare terms dominate and stop-dense terms fade — no stopword list
    * needed). Vocabulary-bounded. */
  def bm25Idf(postings: DataFrame, stats: DataFrame): DataFrame =
    postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("token"), col("df"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))),
          9).as("idf"))

  /** Score a query term-set against the postings and keep the top-k
    * candidates per query.
    *
    * @param qterms (query_id, token) DISTINCT pairs — the bag-of-unique-
    *               terms query model; tiny, broadcast twice (into the
    *               idf lookup, then with idf attached into the postings
    *               probe) so the corpus side never reshuffles.
    * @param includeSelf keep the query's own document in the candidate
    *               set (snippet self-retrieval wants it; doc-similarity
    *               search excludes it like every ANN twin).
    */
  def bm25TopK(postings: DataFrame, qterms: DataFrame, k: Int,
               includeSelf: Boolean): DataFrame = {
    val stats = bm25Stats(postings)
    bm25TopKWith(postings, stats, bm25Idf(postings, stats), qterms, k,
      includeSelf)
  }

  /** [[bm25TopK]] over EXTERNALLY supplied one-row stats and per-token
    * idf tables — the production index-serving shape (df/idf and the
    * corpus stats ship WITH an inverted index; recomputing them per
    * probe re-scans the index). The registered queries pass their
    * session-staged index; the capped-index eval derives a capped idf
    * from the staged df instead of re-aggregating the capped postings
    * (guide §2.3). The probe's semantics are unchanged: only tokens
    * present in `idf` can contribute, so passing a SUBSET vocabulary's
    * idf prunes the same postings a pre-joined subset index would. */
  def bm25TopKWith(postings: DataFrame, stats: DataFrame, idf: DataFrame,
                   qterms: DataFrame, k: Int,
                   includeSelf: Boolean): DataFrame = {
    val qidf = qterms
      .join(idf, Seq("token"))
      .select(col("token"), col("query_id"), col("idf"))
    val cands = postings
      .join(broadcast(qidf), Seq("token"))
      .filter(if (includeSelf) lit(true)
              else col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
    val norm9 = round(
      lit(K1.toDouble) * ((lit(1.0) - lit(B.toDouble)) +
        lit(B.toDouble) * (col("dl") / col("avgdl"))), 9)
    val contrib9 = round(
      col("idf") * ((col("tf") * lit(K1p1.toDouble)) / (col("tf") + norm9)), 9)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cands
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        contrib9.as("c"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(round(sum(col("c").cast(DecimalType(30, 9))).cast("double"), 6)
        .as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact cosine over 6-dp-rounded unit vectors, boundary-proof: the
    * components are exact 6-decimal values, so scaling by 10⁶ yields
    * integers and the dot runs in EXACT integer arithmetic inside
    * doubles (≤ dim·10¹² ≪ 2⁵³) — no final rounding step, hence no
    * half-up-vs-multiply rounding divergence between engines (a raw
    * `round(dot, 6)` can land exactly on a .5 boundary when the inputs
    * are themselves 6-dp decimals; one row of the first snippet run
    * did). */
  def intScaledCosine(a: Column, b: Column): Column = {
    val sa = transform(a, x => round(x * lit(1000000.0), 0))
    val sb = transform(b, x => round(x * lit(1000000.0), 0))
    call_function("graft_dot", sa, sb) / lit(1.0e12)
  }

  /** Boundary-padded character trigrams of a `token` column, as a
    * space-joined string (tokens are whitespace-free, so the join is
    * lossless) — the fastText-style subword decomposition. Tokens too
    * short for one trigram ('' pads to "^$") yield the empty string.
    * Kept as a SQL expression over a column literally named `padded`
    * so the generated oracle can mirror it text-for-text. */
  private val gramTextExpr =
    """CASE WHEN length(padded) >= 3
      |THEN array_join(transform(sequence(1, length(padded) - 2),
      |  i -> substring(padded, i, 3)), ' ')
      |ELSE '' END""".stripMargin.replace("\n", " ")

  /** Subword embedding of a token set: each DISTINCT token hash-embeds
    * its own trigram bag (the existing hashing-trick machinery, token
    * as the "document") — (token, gvec) with all-cancelled vectors
    * dropped. Vocabulary-bounded compute; out-of-vocabulary QUERY
    * terms embed the same way, which is the whole point: a corrupted
    * term still shares most trigrams with its original. */
  def gramVecs(tokens: DataFrame, dim: Int): DataFrame =
    SimilarityOps.hashEmbed(
      tokens.select(col("token").as("doc_id")).distinct()
        .withColumn("padded", concat(lit("^"), col("doc_id"), lit("$")))
        .withColumn("text", expr(gramTextExpr))
        .select(col("doc_id"), col("text")), dim)
      .select(col("vec_id").as("token"), col("n_emb").as("gvec"))
      .filter(col("gvec").isNotNull)

  /** (token, gram) pairs — the trigram inverted index that NOMINATES
    * candidate (query-term, doc-token) pairs by equality join, so the
    * late-interaction scorer never goes all-pairs. */
  def tokenGrams(tokens: DataFrame): DataFrame =
    tokens.select(col("token")).distinct()
      .withColumn("padded", concat(lit("^"), col("token"), lit("$")))
      .select(col("token"), explode(expr(
        """CASE WHEN length(padded) >= 3
          |THEN transform(sequence(1, length(padded) - 2),
          |  i -> substring(padded, i, 3))
          |ELSE array() END""".stripMargin.replace("\n", " "))).as("gram"))

  /** Late-interaction (ColBERT-shape) scoring over subword vectors:
    * score(q, d) = Σ_{t ∈ q} max_{u ∈ d, t~u} cos(gvec_t, gvec_u),
    * where t~u means the pair shares ≥ 1 trigram (the inverted-index
    * nomination — gram-disjoint pairs contribute 0 BY DEFINITION, so
    * the blocked plan IS the semantics, not an approximation of it).
    * Per-candidate cosines are the exact integer-scaled metric; the
    * per-(query, doc) sum runs and rounds in DECIMAL space (the sum of
    * exact 12-dp values can land on a 6-dp half boundary).
    *
    * @param qterms (query_id, token) query term sets (typos welcome)
    * @param docTokens DISTINCT (doc_id, token) pairs of the corpus
    * @param dvecPre pre-built corpus-vocabulary gram vectors (the frozen
    *                model table a deployment stages next to its index)
    * @param dGramsPre pre-built corpus (token, gram) nomination index —
    *                  the other frozen index artifact; without it every
    *                  call re-derives the vocabulary (a full-postings
    *                  distinct) and re-explodes its trigrams
    */
  def lateInteractionTopK(qterms: DataFrame, docTokens: DataFrame,
                          dim: Int, k: Int,
                          dvecPre: Option[DataFrame] = None,
                          dGramsPre: Option[DataFrame] = None): DataFrame = {
    val dvec = dvecPre.getOrElse(gramVecs(docTokens.select(col("token")), dim))
    val dgrams =
      dGramsPre.getOrElse(tokenGrams(docTokens.select(col("token"))))
    val qvec = gramVecs(qterms.select(col("token")), dim)
    val cand = tokenGrams(qterms.select(col("token")))
      .withColumnRenamed("token", "qterm")
      .join(dgrams.withColumnRenamed("token", "dtoken"), Seq("gram"))
      .select(col("qterm"), col("dtoken")).distinct()
    val cs = cand
      .join(qvec.select(col("token").as("qterm"), col("gvec").as("qv")),
        Seq("qterm"))
      .join(dvec.select(col("token").as("dtoken"), col("gvec").as("dv")),
        Seq("dtoken"))
      .select(col("qterm"), col("dtoken"),
        intScaledCosine(col("qv"), col("dv")).as("cos"))
    val ms = cs
      .join(docTokens.select(col("doc_id"), col("token").as("dtoken")),
        Seq("dtoken"))
      .groupBy(col("qterm"), col("doc_id"))
      .agg(max(col("cos")).as("ms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    qterms.select(col("query_id"), col("token").as("qterm")).distinct()
      .join(ms, Seq("qterm"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("ms").cast(DecimalType(30, 12))), 6)
        .cast("double").as("score"))
      .withColumnRenamed("doc_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Merge a document-frequency delta into a standing df table and
    * report the per-token drift — the shared tail of both incremental
    * BM25 index-maintenance twins (batch and streaming): given the
    * base index's (token, df_before), the arriving delta's (token,
    * df_batch), and the two one-row doc counts, emit (token,
    * df_before, df_batch, df_after, idf_before, idf_after) for every
    * AFFECTED token (idf_before null for tokens new to the index).
    * Count merges are additive, so any micro-batch slicing of the
    * arriving set yields the identical final table. */
  def mergeDfUpdate(dfBase: DataFrame, dfBatch: DataFrame,
                    nBase: DataFrame, nBatch: DataFrame): DataFrame = {
    def idfOf(n: Column, df: Column): Column =
      round(log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5))), 9)
    dfBase.join(dfBatch, Seq("token"), "right")
      .crossJoin(broadcast(nBase)).crossJoin(broadcast(nBatch))
      .select(col("token"),
        coalesce(col("df_before"), lit(0L)).cast("long").as("df_before"),
        col("df_batch").cast("long").as("df_batch"),
        (coalesce(col("df_before"), lit(0L)) + col("df_batch"))
          .cast("long").as("df_after"),
        when(col("df_before").isNull, lit(null).cast("double"))
          .otherwise(idfOf(col("n_base"), col("df_before")))
          .as("idf_before"),
        idfOf(col("n_base") + col("n_batch"),
          coalesce(col("df_before"), lit(0L)) + col("df_batch"))
          .as("idf_after"))
  }

  /** Weighted reciprocal-rank fusion of two rankings (full outer on the
    * (query, candidate) pair): Σ round(w_r/(C+rank_r), 9), absent → 0.
    * Inputs are ≤ |queries|·k rows each, so everything here is
    * broadcast-sized at any corpus scale. */
  def rrfFuse2(a: DataFrame, wa: String, b: DataFrame, wb: String,
               k: Int): DataFrame = {
    val ra = a.select(col("query_id"), col("neighbor_id"), col("rank").as("rank_a"))
    val rb = b.select(col("query_id"), col("neighbor_id"), col("rank").as("rank_b"))
    val fused9 =
      coalesce(round(lit(wa.toDouble) / (lit(RrfC) + col("rank_a")), 9), lit(0.0)) +
      coalesce(round(lit(wb.toDouble) / (lit(RrfC) + col("rank_b")), 9), lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("fused_score").desc, col("neighbor_id").asc)
    ra.join(rb, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"), fused9.as("fused_score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Self-retrieval quality of one ranking: for each query in `qids`
    * the target is the query's own document; emits ONE summary row
    * (retriever, n_queries, n_self_at_1, mrr) with rr rounded 9 dp
    * before the decimal-exact mean. */
  def selfRetrievalEval(ranked: DataFrame, qids: Seq[Long],
                        tag: String): DataFrame = {
    val s = ranked.sparkSession
    import s.implicits._
    val qs = qids.toDF("query_id")
    val selfRr = when(col("neighbor_id") === col("query_id"),
      round(lit(1.0) / col("rank"), 9))
    val selfHit1 = when(col("neighbor_id") === col("query_id") &&
      col("rank") === 1, lit(1)).otherwise(lit(0))
    qs.join(ranked, Seq("query_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(max(selfRr), lit(0.0)).as("rr"),
        coalesce(max(selfHit1), lit(0)).as("hit1"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("hit1")).cast("long").as("n_self_at_1"),
        round(sum(col("rr").cast(DecimalType(30, 9))).cast("double")
          / qids.size, 6).as("mrr"))
      .select(lit(tag).as("retriever"), col("n_queries"),
        col("n_self_at_1"), col("mrr"))
  }
}
