package graft.queries

import graft.{Q, Tables}
import graft.ops.{RetrievalOps, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleFrags._

/** Sparse (BM25) retrieval + the sparse↔dense hybrid — the retrieval
  * modality the engine's ANN family did not cover: lexical search over
  * an inverted index, out-of-corpus query embedding, and rank fusion
  * across the two, with a self-retrieval eval that has REAL ground
  * truth (a snippet's target is its own source document).
  *
  * Query model: `bm25_topk` uses whole documents as queries (related-
  * document search, self excluded — the ANN-twin convention); the
  * snippet family queries with each document's first [[SnipLen]] tokens
  * (search-box realism, self included — the target IS self).
  */
object RetrievalQueries {

  // ── constants (final vals: interpolated into oracle SQL during
  //    object init — the SimilarityQueries WIvf lesson) ──────────────
  private final val BmK = 10
  private final val SnipLen = 8
  private final val EmbDim = 16 // must match SimilarityQueries hash-embed dim
  private val BmQueryIds: Seq[Long] = 0L to 9L
  private val SnipQueryIds: Seq[Long] = 0L to 29L
  private val bmIdList = BmQueryIds.mkString("(", ", ", ")")
  private val snipIdList = SnipQueryIds.mkString("(", ", ", ")")
  private val snipIdArray = SnipQueryIds.mkString("[", ", ", "]")

  /** Fusion weights. Equal weights MEASURED to win here (sf0.01
    * snippet_retrieval_eval: hybrid self@1 7/30, MRR 0.286 vs BM25
    * 4/30 / 0.220 and dense 3/30 / 0.151) — unlike the dense-only RRF
    * family, where the inputs shared one modality and equal-weight
    * fusion diluted the best index (the round-7 lesson that led to
    * recall-weighted wRRF): sparse and dense rankings here disagree in
    * COMPLEMENTARY ways, which is exactly when reciprocal-rank fusion
    * pays. RetrievalSpec pins hybrid MRR ≥ max(single) on the fixture. */
  private final val WBm = "0.5"
  private final val WDen = "0.5"

  /** Incremental-append batch predicate constants: doc_id ≡ AppendRem
    * (mod AppendMod) AND doc_id < AppendCap — a FIXED-size batch at
    * every fixture scale, so the decade measurement isolates per-batch
    * cost from corpus growth. */
  private final val AppendMod = 7
  private final val AppendRem = 3
  private final val AppendCap = 3500L

  /** Posting-cap knob for bm25_capped_eval: tokens present in more
    * than this fraction of documents leave the capped index. */
  private final val CapFrac = "0.5"

  /** PRF (RM3-lite) knobs: feedback depth and expansion width. */
  private final val PrfF = 3
  private final val PrfE = 4

  /** The arriving-batch membership predicate (Spark side). */
  private def isAppendBatch: org.apache.spark.sql.Column =
    (col("doc_id") % AppendMod === AppendRem) && (col("doc_id") < AppendCap)

  // ── Spark-side staged artifacts ───────────────────────────────────

  /** Corpus family selector: "" = the fixture documents table,
    * "zipf_" = the deterministically regenerated power-law corpus
    * ([[Staged.zipfDocs]]) — the positive regime for the idf-weighted
    * evals. Family helpers key their staged artifacts by the prefix. */
  private def famDocs(s: SparkSession, dir: String, fam: String): DataFrame =
    if (fam.isEmpty) Tables.documents(s, dir) else Staged.zipfDocs(s, dir)

  /** Posting list (doc_id, token, tf, dl), one tokenize pass, cached —
    * the inverted index every query here probes. */
  private def postings(s: SparkSession, dir: String): DataFrame =
    postingsFam(s, dir, "")

  private def postingsFam(s: SparkSession, dir: String,
                          fam: String): DataFrame =
    Staged.retrieval(s, dir, s"${fam}bm25_postings") {
      RetrievalOps.bm25Postings(famDocs(s, dir, fam))
    }

  /** The published BM25 index of a corpus family: its postings, the
    * one-row corpus stats (n_docs, avgdl) and the per-token
    * (token, df, idf) table — the stats and idf every production
    * inverted index ships NEXT TO its postings, staged once per family
    * with the postings' lifecycle. Every ranked probe here reads it
    * through `bm25TopKWith`; re-deriving df, idf and the stats per call
    * re-aggregated the whole postings table on every query. */
  private def bm25IndexFam(s: SparkSession, dir: String,
                           fam: String): (DataFrame, DataFrame, DataFrame) = {
    val posts = postingsFam(s, dir, fam)
    val stats = Staged.retrieval(s, dir, s"${fam}bm25_stats") {
      RetrievalOps.bm25Stats(posts)
    }
    val idf = Staged.retrieval(s, dir, s"${fam}bm25_idf") {
      RetrievalOps.bm25Idf(posts, stats)
    }
    (posts, stats, idf)
  }

  /** Top-k BM25 candidates of `qterms` over the family's staged index. */
  private def bm25TopKFam(s: SparkSession, dir: String, fam: String,
                          qterms: DataFrame,
                          includeSelf: Boolean): DataFrame = {
    val (posts, stats, idf) = bm25IndexFam(s, dir, fam)
    RetrievalOps.bm25TopKWith(posts, stats, idf, qterms, BmK, includeSelf)
  }

  /** Hash-embedded corpus at [[EmbDim]] dims (null vectors dropped). */
  private def corpusEmb(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "doc_emb16") {
      SimilarityOps.hashEmbed(Tables.documents(s, dir), EmbDim)
        .filter(col("n_emb").isNotNull)
    }

  /** (query_id, token) DISTINCT term sets: whole-document queries. */
  private def qtermsFull(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id").isInCollection(BmQueryIds))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(graft.ops.TextOps.tokens(col("text"))))
          .as("token"))

  /** (query_id, token) DISTINCT term sets: first-[[SnipLen]]-token
    * snippet queries. */
  private def qtermsSnip(s: SparkSession, dir: String): DataFrame =
    qtermsSnipFam(s, dir, "")

  private def qtermsSnipFam(s: SparkSession, dir: String,
                            fam: String): DataFrame =
    famDocs(s, dir, fam)
      .filter(col("doc_id").isInCollection(SnipQueryIds))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(
          slice(graft.ops.TextOps.tokens(col("text")), 1, SnipLen)))
          .as("token"))

  /** Snippet BM25 ranking (self included), cached — feeds its own
    * query, the fusion, and the eval. */
  private def snipBm25(s: SparkSession, dir: String): DataFrame =
    snipBm25Fam(s, dir, "")

  private def snipBm25Fam(s: SparkSession, dir: String,
                          fam: String): DataFrame =
    Staged.retrieval(s, dir, s"${fam}snip_bm25") {
      bm25TopKFam(s, dir, fam, qtermsSnipFam(s, dir, fam),
        includeSelf = true)
    }

  /** Snippet dense ranking: embed the snippet OUT of corpus (the query
    * side of a production vector search never ships with the index),
    * brute cosine vs the corpus embeddings. Queries broadcast; the
    * corpus streams once — at 100 TB the same query frame drops into
    * the IVF/pruned probe paths the ANN family demonstrates. */
  private def snipDense(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "snip_dense") {
      val snipDocs = Tables.documents(s, dir)
        .filter(col("doc_id").isInCollection(SnipQueryIds))
        .select(col("doc_id"),
          concat_ws(" ",
            slice(graft.ops.TextOps.tokens(col("text")), 1, SnipLen))
            .as("text"))
      val q = SimilarityOps.hashEmbed(snipDocs, EmbDim)
        .filter(col("n_emb").isNotNull)
        .select(col("vec_id").as("query_id"), col("n_emb").as("q_emb"))
      SimilarityOps.topKPerQuery(corpusEmb(s, dir).crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          RetrievalOps.intScaledCosine(col("q_emb"), col("n_emb"))
            .as("cosine_sim")), BmK)
    }

  /** The corrupted snippet term sets (query_id, token): every ≥4-char
    * term loses its last character — the shared typo model of the
    * correction, raw-BM25, and late-interaction arms. */
  private def qtermsTypo(s: SparkSession, dir: String): DataFrame =
    qtermsSnip(s, dir)
      .select(col("query_id"),
        when(length(col("token")) >= 4,
          expr("substring(token, 1, length(token) - 1)"))
          .otherwise(col("token")).as("token"))
      .distinct()

  /** Corpus-vocabulary subword (trigram) vectors, cached — the static
    * model table the late-interaction scorer reads (vocab-bounded);
    * shared by token_gram_vecs, the colbert ranking, and every
    * micro-batch of the streaming search. */
  private def corpusGramVecs(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "gram_vecs") {
      RetrievalOps.gramVecs(postings(s, dir).select(col("token")), EmbDim)
    }

  /** Corpus-vocabulary (token, gram) trigram nomination index, cached —
    * the second frozen index artifact next to [[corpusGramVecs]]: built
    * once when the index is built, read by the colbert ranking and by
    * EVERY micro-batch of the streaming search (which otherwise pays a
    * full-postings distinct + gram explode per batch — §2.4). */
  private def corpusTokenGrams(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "gram_index") {
      RetrievalOps.tokenGrams(postings(s, dir).select(col("token")))
    }

  /** Late-interaction ranking on the corrupted terms, cached (its own
    * query + the typo eval read it). */
  private def typoColbert(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "typo_colbert") {
      RetrievalOps.lateInteractionTopK(qtermsTypo(s, dir),
        // postings are unique per (doc_id, token) by construction —
        // no distinct needed (§2.4)
        postings(s, dir).select(col("doc_id"), col("token")),
        EmbDim, BmK, Some(corpusGramVecs(s, dir)),
        Some(corpusTokenGrams(s, dir)))
    }

  /** Raw-typo BM25 ranking, cached — the eval's first arm. Staged for
    * the same reason as typoColbert: the three-arm eval should bill the
    * COMPARISON (three small eval joins), not recompute two full BM25
    * rank pipelines per rep while the third arm reads a staged table
    * (the round-10 `weak`: 2.12 → 5.02 s from exactly that asymmetry). */
  private def typoBm25Raw(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "typo_bm25_raw") {
      bm25TopKFam(s, dir, "", qtermsTypo(s, dir), includeSelf = true)
    }

  /** Corrected-terms BM25 ranking, cached — the eval's second arm. */
  private def typoBm25Corr(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "typo_bm25_corr") {
      bm25TopKFam(s, dir, "",
        typoCorrections(s, dir)
          .select(col("query_id"), col("corrected").as("token"))
          .distinct(), includeSelf = true)
    }

  /** Spell correction of deterministically corrupted snippet terms
    * (the last character of every ≥4-char term dropped — the typo
    * model): candidates = vocabulary tokens sharing the FIRST-char
    * block within levenshtein ≤ 2, winner = (min dist, lex token).
    * The blocked join is the fuzzy-linkage discipline (LinkageOps):
    * equality on the block key, edit distance only inside blocks —
    * Σ|block|² bounded by the vocabulary, never the corpus. Cached:
    * both typo queries read it. */
  private def typoCorrections(s: SparkSession, dir: String): DataFrame =
    Staged.retrieval(s, dir, "typo_corr") {
      val vocab = postings(s, dir).select(col("token")).distinct()
        .select(col("token").as("vtok"))
      val qt = qtermsTypo(s, dir)
        .withColumnRenamed("token", "typo_term")
      val w = Window.partitionBy(col("query_id"), col("typo_term"))
        .orderBy(col("dist").asc, col("vtok").asc)
      qt.join(vocab,
          substring(col("typo_term"), 1, 1) === substring(col("vtok"), 1, 1) &&
          levenshtein(col("typo_term"), col("vtok")) <= 2)
        .withColumn("dist", levenshtein(col("typo_term"), col("vtok")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("typo_term"),
          col("vtok").as("corrected"), col("dist").cast("int").as("dist"))
    }

  /** Pseudo-relevance-feedback expansion terms, cached: per query the
    * top-[[PrfE]] NEW terms (not already in the query) ranked by
    * Σ_{d ∈ top-PrfF feedback docs} tf·idf — the RM3 shape with the
    * original terms kept at full weight. Sums run in DECIMAL(30,9)
    * (exact, order-free); candidates are (queries × feedback-doc
    * vocabulary)-bounded, never corpus-bounded. */
  private def prfTerms(s: SparkSession, dir: String): DataFrame =
    prfTermsFam(s, dir, "")

  private def prfTermsFam(s: SparkSession, dir: String,
                          fam: String): DataFrame =
    Staged.retrieval(s, dir, s"${fam}prf_terms") {
      val (posts, _, bm25Idf) = bm25IndexFam(s, dir, fam)
      val idf = bm25Idf.select(col("token"), col("idf"))
      val fb = snipBm25Fam(s, dir, fam).filter(col("rank") <= PrfF)
        .select(col("query_id"), col("neighbor_id"))
      val cand = fb.join(posts, fb("neighbor_id") === posts("doc_id"))
        .join(idf, Seq("token"))
        .groupBy(col("query_id"), col("token"))
        .agg(sum(round(col("tf") * col("idf"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(30, 9))).as("wdec"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("wdec").desc, col("token").asc)
      cand
        .join(qtermsSnipFam(s, dir, fam), Seq("query_id", "token"),
          "left_anti")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= PrfE)
        .select(col("query_id"), col("token"), col("wdec"))
    }

  /** Expanded query term sets: original snippet terms ∪ PRF terms. */
  private def qtermsPrf(s: SparkSession, dir: String): DataFrame =
    qtermsPrfFam(s, dir, "")

  private def qtermsPrfFam(s: SparkSession, dir: String,
                           fam: String): DataFrame =
    qtermsSnipFam(s, dir, fam)
      .unionByName(
        prfTermsFam(s, dir, fam).select(col("query_id"), col("token")))
      .distinct()

  /** The PRF-expanded ranking, cached (its own query + the eval). */
  private def prfRanked(s: SparkSession, dir: String): DataFrame =
    prfRankedFam(s, dir, "")

  private def prfRankedFam(s: SparkSession, dir: String,
                           fam: String): DataFrame =
    Staged.retrieval(s, dir, s"${fam}prf_ranked") {
      bm25TopKFam(s, dir, fam, qtermsPrfFam(s, dir, fam),
        includeSelf = true)
    }

  /** Force this family's staged artifacts (Staged.prewarm hook). */
  private[queries] def prewarm(s: SparkSession, dir: String): Unit = {
    def warmIndex(fam: String): Unit = {
      val (posts, stats, idf) = bm25IndexFam(s, dir, fam)
      posts.count(); stats.count(); idf.count()
    }
    warmIndex("")
    corpusEmb(s, dir).count()
    snipBm25(s, dir).count()
    snipDense(s, dir).count()
    typoCorrections(s, dir).count()
    corpusGramVecs(s, dir).count()
    corpusTokenGrams(s, dir).count()
    typoColbert(s, dir).count()
    typoBm25Raw(s, dir).count()
    typoBm25Corr(s, dir).count()
    prfTerms(s, dir).count()
    prfRanked(s, dir).count()
    // zipf-regime family (the *_zipf evals): regenerated corpus +
    // its postings/rankings — the lifecycle contract (no staged key
    // created outside prewarm) covers both corpus families
    Staged.zipfDocs(s, dir).count()
    warmIndex("zipf_")
    snipBm25Fam(s, dir, "zipf_").count()
    prfTermsFam(s, dir, "zipf_").count()
    prfRankedFam(s, dir, "zipf_").count()
    ()
  }

  // ── oracle fragments ──────────────────────────────────────────────

  /** Postings + stats + idf CTE chain (`post`, `pstats`, `pidf`) —
    * mirrors RetrievalOps.bm25Postings/bm25Stats/bm25Idf. */
  private val postWith: String =
    s"""ptoks AS (SELECT doc_id, unnest($toks) AS token FROM documents),
       |ptf AS (SELECT doc_id, token, count(*) AS tf
       |  FROM ptoks GROUP BY 1, 2),
       |post AS (SELECT doc_id, token, tf,
       |  sum(tf) OVER (PARTITION BY doc_id) AS dl FROM ptf),
       |pstats AS (SELECT count(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(tf) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
       |  FROM post),
       |pdf AS (SELECT token, count(*) AS df FROM post GROUP BY token),
       |pidf AS (SELECT token, df,
       |  round(ln(CAST(1.0 AS DOUBLE) +
       |    (n_docs - df + CAST(0.5 AS DOUBLE)) /
       |    (df + CAST(0.5 AS DOUBLE))), 9) AS idf
       |  FROM pdf CROSS JOIN pstats)""".stripMargin.replace("\n", " ")

  /** BM25 ranked top-k for a (query_id, token) term-set relation over
    * NAMED postings/idf/stats relations — mirrors RetrievalOps.bm25TopKWith
    * (9-dp idf/norm/contrib rounding, DECIMAL(30,9) candidate sums,
    * 6-dp scores). */
  private def bm25RankSqlOver(postRel: String, idfRel: String,
                              statsRel: String, qtermsRel: String,
                              includeSelf: Boolean, k: Int): String = {
    val selfPred = if (includeSelf) "" else "WHERE p.doc_id <> q.query_id"
    s"""SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id ASC) AS rnk
       |  FROM (
       |    SELECT q.query_id, p.doc_id AS neighbor_id,
       |    round(CAST(SUM(CAST(round(i.idf *
       |      ((p.tf * CAST(${RetrievalOps.K1p1} AS DOUBLE)) /
       |       (p.tf + round(CAST(${RetrievalOps.K1} AS DOUBLE) *
       |         ((CAST(1.0 AS DOUBLE) - CAST(${RetrievalOps.B} AS DOUBLE)) +
       |          CAST(${RetrievalOps.B} AS DOUBLE) * (p.dl / avgdl)), 9))),
       |      9) AS DECIMAL(30,9))) AS DOUBLE), 6) AS score
       |    FROM $postRel p JOIN ($qtermsRel) q ON p.token = q.token
       |    JOIN $idfRel i ON p.token = i.token
       |    CROSS JOIN $statsRel
       |    $selfPred
       |    GROUP BY 1, 2))
       |WHERE rnk <= $k""".stripMargin.replace("\n", " ")
  }

  /** [[bm25RankSqlOver]] bound to the standard postWith names. */
  private def bm25RankSql(qtermsRel: String, includeSelf: Boolean,
                          k: Int): String =
    bm25RankSqlOver("post", "pidf", "pstats", qtermsRel, includeSelf, k)

  private val qtFullRel: String =
    s"""SELECT doc_id AS query_id, unnest(list_distinct($toks)) AS token
       |FROM documents WHERE doc_id IN $bmIdList"""
      .stripMargin.replace("\n", " ")

  private val qtSnipRel: String =
    s"""SELECT doc_id AS query_id,
       |unnest(list_distinct(($toks)[1:$SnipLen])) AS token
       |FROM documents WHERE doc_id IN $snipIdList"""
      .stripMargin.replace("\n", " ")

  private val bmTopkSql: String =
    s"WITH $postWith ${bm25RankSql(qtFullRel, includeSelf = false, BmK)}"

  private val snipBm25Sql: String =
    s"WITH $postWith ${bm25RankSql(qtSnipRel, includeSelf = true, BmK)}"

  /** Integer-scaled exact cosine — mirrors RetrievalOps.intScaledCosine
    * (see its boundary-proof rationale). */
  private def intDotCosine(a: String, b: String, dim: Int): String =
    s"""list_sum(list_transform(range(1, ${dim + 1}),
       |  i -> round(($a)[i] * 1000000.0, 0) * round(($b)[i] * 1000000.0, 0)))
       |/ 1000000000000.0""".stripMargin.replace("\n", " ")

  /** Typo-corrected snippet-term CTE chain (`vcbr`, `tqt`, `tcorr`) —
    * mirrors [[typoCorrections]]; needs `post` in scope. */
  private val typoWith: String =
    s"""vcbr AS (SELECT DISTINCT token AS vtok FROM post),
       |tqt AS (SELECT DISTINCT query_id,
       |  CASE WHEN length(token) >= 4
       |    THEN substring(token, 1, length(token) - 1)
       |    ELSE token END AS typo_term
       |  FROM ($qtSnipRel)),
       |tcorr AS (SELECT query_id, typo_term, vtok AS corrected,
       |  CAST(dist AS INT) AS dist FROM (
       |  SELECT tqt.query_id, tqt.typo_term, v.vtok,
       |    levenshtein(tqt.typo_term, v.vtok) AS dist,
       |    row_number() OVER (PARTITION BY tqt.query_id, tqt.typo_term
       |      ORDER BY levenshtein(tqt.typo_term, v.vtok) ASC, v.vtok ASC)
       |      AS rn
       |  FROM tqt JOIN vcbr v
       |  ON substring(tqt.typo_term, 1, 1) = substring(v.vtok, 1, 1)
       |  AND levenshtein(tqt.typo_term, v.vtok) <= 2)
       |  WHERE rn = 1)""".stripMargin.replace("\n", " ")

  /** Trigram "document" relation over a (token) vocabulary relation —
    * mirrors RetrievalOps.gramVecs' input shaping (boundary-padded
    * trigrams, space-joined; sub-trigram tokens yield ''). */
  private def gramTextRel(vocabRel: String): String =
    s"""SELECT token AS doc_id,
       |CASE WHEN length(padded) >= 3
       |THEN array_to_string(list_transform(range(1, length(padded) - 1),
       |  i -> substring(padded, i, 3)), ' ')
       |ELSE '' END AS text
       |FROM (SELECT DISTINCT token, '^' || token || '$$' AS padded
       |  FROM ($vocabRel))""".stripMargin.replace("\n", " ")

  /** (token, gram) trigram inverted index over a vocabulary relation —
    * mirrors RetrievalOps.tokenGrams. */
  private def gramsRel(vocabRel: String): String =
    s"""SELECT token, unnest(CASE WHEN length(padded) >= 3
       |THEN list_transform(range(1, length(padded) - 1),
       |  i -> substring(padded, i, 3))
       |ELSE [] END) AS gram
       |FROM (SELECT DISTINCT token, '^' || token || '$$' AS padded
       |  FROM ($vocabRel))""".stripMargin.replace("\n", " ")

  /** Late-interaction CTE chain (`dvec, qvec, qg, dg, cand, cs, msx,
    * colb`) — mirrors RetrievalOps.lateInteractionTopK; needs `post`
    * and `tqt` in scope. */
  private lazy val colbertSql: String = {
    val dvocab = "SELECT DISTINCT token FROM post"
    val qvocab = "SELECT DISTINCT typo_term AS token FROM tqt"
    s"""dvec AS (SELECT vec_id AS token, n_emb
       |  FROM (${hashEmbedOver(gramTextRel(dvocab), EmbDim)})
       |  WHERE n_emb IS NOT NULL),
       |qvec AS (SELECT vec_id AS token, n_emb
       |  FROM (${hashEmbedOver(gramTextRel(qvocab), EmbDim)})
       |  WHERE n_emb IS NOT NULL),
       |qg AS (${gramsRel(qvocab)}),
       |dg AS (${gramsRel(dvocab)}),
       |cand AS (SELECT DISTINCT qg.token AS qterm, dg.token AS dtoken
       |  FROM qg JOIN dg ON qg.gram = dg.gram),
       |cs AS (SELECT cand.qterm, cand.dtoken,
       |  ${intDotCosine("qv.n_emb", "dv.n_emb", EmbDim)} AS cos
       |  FROM cand JOIN qvec qv ON cand.qterm = qv.token
       |  JOIN dvec dv ON cand.dtoken = dv.token),
       |msx AS (SELECT cs.qterm, dt.doc_id, max(cos) AS ms
       |  FROM cs JOIN (SELECT DISTINCT doc_id, token FROM post) dt
       |  ON cs.dtoken = dt.token GROUP BY 1, 2),
       |colb AS (
       |  SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rnk
       |    FROM (SELECT t.query_id, m.doc_id AS neighbor_id,
       |      CAST(round(SUM(CAST(m.ms AS DECIMAL(30,12))), 6) AS DOUBLE)
       |        AS score
       |      FROM (SELECT DISTINCT query_id, typo_term AS qterm FROM tqt) t
       |      JOIN msx m ON t.qterm = m.qterm
       |      GROUP BY 1, 2))
       |  WHERE rnk <= $BmK)""".stripMargin.replace("\n", " ")
  }

  /** PRF expansion CTE chain (`prf_fb, prf_cand, prf_new, prf_terms`)
    * — mirrors [[prfTerms]]/[[qtermsPrf]]; needs postWith in scope. */
  private val prfWith: String =
    s"""prf_fb AS (SELECT query_id, neighbor_id
       |  FROM ($snipBm25Sql) WHERE rank <= $PrfF),
       |prf_cand AS (
       |  SELECT b.query_id, p.token,
       |  SUM(CAST(round(p.tf * i.idf, 9) AS DECIMAL(30,9))) AS wdec
       |  FROM prf_fb b JOIN post p ON b.neighbor_id = p.doc_id
       |  JOIN pidf i ON p.token = i.token
       |  GROUP BY 1, 2),
       |prf_new AS (
       |  SELECT query_id, token, wdec FROM (
       |    SELECT c.query_id, c.token, c.wdec,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY c.wdec DESC, c.token ASC) AS rn
       |    FROM prf_cand c
       |    LEFT JOIN ($qtSnipRel) q0
       |    ON c.query_id = q0.query_id AND c.token = q0.token
       |    WHERE q0.token IS NULL)
       |  WHERE rn <= $PrfE),
       |prf_terms AS (
       |  SELECT query_id, token FROM ($qtSnipRel)
       |  UNION SELECT query_id, token FROM prf_new)"""
      .stripMargin.replace("\n", " ")

  /** PRF-expanded snippet ranking — mirrors [[prfRanked]]. */
  private val prfRankedSql: String =
    bm25RankSql("SELECT query_id, token FROM prf_terms",
      includeSelf = true, BmK)

  /** Snippet text relation (doc_id, text = first SnipLen tokens). */
  private val snipRel: String =
    s"""SELECT doc_id, array_to_string(($toks)[1:$SnipLen], ' ') AS text
       |FROM documents WHERE doc_id IN $snipIdList"""
      .stripMargin.replace("\n", " ")

  /** Dense snippet ranking — mirrors [[snipDense]]. */
  private val snipDenseSql: String =
    s"""SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${intDotCosine("q.n_emb", "c.n_emb", EmbDim)} AS cosine_sim
       |    FROM (${hashEmbedOver("SELECT doc_id, text FROM documents", EmbDim)}) c,
       |         (${hashEmbedOver(snipRel, EmbDim)}) q
       |    WHERE c.n_emb IS NOT NULL AND q.n_emb IS NOT NULL))
       |WHERE rnk <= $BmK""".stripMargin.replace("\n", " ")

  /** Weighted-RRF fusion of the two snippet rankings — mirrors
    * RetrievalOps.rrfFuse2. */
  private val snipFusedSql: String =
    s"""SELECT query_id, neighbor_id, fused_score, CAST(rnk AS INT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY fused_score DESC, neighbor_id ASC) AS rnk
       |  FROM (
       |    SELECT COALESCE(b.query_id, d.query_id) AS query_id,
       |    COALESCE(b.neighbor_id, d.neighbor_id) AS neighbor_id,
       |    COALESCE(round(CAST($WBm AS DOUBLE) /
       |      (${RetrievalOps.RrfC} + b.rank), 9), CAST(0.0 AS DOUBLE)) +
       |    COALESCE(round(CAST($WDen AS DOUBLE) /
       |      (${RetrievalOps.RrfC} + d.rank), 9), CAST(0.0 AS DOUBLE))
       |      AS fused_score
       |    FROM ($snipBm25Sql) b FULL OUTER JOIN ($snipDenseSql) d
       |    ON b.query_id = d.query_id AND b.neighbor_id = d.neighbor_id))
       |WHERE rnk <= $BmK""".stripMargin.replace("\n", " ")

  /** Shared body of the posting-cap eval — the flat and zipf corpus
    * families run the identical operator; only the staged inputs
    * differ (see [[famDocs]]). */
  private def cappedEvalBody(s: SparkSession, dir: String,
                             fam: String): DataFrame = {
    // Pass-minimized form (guide §2.3/§2.4 — the before-plan rebuilt
    // the posts⨝keep join, and the df aggregate feeding `keep`, once
    // per consumer: capped stats, capped idf, the probe, and the
    // capped-postings count each re-derived them, ~10 full passes over
    // the 8.6M-row postings index; 150 Exchanges at sf0.1). Everything
    // vocabulary-bounded is derived ONCE from the staged index's df:
    //  - kept tokens carry their df, so capped idf needs NO postings
    //    pass (df over the capped index ≡ df over the full index for a
    //    kept token — a capped token loses ALL its postings);
    //  - n_postings_capped = Σ df over kept tokens (same identity), and
    //    n_postings_full = Σ df over all tokens (postings are unique per
    //    (doc_id, token));
    //  - the probe runs on the FULL postings joined to the kept-token
    //    query idf: qidf only contains kept tokens, so posts⨝qidf ≡
    //    capped⨝qidf row-for-row.
    // Remaining full-postings passes: capped cstats, probe — 2.
    val (posts, stats, idf) = bm25IndexFam(s, dir, fam)
    val keepDf = idf.crossJoin(broadcast(stats.select(col("n_docs"))))
      .filter(col("df") <= col("n_docs") * lit(CapFrac.toDouble))
      .select(col("token"), col("df"))
    val capped = posts.join(keepDf.select(col("token")), Seq("token"))
    val cstats = capped.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      (sum(col("tf")).cast("double") / countDistinct(col("doc_id")))
        .as("avgdl"))
    val cidf = keepDf.crossJoin(broadcast(cstats.select(col("n_docs"))))
      .select(col("token"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))),
          9).as("idf"))
    val cr = RetrievalOps.bm25TopKWith(posts, cstats, cidf,
        qtermsSnipFam(s, dir, fam), BmK, includeSelf = true)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val full = snipBm25Fam(s, dir, fam)
      .select(col("query_id"), col("neighbor_id"))
    val nFull = idf.agg(coalesce(sum(col("df")), lit(0L))
      .as("n_postings_full"))
    val nCap = keepDf.agg(coalesce(sum(col("df")), lit(0L))
      .as("n_postings_capped"))
    full.join(cr, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).cast("long").as("n_common"))
      .crossJoin(broadcast(nFull)).crossJoin(broadcast(nCap))
      .select(col("query_id"), col("n_common"),
        round(col("n_common") / lit(BmK.toDouble), 6)
          .as("overlap_at_k"),
        col("n_postings_full").cast("long").as("n_postings_full"),
        col("n_postings_capped").cast("long").as("n_postings_capped"))
      .orderBy("query_id")
  }

  /** Rebind an oracle statement's corpus to the zipf-regime CTE: every
    * corpus reference in this family's SQL is literally
    * `FROM documents` (scan relations and id-filtered query relations
    * alike), so the rewrite is a word-bounded token swap plus the
    * MATERIALIZED zdocs definition up front. The swap's blast radius
    * is pinned by construction: the match is `FROM documents\b` (a
    * `documents_x` relation can never be rewritten) and the guards
    * below fail LOUDLY — at object init, since the oracles are lazy
    * vals forced by registration — if a future oracle fragment stops
    * matching the contract, instead of silently rebinding the wrong
    * relation. */
  private def zipfOracle(orig: String): String = {
    require(orig.startsWith("WITH "), "oracle must be a WITH statement")
    val token = "FROM documents\\b".r
    require(token.findFirstIn(orig).isDefined,
      "zipfOracle: no 'FROM documents' corpus reference to rebind")
    require(!orig.contains("documents_"),
      "zipfOracle: a documents_-prefixed relation is present — the " +
        "token swap contract no longer holds for this fragment")
    s"WITH ${OracleFrags.zdocsCte}, " +
      token.replaceAllIn(orig.stripPrefix("WITH "), "FROM zdocs")
  }

  /** Capped-index eval oracle (flat corpus; [[zipfOracle]] rebinds). */
  private lazy val cappedEvalOracleSql: String =
    s"""WITH $postWith,
       |ndr AS (SELECT count(DISTINCT doc_id) AS nd FROM post),
       |keep AS (SELECT token FROM pdf CROSS JOIN ndr
       |  WHERE df <= nd * CAST($CapFrac AS DOUBLE)),
       |cpost AS (SELECT post.* FROM post JOIN keep
       |  ON post.token = keep.token),
       |cstats AS (SELECT count(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(tf) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
       |  FROM cpost),
       |cdf AS (SELECT token, count(*) AS df FROM cpost GROUP BY token),
       |cidf AS (SELECT token, df,
       |  round(ln(CAST(1.0 AS DOUBLE) +
       |    (n_docs - df + CAST(0.5 AS DOUBLE)) /
       |    (df + CAST(0.5 AS DOUBLE))), 9) AS idf
       |  FROM cdf CROSS JOIN cstats),
       |cranked AS (${bm25RankSqlOver("cpost", "cidf", "cstats",
          qtSnipRel, includeSelf = true, BmK)}),
       |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_postings_full
       |  FROM post),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_postings_capped
       |  FROM cpost)
       |SELECT f.query_id, CAST(count(c.neighbor_id) AS BIGINT)
       |  AS n_common,
       |round(count(c.neighbor_id) / ${BmK.toDouble}, 6) AS overlap_at_k,
       |n_postings_full, n_postings_capped
       |FROM ($snipBm25Sql) f LEFT JOIN cranked c
       |ON f.query_id = c.query_id AND f.neighbor_id = c.neighbor_id
       |CROSS JOIN nf CROSS JOIN nc
       |GROUP BY f.query_id, n_postings_full, n_postings_capped
       |ORDER BY f.query_id""".stripMargin.replace("\n", " ")

  /** PRF self-retrieval eval oracle (flat corpus; [[zipfOracle]]
    * rebinds). */
  private lazy val prfEvalOracleSql: String =
    s"""WITH $postWith, $prfWith
       |SELECT * FROM (
       |${evalArmSql("bm25", snipBm25Sql)}
       |UNION ALL ${evalArmSql("bm25_prf", prfRankedSql)})
       |ORDER BY retriever""".stripMargin.replace("\n", " ")

  /** One eval arm — mirrors RetrievalOps.selfRetrievalEval. */
  private def evalArmSql(tag: String, rankedSql: String): String =
    s"""SELECT '$tag' AS retriever, CAST(count(*) AS BIGINT) AS n_queries,
       |CAST(SUM(hit1) AS BIGINT) AS n_self_at_1,
       |round(CAST(SUM(CAST(rr AS DECIMAL(30,9))) AS DOUBLE)
       |  / ${SnipQueryIds.size}, 6) AS mrr
       |FROM (
       |  SELECT qs.query_id,
       |  coalesce(max(CASE WHEN r.neighbor_id = qs.query_id
       |    THEN round(CAST(1.0 AS DOUBLE) / r.rank, 9) END),
       |    CAST(0.0 AS DOUBLE)) AS rr,
       |  coalesce(max(CASE WHEN r.neighbor_id = qs.query_id
       |    AND r.rank = 1 THEN 1 ELSE 0 END), 0) AS hit1
       |  FROM (SELECT unnest($snipIdArray) AS query_id) qs
       |  LEFT JOIN ($rankedSql) r ON qs.query_id = r.query_id
       |  GROUP BY qs.query_id)""".stripMargin.replace("\n", " ")

  /** Incremental df/idf merge oracle — shared VERBATIM by the batch
    * and streaming maintenance twins (count merges are additive, so
    * the streamed delta log compacts to the identical table). */
  private val appendSql: String =
    s"""WITH bdf AS (
         |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_before
         |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents
         |        WHERE NOT (doc_id % $AppendMod = $AppendRem
         |          AND doc_id < $AppendCap))
         |  GROUP BY token),
         |adf AS (
         |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_batch
         |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents
         |        WHERE doc_id % $AppendMod = $AppendRem
         |          AND doc_id < $AppendCap)
         |  GROUP BY token),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_base FROM documents
         |  WHERE NOT (doc_id % $AppendMod = $AppendRem
         |    AND doc_id < $AppendCap)),
         |na AS (SELECT CAST(count(*) AS BIGINT) AS n_batch FROM documents
         |  WHERE doc_id % $AppendMod = $AppendRem AND doc_id < $AppendCap)
         |SELECT adf.token,
         |CAST(COALESCE(df_before, 0) AS BIGINT) AS df_before,
         |df_batch,
         |CAST(COALESCE(df_before, 0) + df_batch AS BIGINT) AS df_after,
         |CASE WHEN df_before IS NULL THEN NULL
         |  ELSE round(ln(CAST(1.0 AS DOUBLE) +
         |    (n_base - df_before + CAST(0.5 AS DOUBLE)) /
         |    (df_before + CAST(0.5 AS DOUBLE))), 9) END AS idf_before,
         |round(ln(CAST(1.0 AS DOUBLE) +
         |  ((n_base + n_batch) - (COALESCE(df_before, 0) + df_batch)
         |    + CAST(0.5 AS DOUBLE)) /
         |  ((COALESCE(df_before, 0) + df_batch) + CAST(0.5 AS DOUBLE))), 9)
         |  AS idf_after
         |FROM bdf RIGHT JOIN adf ON bdf.token = adf.token
         |CROSS JOIN nb CROSS JOIN na
         |ORDER BY adf.token""".stripMargin.replace("\n", " ")

  // ── registered queries ────────────────────────────────────────────

  val all: Seq[Q] = Seq(

    // The inverted-index artifact itself: document frequency + BM25
    // idf for the 20 most document-frequent tokens — the sparse
    // counterpart of ivf_cell_stats (what a deployment inspects to
    // size posting caps / spot stop-dense terms).
    Q("bm25_index_stats",
      (s, dir) => bm25IndexFam(s, dir, "")._3
        .select(col("token"), col("df").cast("long").as("df"), col("idf"))
        .orderBy(col("df").desc, col("token").asc)
        .limit(20),
      s"""WITH $postWith
         |SELECT token, CAST(df AS BIGINT) AS df, idf FROM pidf
         |ORDER BY df DESC, token ASC LIMIT 20"""
        .stripMargin.replace("\n", " ")),

    // Whole-document BM25 search (self excluded): lexical related-
    // document retrieval — the sparse twin of doc_ann_topk.
    Q("bm25_topk",
      (s, dir) => bm25TopKFam(s, dir, "", qtermsFull(s, dir),
          includeSelf = false)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($bmTopkSql) ORDER BY query_id, rank"),

    // Snippet BM25 (self included): the search-box query model the
    // eval grades — 8-token prefixes as queries.
    Q("snippet_bm25_topk",
      (s, dir) => snipBm25(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($snipBm25Sql) ORDER BY query_id, rank"),

    // Snippet dense retrieval: OUT-of-corpus query embedding (the
    // serving-side half of vector search — every prior ANN query drew
    // its queries from the indexed corpus) + brute cosine.
    Q("snippet_dense_topk",
      (s, dir) => snipDense(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($snipDenseSql) ORDER BY query_id, rank"),

    // Sparse+dense weighted-RRF fusion of the two snippet rankings.
    Q("snippet_topk_hybrid",
      (s, dir) => RetrievalOps.rrfFuse2(
          snipBm25(s, dir), WBm, snipDense(s, dir), WDen, BmK)
        .select(col("query_id"), col("neighbor_id"), col("fused_score"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($snipFusedSql) ORDER BY query_id, rank"),

    // The PRF expansion table itself: per query the top new terms with
    // their Σ tf·idf feedback weights — the artifact a deployment
    // inspects to see WHAT the expansion added (and the first place
    // query drift shows).
    Q("prf_expansion_terms",
      (s, dir) => prfTerms(s, dir)
        .select(col("query_id"), col("token"),
          round(col("wdec"), 6).cast("double").as("weight"))
        .orderBy("query_id", "token"),
      s"""WITH $postWith, $prfWith
         |SELECT query_id, token,
         |CAST(round(wdec, 6) AS DOUBLE) AS weight
         |FROM prf_new ORDER BY query_id, token"""
        .stripMargin.replace("\n", " ")),

    // Pseudo-relevance-feedback retrieval (RM3-lite): re-run the
    // snippet probe with each query's terms expanded by the top
    // tf·idf-weighted NEW terms of its top-3 feedback docs. Two index
    // probes + a (queries × feedback-vocab)-bounded expansion step —
    // the scale cost is exactly 2× the base probe.
    Q("bm25_prf_topk",
      (s, dir) => prfRanked(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"""WITH $postWith, $prfWith
         |SELECT * FROM ($prfRankedSql) ORDER BY query_id, rank"""
        .stripMargin.replace("\n", " ")),

    // PRF eval against the self-retrieval ground truth: plain BM25 vs
    // the expanded run on identical queries — the measured answer to
    // "does feedback expansion pay on THIS corpus", shipped with the
    // operator (the classifier_duel discipline). MEASURED at sf0.01:
    // bm25 MRR 0.220 / self@1 4 → bm25_prf MRR 0.039 / self@1 0 — an
    // HONEST NEGATIVE, and the textbook PRF failure mode (query
    // drift): with feedback precision this low (self is in the top-3
    // for under half the queries) and a tail-free 30-token vocabulary,
    // the Σ tf·idf expansion can only add the same shared jargon every
    // document contains (see prf_expansion_terms: 'the', 'key',
    // 'order' …), which swamps the 8 original terms 30-to-1 in
    // matched postings. The df histogram (bm25_index_stats) predicts
    // this before any probe runs — the same applicability test as
    // bm25_capped_eval. On a Zipf corpus with higher feedback
    // precision the identical operator is the standard recall lever.
    Q("prf_retrieval_eval",
      (s, dir) => RetrievalOps
        .selfRetrievalEval(snipBm25(s, dir), SnipQueryIds, "bm25")
        .unionAll(RetrievalOps
          .selfRetrievalEval(prfRanked(s, dir), SnipQueryIds, "bm25_prf"))
        .orderBy("retriever"),
      prfEvalOracleSql),

    // Incremental sparse-index maintenance (the BM25 twin of
    // ann_index_append): a FIXED-SIZE arriving batch (doc_id ≡ 3
    // mod 7, capped below 3500 so the batch stays constant as the
    // corpus decades) is tokenized alone, and only ITS vocabulary's
    // rows of the document-frequency table are updated — df/idf drift
    // per affected token, appended postings are batch-sized. Per-batch
    // work = batch tokenize + one equality join against the
    // vocab-bounded (never corpus-bounded) df table; the corpus is
    // not rescanned.
    Q("bm25_index_append",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val basePost = RetrievalOps.bm25Postings(docs.filter(!isAppendBatch))
        val batchPost = RetrievalOps.bm25Postings(docs.filter(isAppendBatch))
        RetrievalOps.mergeDfUpdate(
            basePost.groupBy(col("token")).agg(count(lit(1)).as("df_before")),
            batchPost.groupBy(col("token")).agg(count(lit(1)).as("df_batch")),
            basePost.agg(countDistinct(col("doc_id")).as("n_base")),
            batchPost.agg(countDistinct(col("doc_id")).as("n_batch")))
          .orderBy("token")
      },
      appendSql),

    // The posting-cap knob, MEASURED — and an HONEST NEGATIVE on this
    // corpus (the BucketPayoff discipline): at scale a BM25 probe's
    // scan cost concentrates in the fattest posting lists, and the
    // standard defense caps df. This eval builds the capped index,
    // re-runs the snippet probe, and reports per-query top-k overlap
    // vs the uncapped ranking next to the posting rows deleted.
    // MEASURED at sf0.01 with CapFrac 0.5: the cap keeps 25 of 11 695
    // posting rows and overlap collapses to 0.0 — because the fixture
    // vocabulary has NO Zipf tail (30 tokens, every one in 70–90% of
    // documents; bm25_index_stats shows it), so any cap under the head
    // deletes the whole index. The df histogram predicts this before a
    // single probe runs: a posting cap pays exactly when the df
    // distribution is Zipf-shaped, and the eval + index-stats pair IS
    // the applicability test a deployment reads first.
    Q("bm25_capped_eval",
      (s, dir) => cappedEvalBody(s, dir, ""),
      cappedEvalOracleSql),

    // The SAME posting-cap eval in its POSITIVE regime (round-12
    // verdict item 2 — promoting the /tmp zipf measurement into the
    // driver's correctness gate): on the regenerated power-law corpus
    // (Staged.zipfDocs — head stopwords + discriminative tail), the
    // df cap deletes only the head and the ranking survives, where
    // the flat fixture's tail-free vocabulary collapsed to overlap 0.
    // Identical operator, identical knob; the oracle regenerates the
    // corpus from (doc_id, lang) bit-for-bit (zdocsCte).
    Q("bm25_capped_eval_zipf",
      (s, dir) => cappedEvalBody(s, dir, "zipf_"),
      zipfOracle(cappedEvalOracleSql)),

    // PRF eval in its positive regime: on the zipf corpus feedback
    // precision is high (snippets retrieve self) and expansion terms
    // are discriminative tail tokens, so expansion helps or holds
    // rather than drowning the query in shared jargon — the regime
    // flip the flat fixture's honest negative predicted.
    Q("prf_retrieval_eval_zipf",
      (s, dir) => RetrievalOps
        .selfRetrievalEval(snipBm25Fam(s, dir, "zipf_"), SnipQueryIds,
          "bm25")
        .unionAll(RetrievalOps
          .selfRetrievalEval(prfRankedFam(s, dir, "zipf_"), SnipQueryIds,
            "bm25_prf"))
        .orderBy("retriever"),
      zipfOracle(prfEvalOracleSql)),

    // Streaming twin of bm25_index_append: the arriving docs stream in
    // micro-batches, each batch appends its (token, df_delta) rows to
    // a replay-safe delta LOG (the production shape: the index's df
    // table is log-structured, compacted on read), and the final merge
    // against the standing index compacts the log. Count merges are
    // additive, so ANY micro-batch slicing yields the identical final
    // table — the batch oracle applies verbatim.
    Q("streaming_bm25_append",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_bm25", dir)
        val deltas = graft.streaming.StreamingDocApply
          .applyAvailableNow(s, dir, work,
            b => b.filter(isAppendBatch)
              .select(col("doc_id"),
                explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
              .groupBy(col("token"))
              .agg(countDistinct(col("doc_id")).as("df_delta")))
        val docs = Tables.documents(s, dir)
        val basePost = RetrievalOps.bm25Postings(docs.filter(!isAppendBatch))
        RetrievalOps.mergeDfUpdate(
            basePost.groupBy(col("token"))
              .agg(count(lit(1)).as("df_before")),
            deltas.groupBy(col("token"))
              .agg(sum(col("df_delta")).as("df_batch")),
            basePost.agg(countDistinct(col("doc_id")).as("n_base")),
            docs.filter(isAppendBatch).agg(count(lit(1)).as("n_batch")))
          .orderBy("token")
      },
      appendSql),

    // The spell-correction table itself: every (deterministically
    // corrupted) snippet term with its blocked-levenshtein winner —
    // the "did you mean" artifact, and the composition proof that the
    // fuzzy-linkage blocking discipline drops onto the search
    // vocabulary unchanged.
    Q("bm25_typo_corrections",
      (s, dir) => typoCorrections(s, dir)
        .orderBy("query_id", "typo_term"),
      s"""WITH $postWith, $typoWith
         |SELECT query_id, typo_term, corrected, dist FROM tcorr
         |ORDER BY query_id, typo_term""".stripMargin.replace("\n", " ")),

    // Typo-tolerant search: BM25 over the CORRECTED terms. A raw
    // corrupted term is out-of-vocabulary (dropping a character makes
    // it match no posting), so uncorrected BM25 retrieves nothing for
    // it; correction first restores the term (the original is always
    // a distance-1 same-block candidate by construction —
    // RetrievalSpec pins the recovery rate), then the standard ranked
    // probe runs unchanged.
    Q("bm25_typo_topk",
      (s, dir) => bm25TopKFam(s, dir, "",
          typoCorrections(s, dir)
            .select(col("query_id"), col("corrected").as("token"))
            .distinct(),
          includeSelf = true)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"""WITH $postWith, $typoWith
         |${bm25RankSql(
            "SELECT DISTINCT query_id, corrected AS token FROM tcorr",
            includeSelf = true, BmK)}
         |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),

    // Exact phrase search over a POSITIONAL inverted index: the
    // (doc, pos, token) posting rows — the index layout that answers
    // "these words, adjacent, in this order", which bag-of-words BM25
    // cannot. Phrases = each query doc's first three tokens; matching
    // is a chain of EQUALITY joins keyed on (doc, pos+offset), so at
    // scale the posting table shards by doc and the phrase probe
    // co-locates — never a scan-per-phrase. n_matches counts every
    // occurrence position (the query doc matches itself at position 0
    // by construction — the built-in correctness witness).
    Q("phrase_search",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tk = graft.ops.TextOps.tokens(col("text"))
        val pos = docs.select(col("doc_id"),
          posexplode(tk).as(Seq("pos", "token")))
        val ph = docs
          .filter(col("doc_id").isInCollection(BmQueryIds) && size(tk) >= 3)
          .select(col("doc_id").as("query_id"),
            element_at(tk, 1).as("t0"), element_at(tk, 2).as("t1"),
            element_at(tk, 3).as("t2"))
        val p1 = pos.select(col("doc_id").as("d1"), col("pos").as("o1"),
          col("token").as("tok1"))
        val p2 = pos.select(col("doc_id").as("d2"), col("pos").as("o2"),
          col("token").as("tok2"))
        pos.join(broadcast(ph), col("token") === col("t0"))
          .join(p1, col("d1") === col("doc_id") &&
            col("o1") === col("pos") + 1 && col("tok1") === col("t1"))
          .join(p2, col("d2") === col("doc_id") &&
            col("o2") === col("pos") + 2 && col("tok2") === col("t2"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_matches"))
          .orderBy("query_id", "doc_id")
      },
      s"""WITH tt AS (SELECT doc_id, $toks AS tk FROM documents),
         |ph AS (SELECT doc_id AS query_id, tk[1] AS t0, tk[2] AS t1,
         |  tk[3] AS t2 FROM tt
         |  WHERE doc_id IN $bmIdList AND len(tk) >= 3),
         |m AS (SELECT ph.query_id, t.doc_id,
         |  CAST(len(list_filter(range(1, len(t.tk) - 1), i ->
         |    t.tk[i] = ph.t0 AND t.tk[i + 1] = ph.t1
         |    AND t.tk[i + 2] = ph.t2)) AS BIGINT) AS n_matches
         |  FROM tt t CROSS JOIN ph)
         |SELECT query_id, doc_id, n_matches FROM m WHERE n_matches > 0
         |ORDER BY query_id, doc_id""".stripMargin.replace("\n", " ")),

    // The subword-embedding table itself: every corpus token's
    // trigram-bag hash vector in sortable long form — the vocabulary-
    // bounded model the late-interaction scorer reads (fastText's
    // subword trick re-expressed on the existing hashing machinery).
    Q("token_gram_vecs",
      (s, dir) => corpusGramVecs(s, dir)
        .select(col("token"), col("gvec"),
          explode(sequence(lit(0), lit(EmbDim - 1))).as("dim_i"))
        .select(col("token"), col("dim_i").cast("int").as("dim_i"),
          element_at(col("gvec"), col("dim_i") + 1).as("component"))
        .orderBy("token", "dim_i"),
      s"""WITH $postWith, g AS (
         |  SELECT vec_id AS token, n_emb
         |  FROM (${hashEmbedOver(gramTextRel("SELECT DISTINCT token FROM post"), EmbDim)})
         |  WHERE n_emb IS NOT NULL)
         |SELECT token, CAST(dims.i AS INT) AS dim_i,
         |n_emb[dims.i + 1] AS component
         |FROM g CROSS JOIN
         |  (SELECT CAST(unnest(range(0, $EmbDim)) AS INT) AS i) dims
         |ORDER BY token, dim_i""".stripMargin.replace("\n", " ")),

    // Late-interaction retrieval on the CORRUPTED snippets — typo
    // robustness WITHOUT a correction step: score(q, d) =
    // Σ_t max_u cos(subword vecs), candidates nominated by the trigram
    // inverted index (gram-disjoint pairs contribute 0 by definition,
    // so the blocked plan IS the semantics). A corrupted term shares
    // most trigrams with its original, so the match survives where
    // exact posting lookup fails. typo_retrieval_eval measures all
    // three typo strategies head to head.
    Q("snippet_typo_colbert",
      (s, dir) => typoColbert(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"""WITH $postWith, $typoWith, $colbertSql
         |SELECT query_id, neighbor_id, score, rank FROM colb
         |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),

    // The typo-strategy eval, same ground truth as the snippet eval
    // (target = the snippet's own source doc), queries CORRUPTED:
    // raw BM25 (typo'd terms mostly miss the posting list), explicit
    // correction + BM25, and correction-free subword late interaction.
    // MEASURED at sf0.01: raw MRR 0.000 (every ≥4-char term misses),
    // corrected 0.220 (fully back to the clean-snippet BM25 level),
    // subword late interaction 0.418 / self@1 7-30 — BEATS even the
    // corrected pipeline, because soft trigram matching keeps partial
    // evidence from every term while correction must commit to one
    // vocabulary word per typo. RetrievalSpec pins the ordering.
    Q("typo_retrieval_eval",
      (s, dir) => RetrievalOps
        .selfRetrievalEval(typoBm25Raw(s, dir), SnipQueryIds, "bm25_raw_typo")
        .unionAll(RetrievalOps.selfRetrievalEval(
          typoBm25Corr(s, dir), SnipQueryIds, "bm25_corrected"))
        .unionAll(RetrievalOps.selfRetrievalEval(
          typoColbert(s, dir), SnipQueryIds, "colbert_subword"))
        .orderBy("retriever"),
      s"""SELECT * FROM (
         |${evalArmSql("bm25_raw_typo",
            s"WITH $postWith, $typoWith ${bm25RankSql(
              "SELECT DISTINCT query_id, typo_term AS token FROM tqt",
              includeSelf = true, BmK)}")}
         |UNION ALL ${evalArmSql("bm25_corrected",
            s"WITH $postWith, $typoWith ${bm25RankSql(
              "SELECT DISTINCT query_id, corrected AS token FROM tcorr",
              includeSelf = true, BmK)}")}
         |UNION ALL ${evalArmSql("colbert_subword",
            s"WITH $postWith, $typoWith, $colbertSql SELECT * FROM colb")})
         |ORDER BY retriever""".stripMargin.replace("\n", " ")),

    // Search served AS a stream: corrupted queries arrive in
    // micro-batches and each batch runs the late-interaction scorer
    // against the STANDING corpus index through the replay-safe sink —
    // the query-serving shape (index static, queries streaming), dual
    // to streaming_bm25_append's (index streaming, queries implicit).
    // Per-QUERY-pure scoring → any slicing yields the same rows and
    // the batch oracle applies verbatim.
    Q("streaming_typo_search",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_typosearch", dir)
        // postings rows are already unique per (doc_id, token) — the
        // index is built by groupBy(doc_id, token) — so a .distinct()
        // here was a full no-op shuffle of the 8.6M-row index inside
        // EVERY micro-batch (§2.4: remove shuffles outright)
        val dt = postings(s, dir)
          .select(col("doc_id"), col("token"))
        graft.streaming.StreamingDocApply.applyAvailableNow(s, dir, work,
            b => {
              val qt = b.filter(col("doc_id").isInCollection(SnipQueryIds))
                .select(col("doc_id").as("query_id"),
                  explode(array_distinct(slice(
                    graft.ops.TextOps.tokens(col("text")), 1, SnipLen)))
                    .as("token"))
                .select(col("query_id"),
                  when(length(col("token")) >= 4,
                    expr("substring(token, 1, length(token) - 1)"))
                    .otherwise(col("token")).as("token"))
                .distinct()
              RetrievalOps.lateInteractionTopK(qt, dt, EmbDim, BmK,
                Some(corpusGramVecs(s, dir)),
                Some(corpusTokenGrams(s, dir)))
            })
          .select(col("query_id"), col("neighbor_id"), col("score"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      s"""WITH $postWith, $typoWith, $colbertSql
         |SELECT query_id, neighbor_id, score, rank FROM colb
         |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),

    // Near-dup-suppressed search results: the hybrid ranking joined
    // against the corpus near-dup clusters (connected components over
    // the n-gram Jaccard pairs — the dedup family's artifact), keeping
    // only the best-ranked member per (query, cluster) and compacting
    // ranks. The SERP-dedup every production search ships: without it,
    // one duplicated passage fills the whole result page. Join is
    // equality on doc id; clusters are corpus-bounded.
    Q("snippet_topk_dedup",
      (s, dir) => {
        val fused = RetrievalOps.rrfFuse2(
          snipBm25(s, dir), WBm, snipDense(s, dir), WDen, BmK)
        val clusters = Staged.dupClusters(s, dir, 3, 0.5)
          .select(col("doc_id").as("cdoc"), col("cluster_id").as("cl"))
        val wBest = Window.partitionBy(col("query_id"), col("cluster_id"))
          .orderBy(col("rank").asc)
        val wNew = Window.partitionBy(col("query_id"))
          .orderBy(col("rank").asc)
        fused.join(clusters, col("neighbor_id") === col("cdoc"), "left")
          .withColumn("cluster_id", coalesce(col("cl"), col("neighbor_id")))
          .withColumn("rb", row_number().over(wBest))
          .filter(col("rb") === 1)
          .withColumn("dedup_rank", row_number().over(wNew))
          .select(col("query_id"), col("neighbor_id"), col("cluster_id"),
            col("rank").cast("int").as("orig_rank"),
            col("dedup_rank").cast("int").as("dedup_rank"))
          .orderBy("query_id", "dedup_rank")
      },
      s"""${dupClustersWith(3, 0.5)}
         |SELECT query_id, neighbor_id, cluster_id,
         |CAST(rank AS INT) AS orig_rank, CAST(drnk AS INT) AS dedup_rank
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rank ASC) AS drnk
         |  FROM (
         |    SELECT query_id, neighbor_id, cluster_id, rank,
         |    row_number() OVER (PARTITION BY query_id, cluster_id
         |      ORDER BY rank ASC) AS rb
         |    FROM (
         |      SELECT f.query_id, f.neighbor_id,
         |      COALESCE(c.cluster_id, f.neighbor_id) AS cluster_id, f.rank
         |      FROM ($snipFusedSql) f
         |      LEFT JOIN clusters c ON f.neighbor_id = c.doc_id))
         |  WHERE rb = 1)
         |ORDER BY query_id, dedup_rank""".stripMargin.replace("\n", " ")),

    // Ground-truth eval: each snippet's target is its own source doc;
    // self@1 and MRR@k per retriever — the measurement that justifies
    // (or indicts) the fusion weights.
    Q("snippet_retrieval_eval",
      (s, dir) => RetrievalOps
        .selfRetrievalEval(snipBm25(s, dir), SnipQueryIds, "bm25")
        .unionAll(RetrievalOps
          .selfRetrievalEval(snipDense(s, dir), SnipQueryIds, "dense"))
        .unionAll(RetrievalOps.selfRetrievalEval(
          RetrievalOps.rrfFuse2(
            snipBm25(s, dir), WBm, snipDense(s, dir), WDen, BmK),
          SnipQueryIds, "hybrid_rrf"))
        .orderBy("retriever"),
      s"""SELECT * FROM (
         |${evalArmSql("bm25", snipBm25Sql)}
         |UNION ALL ${evalArmSql("dense", snipDenseSql)}
         |UNION ALL ${evalArmSql("hybrid_rrf", snipFusedSql)})
         |ORDER BY retriever""".stripMargin.replace("\n", " ")))
}
