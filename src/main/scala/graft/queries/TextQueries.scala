package graft.queries

import graft.{Q, Tables}
import graft.functions.Hashing
import graft.ops.TextOps
import org.apache.spark.sql.functions._
import OracleFrags._

/** Text-analysis queries over the `documents` fixture (north-star
  * extension surface, SURVEY.md §7 phase 5).
  */
object TextQueries {

  // CMS geometry — declared BEFORE `all` (which forces cmsOracle at
  // object init; a later declaration would read as 0 mid-construction)
  private val CmsDepth = 4
  private val CmsWidth = 16

  // BPE merge budget (final val: interpolated into oracle SQL during
  // object init — see the WIvf note in SimilarityQueries); shared with
  // the sequence-packing queries so both families tokenize identically
  private[queries] final val BpeNMerges = 16
  private[queries] final val WpNMerges = 16

  // Unigram-LM trainer budget (ops.UnigramOps): seed vocabulary width,
  // hard-EM rounds, and the pruned final vocabulary — pinned here
  // because the oracle SQL interpolates all three
  private[queries] final val UniSeedMulti = 64
  private[queries] final val UniEmRounds = 2
  private[queries] final val UniVocabSize = 40

  /** Min-quality arms for the quality-gate tuning curve — spanning the
    * fixture's observed score range (0.3–0.7). */
  private final val QualityCurveThs = Seq(0.35, 0.45, 0.5, 0.55, 0.6, 0.65)

  /** Force this family's staged artifacts (Staged.prewarm hook): the
    * trained BPE merge list + the applied per-doc token counts the
    * tokenizer and packing queries share. */
  private[queries] def prewarm(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    Staged.bpeMerges(s, dir, BpeNMerges)
    Staged.wpMerges(s, dir, WpNMerges)
    Staged.wpTokStats(s, dir).count()
    Staged.bpeDocTokens(s, dir).count()
    Staged.unigramModel(s, dir)
    Staged.uniTokStats(s, dir).count()
    qualityScores(s, dir).count()
    ()
  }

  /** Staged (doc_id, quality_score, n_tok) — the quality-curve arms and
    * prewarm share one scoring pass. */
  private def qualityScores(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Staged.retrieval(s, dir, "quality_scores") {
      TextOps.qualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("quality_score"),
          col("n_tokens").cast("long").as("n_tok"))
    }

  val all: Seq[Q] = Seq(

    // Token counting: whitespace + BPE-ish regex tokenizers.
    Q("token_count",
      (s, dir) => TextOps.tokenCounts(Tables.documents(s, dir))
        .select(col("doc_id"),
          col("n_ws_tokens").cast("long").as("n_ws_tokens"),
          col("n_re_tokens").cast("long").as("n_re_tokens"),
          col("n_chars_measured").cast("long").as("n_chars_measured"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, len($toks) AS n_ws_tokens,
         |len(regexp_extract_all(text, '${TextOps.TokenPattern}')) AS n_re_tokens,
         |CAST(length(text) AS BIGINT) AS n_chars_measured
         |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Language-ID heuristic: function-word scores + argmax CASE chain.
    Q("lang_id",
      (s, dir) => {
        val base = TextOps.langId(Tables.documents(s, dir))
        base.select(
          (col("doc_id") +: col("labeled_lang") +:
            TextOps.StopwordSets.map { case (l, _) =>
              col(s"score_$l").cast("long").as(s"score_$l") } :+
            col("pred_lang")): _*)
          .orderBy("doc_id")
      },
      s"""SELECT doc_id, labeled_lang, ${TextOps.StopwordSets.map { case (l, _) => s"score_$l" }.mkString(", ")},
         |$langCase AS pred_lang FROM (
         |SELECT doc_id, lang AS labeled_lang, $langScores
         |FROM (SELECT doc_id, lang, $toks AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Quality scoring: length/punctuation/stopword/token-shape signals.
    Q("text_quality",
      (s, dir) => TextOps.qualityScore(Tables.documents(s, dir))
        .orderBy("doc_id"),
      s"SELECT * FROM ($qualityScoreSql) ORDER BY doc_id"),

    // The Gopher quality-rule composite (Rae et al. 2021 appendix A1 —
    // the published rule set open-corpus pipelines start from): per doc
    // one flag per adapted rule (word-count window, mean word length,
    // alpha-word fraction, stop-word hits, top-bigram repetition share)
    // plus the conjunction. Four rules are one narrow per-row pass; the
    // repetition rule joins the bigramProfile hash-agg (docs with no
    // bigram pass it vacuously — the paper's "not applicable"
    // treatment). Two scans, one key shuffle, no windows.
    Q("gopher_rules",
      (s, dir) => TextOps.gopherRules(Tables.documents(s, dir))
        .orderBy("doc_id"),
      s"""WITH g AS (SELECT doc_id, $toks AS toks FROM documents),
         |fl AS (SELECT doc_id, len(toks) AS n,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |    / len(toks) AS meanlen,
         |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
         |    AS DOUBLE) / len(toks) AS alphafrac,
         |  len(list_filter(toks, t -> list_contains(
         |    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'], t)))
         |    AS stophits
         |  FROM g),
         |rep AS (SELECT doc_id,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS tbf
         |  FROM (SELECT doc_id, bigram, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |    FROM g WHERE len(toks) >= 2) GROUP BY doc_id, bigram)
         |  GROUP BY doc_id)
         |SELECT f.doc_id, CAST(n AS BIGINT) AS n_tokens,
         |CAST(CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS INT)
         |  AS r_word_count,
         |CAST(CASE WHEN meanlen >= 3.0 AND meanlen <= 10.0
         |  THEN 1 ELSE 0 END AS INT) AS r_mean_word_len,
         |CAST(CASE WHEN alphafrac >= 0.8 THEN 1 ELSE 0 END AS INT)
         |  AS r_alpha_words,
         |CAST(CASE WHEN stophits >= 2 THEN 1 ELSE 0 END AS INT)
         |  AS r_stopwords,
         |CAST(CASE WHEN rep.tbf IS NULL OR rep.tbf <= 0.18
         |  THEN 1 ELSE 0 END AS INT) AS r_repetition,
         |CAST(CASE WHEN n >= 50 AND n <= 100000
         |  AND meanlen >= 3.0 AND meanlen <= 10.0 AND alphafrac >= 0.8
         |  AND stophits >= 2 AND (rep.tbf IS NULL OR rep.tbf <= 0.18)
         |  THEN 1 ELSE 0 END AS INT) AS passes
         |FROM fl f LEFT JOIN rep ON f.doc_id = rep.doc_id
         |ORDER BY f.doc_id""".stripMargin.replace("\n", " ")),

    // The quality gate's TUNING CURVE (the third knob to get one, after
    // nprobe and the NB margin; the 0.5 gate drives corpus_select and
    // curation_funnel's first stage): six min-quality arms over the one
    // staged score table, reporting docs AND tokens surviving — the
    // corpus-size-vs-quality trade a curation deployment actually
    // prices, since training-token count is the budget unit. Arms are
    // 1-row aggregates; token sums cast to BIGINT (exact) before
    // summing so the fractions derive from exact longs on both engines.
    Q("quality_threshold_curve",
      (s, dir) => {
        val qs = qualityScores(s, dir)
        QualityCurveThs.map { t =>
          qs.agg(
              count(lit(1)).as("n_total"),
              sum(col("n_tok")).as("tok_total"),
              sum(when(col("quality_score") >= t, 1L).otherwise(0L))
                .as("n_docs"),
              sum(when(col("quality_score") >= t, col("n_tok"))
                .otherwise(0L)).as("n_tokens"))
            .select(lit(t).as("threshold"),
              col("n_docs").cast("long").as("n_docs"),
              round(col("n_docs").cast("double") / col("n_total"), 6)
                .as("doc_frac"),
              col("n_tokens").cast("long").as("n_tokens"),
              round(col("n_tokens").cast("double") / col("tok_total"), 6)
                .as("token_frac"))
        }.reduce(_ unionByName _).orderBy("threshold")
      },
      s"""WITH qs AS ($qualityScoreSql),
         |arms AS (SELECT CAST(unnest([${QualityCurveThs.mkString(", ")}])
         |  AS DOUBLE) AS threshold)
         |SELECT threshold,
         |CAST(SUM(CASE WHEN quality_score >= threshold THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_docs,
         |round(CAST(SUM(CASE WHEN quality_score >= threshold THEN 1
         |  ELSE 0 END) AS DOUBLE) / count(*), 6) AS doc_frac,
         |CAST(SUM(CASE WHEN quality_score >= threshold
         |  THEN CAST(n_tokens AS BIGINT) ELSE 0 END) AS BIGINT)
         |  AS n_tokens,
         |round(CAST(SUM(CASE WHEN quality_score >= threshold
         |  THEN CAST(n_tokens AS BIGINT) ELSE 0 END) AS DOUBLE)
         |  / SUM(CAST(n_tokens AS BIGINT)), 6) AS token_frac
         |FROM arms CROSS JOIN qs
         |GROUP BY threshold ORDER BY threshold"""
        .stripMargin.replace("\n", " ")),

    // End-to-end corpus selection: the training-data filter a real
    // pipeline runs — drop near-dup non-representatives (connected-
    // component cluster heads survive), then quality/length gates.
    Q("corpus_select",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val quality = TextOps.qualityScore(docs)
        val clusters = Staged.dupClusters(s, dir, 3, 0.5)
        quality.join(clusters, Seq("doc_id"), "left")
          .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .filter(col("quality_score") >= 0.5 && col("n_tokens") >= 20)
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("quality_score"))
          .orderBy("doc_id")
      },
      s"""${OracleFrags.dupClustersWith(3, 0.5)}
         |SELECT q.doc_id, q.lang, q.n_tokens, q.quality_score
         |FROM ($qualityScoreSql) q
         |LEFT JOIN clusters c ON q.doc_id = c.doc_id
         |WHERE (c.cluster_id IS NULL OR c.cluster_id = q.doc_id)
         |AND q.quality_score >= 0.5 AND q.n_tokens >= 20
         |ORDER BY q.doc_id""".stripMargin.replace("\n", " ")),

    // Regex scrubbing (the PII-redaction shape): global pattern
    // replacement + match counting, with an md5 of the scrubbed text
    // proving byte-exact replacement. The fixture corpus is synthetic
    // word soup, so the pattern targets words it actually contains; the
    // operator is the generic narrow-map redaction pass.
    Q("text_scrub",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("CAST(regexp_count(text, '\\\\b(table|key)\\\\b') AS BIGINT)")
            .as("n_hits"),
          md5(regexp_replace(col("text"), "\\b(table|key)\\b", "[X]"))
            .as("scrub_digest"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '\b(table|key)\b')) AS BIGINT) AS n_hits,
        |md5(regexp_replace(text, '\b(table|key)\b', '[X]', 'g')) AS scrub_digest
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Exact dedup keeping the BEST copy (not the first): identical texts
    // collapse to the highest-quality doc — the keep-policy real corpus
    // dedup uses (rank inside each content group; WindowGroupLimit prunes
    // per group before any full sort).
    Q("dedup_keep_best",
      (s, dir) => {
        val q = TextOps.qualityScore(Tables.documents(s, dir))
          .select(col("doc_id"), col("quality_score"))
        val hashed = Tables.documents(s, dir)
          .select(col("doc_id"), md5(col("text")).as("content_hash"))
          .join(q, Seq("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("content_hash"))
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        hashed
          .withColumn("rn", row_number().over(w))
          .withColumn("n_copies",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("content_hash"))))
          .filter(col("rn") === 1)
          .select(col("content_hash"), col("doc_id").as("keep_id"),
            col("quality_score"), col("n_copies"))
          .orderBy("content_hash")
      },
      s"""SELECT content_hash, doc_id AS keep_id, quality_score, n_copies
         |FROM (SELECT md5(text) AS content_hash, q.doc_id, q.quality_score,
         |  row_number() OVER (PARTITION BY md5(text)
         |    ORDER BY q.quality_score DESC, q.doc_id ASC) AS rn,
         |  count(*) OVER (PARTITION BY md5(text)) AS n_copies
         |  FROM documents d JOIN ($qualityScoreSql) q ON d.doc_id = q.doc_id)
         |WHERE rn = 1
         |ORDER BY content_hash""".stripMargin.replace("\n", " ")),

    // Deterministic hash sampling: the reproducible corpus subsample
    // every training-data pipeline needs (re-running selects the SAME
    // docs; changing the rate only grows/shrinks the set monotonically
    // in hash space — no RNG, no seed bookkeeping, shuffle-free scan).
    Q("corpus_sample",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        Tables.documents(s, dir)
          .filter(call_function("graft_md5long60",
            col("doc_id").cast("string")) % 100 < 10)
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${Hashing.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100 < 10
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Stratified corpus mix: top-N docs per language by quality score —
    // the data-mixing step that balances a multilingual training set.
    // One window per language partition; at scale the rank prunes with a
    // per-partition top-N (WindowGroupLimit) before the full sort.
    Q("corpus_mix",
      (s, dir) => {
        val q = TextOps.qualityScore(Tables.documents(s, dir))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        q.select(col("doc_id"), col("lang"), col("quality_score"))
          .withColumn("lang_rank", row_number().over(w).cast("int"))
          .filter(col("lang_rank") <= 50)
          .orderBy("lang", "lang_rank")
      },
      s"""SELECT doc_id, lang, quality_score, CAST(rn AS INT) AS lang_rank
         |FROM (SELECT doc_id, lang, quality_score,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY quality_score DESC, doc_id ASC) AS rn
         |  FROM ($qualityScoreSql))
         |WHERE rn <= 50
         |ORDER BY lang, lang_rank""".stripMargin.replace("\n", " ")),

    // Vocabulary statistics: exact top-k tokens by corpus frequency
    // (ties broken by token) — the heavy-hitters screen.
    Q("freq_tokens",
      (s, dir) => Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($toks) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20"""
        .stripMargin.replace("\n", " ")),

    // TF-IDF: classic two-stage text scoring — term frequency per (doc,
    // token) joined against document frequency; idf = ln(N/df). Top-3
    // terms per document by (tfidf, token) for a bounded result.
    Q("tfidf_top_terms",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // corpus size as a one-row aggregate cross-joined into the plan —
        // no separate driver-side count() action; and no broadcast hint on
        // the vocabulary-sized df table (unbounded at scale — AQE decides)
        val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        val tokens = docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        val tf = tokens.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df = tokens.select(col("doc_id"), col("token")).distinct()
          .groupBy(col("token")).agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("token").asc)
        tf.join(df, Seq("token"))
          .crossJoin(nDocs)
          .withColumn("tfidf",
            round(col("tf") * log(col("n_docs") / col("df")), 6))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("token"), col("tf").cast("long").as("tf"),
            col("df").cast("long").as("df"), col("tfidf"),
            col("rnk").cast("int").as("rnk"))
          .orderBy("doc_id", "rnk")
      },
      s"""WITH tokens AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY token),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |  round(tf.tf * ln(n.n / df.df), 6) AS tfidf
         |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
         |ranked AS (SELECT *, row_number() OVER
         |  (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rnk
         |  FROM scored)
         |SELECT doc_id, token, tf, df, tfidf, CAST(rnk AS INT) AS rnk
         |FROM ranked WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin.replace("\n", " ")),

    // Unigram-LM fluency scoring: corpus token frequencies → per-doc
    // average token log-probability (low = rare-token soup, high =
    // boilerplate). Token log-probs rounded to 9 dp (ln agrees across
    // engines at that precision — tfidf precedent), per-doc sums in
    // exact decimals so partial-agg order can't skew the float.
    Q("doc_logprob",
      (s, dir) => graft.ops.TextOps.unigramLogProb(Tables.documents(s, dir))
        .orderBy("doc_id"),
      s"""WITH tokens AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tot AS (SELECT count(*)::DOUBLE AS n_total FROM tokens),
         |lp AS (SELECT token, round(ln(count(*)::DOUBLE / any_value(n_total)), 9) AS lp
         |  FROM tokens CROSS JOIN tot GROUP BY token)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |round(CAST(SUM(CAST(lp AS DECIMAL(30,9))) AS DOUBLE) / count(*), 6)
         |  AS avg_logprob
         |FROM tokens t JOIN lp ON t.token = lp.token
         |GROUP BY t.doc_id ORDER BY t.doc_id"""
        .stripMargin.replace("\n", " ")),

    // Bigram LM, step 1 — the trained model's head: top 50 transitions
    // by train-split count with their 9-dp conditional log-prob
    // ln(c12/c1). Two exploded-scan hash-aggs (vocab-/seen-bigram-
    // bounded, map-side combine) + TakeOrdered — no full sort, no
    // window. The train/eval split is corpus_split's md5 convention.
    Q("bigram_model",
      (s, dir) => TextOps.bigramModel(Tables.documents(s, dir))
        .orderBy(col("c12").desc, col("w1").asc, col("w2").asc),
      s"""WITH $bigramTrainCtes
         |SELECT bbig.w1, bbig.w2, c12,
         |  round(ln(c12::DOUBLE / c1), 9) AS lp
         |FROM bbig JOIN buni ON bbig.w1 = buni.token
         |ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 50"""
        .stripMargin.replace("\n", " ")),

    // Bigram LM, step 2 — stupid-backoff fluency scoring of the
    // HELD-OUT 10% (CCNet's deployment shape: fit on a reference
    // corpus, score text the model never saw — so unseen transitions
    // genuinely occur and the backoff path is exercised; n_backoff
    // reports how often). score = c12/c1 if seen else
    // 0.4·(c(w2)+1)/(N+V); 9-dp log-scores, DECIMAL(30,9) doc sums.
    // Scoring = two equality joins against the vocab-bounded model —
    // broadcastable small, shuffle-join large; no windows, no collect.
    Q("doc_ppl_bigram",
      (s, dir) => TextOps.bigramScores(Tables.documents(s, dir))
        .orderBy("doc_id"),
      s"""WITH $bigramScoredCtes
         |SELECT doc_id, lang, n_trans, n_backoff, avg_lp
         |FROM bdoc ORDER BY doc_id"""
        .stripMargin.replace("\n", " ")),

    // Bigram LM, step 3 — CCNet's per-language perplexity buckets:
    // exact terciles (ntile(3)) of the held-out docs within each
    // language by avg log-prob — head = most fluent third, the slice
    // CCNet keeps; tail = what it drops. Per-language windows see only
    // that language's eval slice (customer_deciles discipline); at
    // petabyte scale the cuts would come from approx quantiles — this
    // is the exact reference form the approximation would be judged by.
    Q("corpus_ppl_buckets",
      (s, dir) => TextOps.pplBuckets(Tables.documents(s, dir))
        .orderBy("doc_id"),
      s"""WITH $bigramScoredCtes
         |SELECT doc_id, lang, avg_lp,
         |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket
         |FROM (SELECT bdoc.*, ntile(3) OVER (PARTITION BY lang
         |  ORDER BY avg_lp DESC, doc_id ASC) AS t FROM bdoc)
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Streaming twin of doc_ppl_bigram — the FROZEN LM applied in
    // flight (CCNet's deployment loop: fit once on the reference
    // corpus, score every arriving crawl batch): the batch-trained
    // count tables are fixed, each micro-batch runs the identical
    // held-out-split scoring through the replay-safe batch_id-keyed
    // sink. Scoring is per-doc pure given the model (every transition
    // of a doc lives in its own row), so any micro-batch slicing yields
    // the identical result and the batch oracle applies verbatim.
    Q("streaming_ppl_score",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_ppl", dir)
        val (big, uni, nv) =
          TextOps.bigramCounts(Tables.documents(s, dir))
        graft.streaming.StreamingDocApply.applyAvailableNow(s, dir, work,
            b => TextOps.bigramScoreAgainst(big, uni, nv)(b))
          .orderBy("doc_id")
      },
      s"""WITH $bigramScoredCtes
         |SELECT doc_id, lang, n_trans, n_backoff, avg_lp
         |FROM bdoc ORDER BY doc_id"""
        .stripMargin.replace("\n", " ")),

    // Document fingerprinting: min/max/count over the shingle-hash set.
    Q("doc_fingerprint",
      (s, dir) => TextOps.fingerprints(Tables.documents(s, dir), 3)
        .select(col("doc_id"), col("fp_min"), col("fp_max"),
          col("n_shingles").cast("long").as("n_shingles"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |list_min(list_transform(sh, s -> ${Hashing.sqlMd5Long("s")})) AS fp_min,
         |list_max(list_transform(sh, s -> ${Hashing.sqlMd5Long("s")})) AS fp_max,
         |len(sh) AS n_shingles
         |FROM (SELECT doc_id, ${shingles(toks, 3)} AS sh FROM documents)
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // PII detect + redact (emails / phones / IPv4 / card numbers): the
    // compliance pass every corpus runs before training. The fixture
    // text is synthetic word-salad, so both engines first plant the SAME
    // deterministic PII spans (keyed off doc_id) and then scan — the
    // regex machinery is exercised with real nonzero hits and the oracle
    // checks counts AND the digest of the fully-redacted text. Pure
    // per-row regex in the Java∩RE2 dialect; narrow map, no shuffle.
    Q("pii_scan",
      (s, dir) => TextOps.piiScan(
          piiAugment(Tables.documents(s, dir))).orderBy("doc_id"),
      piiOracle),

    // Streaming twin of pii_scan — compliance in flight: the document
    // stream passes through the identical regex detect/redact map per
    // micro-batch (foreachBatch append sink). Per-row pure, so any
    // micro-batch slicing yields the identical result and the batch
    // oracle applies verbatim; only digests reach the sink.
    Q("streaming_pii_scan",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_pii", dir)
        graft.streaming.StreamingPii
          .scanAvailableNow(s, dir, work, piiAugment)
          .orderBy("doc_id")
      },
      piiOracle),

    // BPE tokenizer fit, step 1: the global adjacent-character-pair
    // frequency table (within whitespace words, non-distinct — a pair's
    // count is its merge priority), top 50 merge candidates. The shape
    // is the inner loop of byte-pair-encoding training: explode to char
    // bigrams, one hash-agg keyed by the pair (alphabet²-bounded groups,
    // so map-side combine collapses each partition to a few hundred
    // rows), TakeOrderedAndProject for the top-N — no full sort, no
    // window. At 100 TB the agg output stays alphabet²-sized no matter
    // the corpus.
    Q("bpe_pair_counts",
      (s, dir) => Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(50),
      s"""SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_transform(range(1, length(tok)),
         |    i -> tok[i:i+1])) AS pair
         |  FROM (SELECT unnest($toks) AS tok FROM documents)
         |  WHERE length(tok) >= 2)
         |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 50"""
        .stripMargin.replace("\n", " ")),

    // BPE tokenizer fit, step 2 — the TRAINED MODEL: the greedy merge
    // loop run to a 16-merge vocabulary over the corpus word-frequency
    // table (ops.BpeOps.train — semantics pinned in its doc; the
    // oracle replays the identical loop as a recursive CTE over a
    // single list-state row, so merge selection, tie-breaks, and the
    // two-pass application all hash-match). Integer-only arithmetic:
    // no float drift anywhere. The word-freq input is the one corpus
    // scan; the loop itself touches only the vocabulary-bounded table
    // (the merge list IS the model — driver-held by design, like the
    // IVF centroid matrix).
    Q("bpe_merges",
      (s, dir) => {
        import s.implicits._
        Staged.bpeMerges(s, dir, BpeNMerges)
          .map(m => (m.idx, m.left, m.right, m.left + m.right, m.count))
          .toDF("merge_idx", "left_sym", "right_sym", "merged", "pair_count")
          .orderBy("merge_idx")
      },
      s"""${bpeTrainerWith}
         |SELECT m.i AS merge_idx, m.l AS left_sym, m.r AS right_sym,
         |m.l || m.r AS merged, m.c AS pair_count
         |FROM (SELECT unnest(merges) AS m FROM st
         |  WHERE i = (SELECT max(i) FROM st))
         |ORDER BY merge_idx""".stripMargin.replace("\n", " ")),

    // WordPiece trainer — the THIRD tokenizer family (BERT's), next to
    // BPE (frequency-greedy) and unigram-LM (EM-pruned): the same
    // greedy merge loop as bpe_merges but selecting by the LIKELIHOOD
    // RATIO c(pair)/(c(left)*c(right)) in scaled-integer space
    // (floor(c*10^12/(cl*cr)) — both engines run the identical integer
    // division, so no float drift can enter selection), "##"
    // continuation prefixes per the BERT convention. The oracle replays
    // the ENTIRE fit as a recursive CTE — per round: pair counts AND
    // symbol counts from the current segmentation, scaled-ratio argmax,
    // two-pass replace — so selection, tie-breaks, and scores all
    // hash-match. Same scale shape as BPE: the trainer input is the
    // vocab-bounded word-frequency table; the merge list IS the model.
    Q("wordpiece_merges",
      (s, dir) => {
        import s.implicits._
        Staged.wpMerges(s, dir, WpNMerges)
          .map(m => (m.idx, m.left, m.right, m.left + m.right.drop(2),
            m.count, m.score))
          .toDF("merge_idx", "left_sym", "right_sym", "merged",
            "pair_count", "score")
          .orderBy("merge_idx")
      },
      s"""$wpTrainerWith
         |SELECT m.i AS merge_idx, m.l AS left_sym, m.r AS right_sym,
         |m.l || m.r[3:] AS merged, m.c AS pair_count, m.sc AS score
         |FROM (SELECT unnest(merges) AS m FROM wst
         |  WHERE i = (SELECT max(i) FROM wst))
         |ORDER BY merge_idx""".stripMargin.replace("\n", " ")),

    // The WordPiece model APPLIED corpus-wide — corpus_tokenize's shape
    // on the likelihood-ratio model (per-doc stats + the md5 digest of
    // the full "##"-marked spaced form), so BPE and WordPiece fertility
    // are directly comparable per document. Spark-side apply is the
    // same 2*nMerges codegen'd replace chain (fused symbol = left +
    // right sans "##"): a pure narrow map, zero corpus shuffles.
    Q("corpus_tokenize_wp",
      (s, dir) => Staged.wpTokStats(s, dir).orderBy("doc_id"),
      s"""$wpApplyWith
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |CAST(n_chars AS BIGINT) AS n_chars,
         |CAST(len(list_filter(string_split(trim(s), ' '),
         |  x -> x <> '|' AND x <> '')) AS BIGINT) AS n_wp_tokens,
         |round(CAST(n_chars AS DOUBLE) / nullif(
         |  len(list_filter(string_split(trim(s), ' '),
         |  x -> x <> '|' AND x <> '')), 0), 6) AS chars_per_token,
         |md5(trim(s)) AS tokens_digest
         |FROM wfin ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // The tokenizer APPLIED corpus-wide (completing fit → apply): every
    // document rewritten to its BPE token sequence with the learned
    // merges, reported as per-doc stats + the md5 of the canonical
    // spaced form — the digest pins the full tokenization of every
    // document against the oracle. Spark-side apply is a chain of
    // 2·nMerges codegen'd replaces (a pure narrow map: zero shuffles
    // over the corpus at any scale); the oracle re-derives the same
    // merges and applies them through a per-merge recursive CTE.
    Q("corpus_tokenize",
      (s, dir) => Staged.bpeTokStats(s, dir).orderBy("doc_id"),
      corpusTokenizeSql),

    // The SCALE form of the apply step: the same learned merges applied
    // as an executor-side loop over a broadcast merge table
    // (ops.BpeOps.mergeLoop) instead of 2·nMerges inlined expressions —
    // constant plan/codegen size, so a 32k-merge production vocabulary
    // compiles exactly like the fixture's 16 (BpeSpec drives it at
    // 1.1k merges). Same oracle as corpus_tokenize: both apply paths
    // must produce the identical per-doc digests.
    Q("corpus_tokenize_loop",
      (s, dir) => graft.ops.BpeOps.tokenizeStatsLoop(
          Tables.documents(s, dir), Staged.bpeMerges(s, dir, BpeNMerges))
        .orderBy("doc_id"),
      corpusTokenizeSql),

    // Streaming twin of corpus_tokenize — the tokenizer applied IN
    // FLIGHT with the FROZEN merge model (trained once on the standing
    // corpus, exactly how production tokenizers deploy): each document
    // micro-batch runs the identical per-row-pure replace chain through
    // the replay-safe batch_id-keyed sink, so any micro-batch slicing
    // yields the same rows and the batch oracle applies verbatim.
    Q("streaming_tokenize",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_bpe", dir)
        val merges = Staged.bpeMerges(s, dir, BpeNMerges)
        graft.streaming.StreamingDocApply.applyAvailableNow(s, dir, work,
            b => graft.ops.BpeOps.tokenizeStats(b, merges))
          .orderBy("doc_id")
      },
      corpusTokenizeSql),

    // Unigram-LM tokenizer fit — the OTHER production tokenizer next to
    // BPE (Kudo 2018; VERDICT r10 gap 1): seed substring vocabulary →
    // hard-EM (Viterbi E-step, integer recount M-step, 9-dp smoothed
    // scores) → count-rank prune (ops.UnigramOps — semantics and
    // documented simplifications pinned there). The oracle replays the
    // ENTIRE fit: seed CTEs, each EM round as a recursive Viterbi CTE
    // whose DP history rides in the row, the prune, and the final
    // smoothed scores — merge selection, tie-breaks (longer-last-piece),
    // and every 9-dp logp hash-match. Same bounded-input discipline as
    // bpe_merges: one corpus hash-agg in, a tens-of-rows model out.
    Q("unigram_model",
      (s, dir) => {
        import s.implicits._
        Staged.unigramModel(s, dir)
          .map(m => (m.piece, m.cnt, m.logp))
          .toDF("piece", "cnt", "logp")
          .orderBy("piece")
      },
      s"""WITH RECURSIVE $unigramTrainerCtes
         |SELECT piece, cnt, logp FROM umodel
         |ORDER BY piece""".stripMargin.replace("\n", " ")),

    // The unigram tokenizer APPLIED corpus-wide: every document's words
    // Viterbi-segmented with the trained model in an EXECUTOR loop over
    // the broadcast score map (constant plan size at any vocabulary —
    // the corpus_tokenize_loop discipline), reported as per-doc stats +
    // the md5 of the canonical piece form. The oracle re-trains the
    // model, segments the DISTINCT corpus words once, and reassembles
    // each document in token order — so fit, segmentation, tie-breaks,
    // and the canonical form all round-trip across engines.
    Q("corpus_tokenize_unigram",
      (s, dir) => Staged.uniTokStats(s, dir).orderBy("doc_id"),
      s"""WITH RECURSIVE $unigramApplyCtes
         |SELECT doc_id, n_words, n_chars, n_unigram_tokens,
         |chars_per_token, tokens_digest FROM ustats
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // BPE vs unigram vs WordPiece head-to-head (the fertility duel):
    // per-language corpus compression under all THREE trained
    // tokenizers from one scan each — tokens, chars/token, and
    // tokens-per-word fertility. The number a pipeline actually picks
    // its tokenizer by; all arms' full fits replay inside one oracle
    // query.
    Q("tokenizer_duel",
      (s, dir) => {
        def arm(stats: org.apache.spark.sql.DataFrame, tokCol: String,
                name: String) =
          stats.join(Tables.documents(s, dir)
              .select(col("doc_id"), col("lang")), Seq("doc_id"))
            .groupBy(col("lang"))
            .agg(count(lit(1)).cast("long").as("n_docs"),
              sum(col("n_words")).cast("long").as("tot_words"),
              sum(col(tokCol)).cast("long").as("tot_tokens"),
              round(sum(col("n_chars")).cast("double")
                / sum(col(tokCol)), 6).as("chars_per_token"),
              round(sum(col(tokCol)).cast("double")
                / sum(col("n_words")), 6).as("tokens_per_word"))
            .withColumn("tokenizer", lit(name))
        arm(Staged.bpeTokStats(s, dir), "n_bpe_tokens", "bpe")
          .unionByName(
            arm(Staged.uniTokStats(s, dir), "n_unigram_tokens", "unigram"))
          .unionByName(
            arm(Staged.wpTokStats(s, dir), "n_wp_tokens", "wordpiece"))
          .select(col("tokenizer"), col("lang"), col("n_docs"),
            col("tot_words"), col("tot_tokens"), col("chars_per_token"),
            col("tokens_per_word"))
          .orderBy("tokenizer", "lang")
      },
      s"""WITH RECURSIVE $unigramApplyCtes,
         |${bpeApplyWith.replaceFirst("WITH RECURSIVE ", "")},
         |${wpApplyWith.replaceFirst("WITH RECURSIVE ", "")},
         |wpstats AS (
         |  SELECT f.doc_id,
         |  len(list_filter(string_split(trim(f.s), ' '),
         |    x -> length(x) > 0)) -
         |  len(list_filter(string_split(trim(f.s), ' '),
         |    x -> x = '|')) AS ntok,
         |  f.n_words, f.n_chars
         |  FROM wfin f),
         |bstats AS (
         |  SELECT f.doc_id,
         |  len(list_filter(string_split(trim(f.s), ' '),
         |    x -> length(x) > 0)) -
         |  len(list_filter(string_split(trim(f.s), ' '),
         |    x -> x = '|')) AS ntok,
         |  f.n_words, f.n_chars
         |  FROM fin f),
         |duel AS (
         |  SELECT 'bpe' AS tokenizer, d.lang,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(b.n_words) AS BIGINT) AS tot_words,
         |    CAST(SUM(b.ntok) AS BIGINT) AS tot_tokens,
         |    round(CAST(SUM(b.n_chars) AS DOUBLE)
         |      / nullif(SUM(b.ntok), 0), 6) AS chars_per_token,
         |    round(CAST(SUM(b.ntok) AS DOUBLE)
         |      / nullif(SUM(b.n_words), 0), 6) AS tokens_per_word
         |  FROM bstats b JOIN documents d ON b.doc_id = d.doc_id
         |  GROUP BY d.lang
         |  UNION ALL
         |  SELECT 'unigram', d.lang, CAST(count(*) AS BIGINT),
         |    CAST(SUM(u.n_words) AS BIGINT),
         |    CAST(SUM(u.n_unigram_tokens) AS BIGINT),
         |    round(CAST(SUM(u.n_chars) AS DOUBLE)
         |      / nullif(SUM(u.n_unigram_tokens), 0), 6),
         |    round(CAST(SUM(u.n_unigram_tokens) AS DOUBLE)
         |      / nullif(SUM(u.n_words), 0), 6)
         |  FROM ustats u JOIN documents d ON u.doc_id = d.doc_id
         |  GROUP BY d.lang
         |  UNION ALL
         |  SELECT 'wordpiece', d.lang, CAST(count(*) AS BIGINT),
         |    CAST(SUM(w.n_words) AS BIGINT),
         |    CAST(SUM(w.ntok) AS BIGINT),
         |    round(CAST(SUM(w.n_chars) AS DOUBLE)
         |      / nullif(SUM(w.ntok), 0), 6),
         |    round(CAST(SUM(w.ntok) AS DOUBLE)
         |      / nullif(SUM(w.n_words), 0), 6)
         |  FROM wpstats w JOIN documents d ON w.doc_id = d.doc_id
         |  GROUP BY d.lang)
         |SELECT tokenizer, lang, n_docs, tot_words, tot_tokens,
         |chars_per_token, tokens_per_word FROM duel
         |ORDER BY tokenizer, lang""".stripMargin.replace("\n", " ")),

    // Count-min sketch heavy hitters: d=4 hash rows × w=16 buckets over
    // the token stream, estimate = min over rows — the mergeable
    // frequency sketch for vocabularies that fit nowhere. Hashes are
    // the engine-portable md5/affine family, so the oracle rebuilds the
    // SAME sketch and the estimates hash-compare exactly (w=16 < the
    // 31-token fixture vocabulary, so collisions and the est ≥ exact
    // overcount are real, not vacuous). One stream scan → (d·w)-bounded
    // hash-agg; CmsSpec pins the ≥-exact guarantee and collision-free
    // exactness at wide w.
    Q("freq_tokens_cms",
      (s, dir) => TextOps.cmsTokenEstimates(
          Tables.documents(s, dir), CmsDepth, CmsWidth, 10)
        .orderBy("token"),
      cmsOracle),

    // Tokenizer fertility by language: chars-per-token of the TRAINED
    // BPE model rolled up per lang — the multilingual-fairness eval
    // (a tokenizer whose merges fit one language compresses it better;
    // high fertility languages pay more sequence length per character
    // of content). One join + one agg over the staged tokenize stats.
    Q("tokenizer_fertility",
      (s, dir) => Staged.bpeTokStats(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("tot_chars"),
          sum(col("n_bpe_tokens")).cast("long").as("tot_tokens"),
          round(sum(col("n_chars")).cast("double")
            / sum(col("n_bpe_tokens")), 6).as("chars_per_token"))
        .orderBy("lang"),
      s"""$bpeApplyWith
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
         |CAST(SUM(ntok) AS BIGINT) AS tot_tokens,
         |round(CAST(SUM(n_chars) AS DOUBLE) / nullif(SUM(ntok), 0), 6)
         |  AS chars_per_token
         |FROM (
         |  SELECT f.doc_id, f.n_chars, d.lang,
         |  len(list_filter(string_split(trim(f.s), ' '),
         |    x -> x <> '|' AND x <> '')) AS ntok
         |  FROM fin f JOIN documents d ON f.doc_id = d.doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "))
  )

  /** One recursive Viterbi CTE pass (the unigram oracle's workhorse):
    * segments every `uwf` word under score table `vsc`(p, lp), ending
    * in `{name}(w, f, seg)`. The DP carries the last [[UnigramOps
    * .MaxPieceLen]] states as a fixed 4-list of (score, seg) structs —
    * a recursive term only sees the previous iteration, so the history
    * rides IN the row; the per-position argmax is max(struct(sc, l,
    * seg)) over the ≤4 candidate lengths (two candidates with equal l
    * are the same substring, so sc-then-l is a total order — the Scala
    * trainer's exact tie-break). */
  private def uniViterbiCte(name: String, vsc: String): String =
    s"""${name}_dp AS (
       |  SELECT w, f, length(w) AS wlen, 0 AS j,
       |    [NULL, NULL, NULL, {'sc': 0.0, 'seg': ''}]
       |      ::STRUCT(sc DOUBLE, seg VARCHAR)[] AS hist
       |  FROM uwf
       |  UNION ALL
       |  SELECT w, f, wlen, j + 1,
       |    [hist[2], hist[3], hist[4],
       |     {'sc': best.sc, 'seg': best.seg}
       |       ::STRUCT(sc DOUBLE, seg VARCHAR)]
       |  FROM (
       |    SELECT w, f, wlen, j, hist,
       |      max(struct_pack(
       |        sc := hist[5 - l.l].sc + v.lp,
       |        l := l.l,
       |        seg := CASE WHEN hist[5 - l.l].seg = '' THEN v.p
       |               ELSE hist[5 - l.l].seg || ' ' || v.p END)) AS best
       |    FROM ${name}_dp
       |    JOIN range(1, 5) l(l) ON l.l <= j + 1
       |    JOIN $vsc v ON v.p = w[j + 2 - l.l : j + 1]
       |    WHERE j < wlen AND hist[5 - l.l].sc IS NOT NULL
       |    GROUP BY w, f, wlen, j, hist)
       |),
       |$name AS (SELECT w, f, hist[4].seg AS seg FROM ${name}_dp
       |  WHERE j = wlen)""".stripMargin
  // ^ the per-position argmax is a JOIN + GROUP BY against the score
  //   table, not a correlated scalar subquery: DuckDB re-executes a
  //   correlated probe's ENTIRE upstream chain per row, which priced the
  //   ×10 trainer at 432 s (3 s in this form); and the score tables of
  //   rounds ≥2 cannot be hinted MATERIALIZED — DuckDB 1.0 mis-evaluates
  //   a materialized CTE downstream of a recursive one (bisected:
  //   ucnt1/uvc1/uvsc1/useg1 each flip values when hinted)

  /** M-step CTEs for EM round `n`: piece counts from segmentation
    * `seg`, then smoothed 9-dp scores over the seed vocabulary
    * (unused pieces drop to count 0; Laplace keeps them scorable). */
  private def uniCountScoreCte(n: Int, seg: String): String =
    s"""ucnt$n AS (
       |  SELECT p, SUM(f) AS c FROM (
       |    SELECT unnest(string_split(seg, ' ')) AS p, f FROM $seg)
       |  GROUP BY p),
       |uvc$n AS (SELECT v.p, coalesce(c.c, 0) AS c
       |  FROM uvocab0 v LEFT JOIN ucnt$n c ON v.p = c.p),
       |uvsc$n AS (SELECT p, c, round(ln((c + 1.0) /
       |    ((SELECT SUM(c) FROM uvc$n) + (SELECT count(*) FROM uvc$n))), 9)
       |    AS lp
       |  FROM uvc$n)""".stripMargin

  /** Oracle prelude replaying ops.UnigramOps.train verbatim (must
    * follow a WITH RECURSIVE): seed substring counts → [[UniEmRounds]]
    * unrolled hard-EM rounds (recursive Viterbi E-step + count/score
    * M-step) → count-rank prune → `umodel(piece, cnt, logp)` and its
    * score view `ufsc(p, lp)`. */
  /** Bigram-LM train-side CTEs (shared by the three bigram queries):
    * md5-bucket split (corpus_split's convention), train-split unigram
    * counts `buni(token, c1)`, scalar `bnv(n_train, v_train)`, and
    * bigram counts `bbig(w1, w2, c12)`. DuckDB lists are 1-based:
    * range(1, len) gives i = 1..len-1, so (toks[i], toks[i+1]) are
    * exactly Spark's 0-based (toks[i], toks[i+1]) pairs. */
  private lazy val bigramTrainCtes: String =
    s"""bd AS (SELECT doc_id, lang, $toks AS toks,
       |  ${Hashing.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100 AS b
       |  FROM documents),
       |btt AS (SELECT unnest(toks) AS token FROM bd WHERE b < 90),
       |buni AS (SELECT token, CAST(count(*) AS BIGINT) AS c1
       |  FROM btt GROUP BY token),
       |bnv AS (SELECT (SELECT count(*) FROM btt)::DOUBLE AS n_train,
       |  (SELECT count(*) FROM buni)::DOUBLE AS v_train),
       |bbig AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
       |  SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM (
       |    SELECT toks, CAST(unnest(range(1, len(toks))) AS INT) AS i
       |    FROM bd WHERE b < 90)) GROUP BY w1, w2)"""
      .stripMargin.replace("\n", " ")

  /** Eval-side CTEs on top of [[bigramTrainCtes]]: held-out transitions
    * scored with stupid backoff (0.4::DOUBLE keeps the multiply in
    * double space — DuckDB's bare 0.4 is DECIMAL and would round
    * differently from Spark's double at the last ulp), rolled up to
    * `bdoc(doc_id, lang, n_trans, n_backoff, avg_lp)`. */
  private lazy val bigramScoredCtes: String =
    s"""$bigramTrainCtes,
       |bep AS (SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, lang, toks,
       |    CAST(unnest(range(1, len(toks))) AS INT) AS i
       |    FROM bd WHERE b >= 90)),
       |bsc AS (SELECT doc_id, lang,
       |  CASE WHEN bbig.c12 IS NOT NULL THEN 0 ELSE 1 END AS backoff,
       |  round(ln(CASE WHEN bbig.c12 IS NOT NULL
       |    THEN bbig.c12::DOUBLE / u1.c1
       |    ELSE 0.4::DOUBLE * (coalesce(u2.c1, 0) + 1) / (n_train + v_train)
       |    END), 9) AS lp
       |  FROM bep LEFT JOIN bbig ON bep.w1 = bbig.w1 AND bep.w2 = bbig.w2
       |  LEFT JOIN buni u1 ON bep.w1 = u1.token
       |  LEFT JOIN buni u2 ON bep.w2 = u2.token CROSS JOIN bnv),
       |bdoc AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_trans,
       |  CAST(SUM(backoff) AS BIGINT) AS n_backoff,
       |  round(CAST(SUM(CAST(lp AS DECIMAL(30,9))) AS DOUBLE) / count(*), 6)
       |    AS avg_lp
       |  FROM bsc GROUP BY doc_id, lang)"""
      .stripMargin.replace("\n", " ")

  private lazy val unigramTrainerCtes: String = {
    val seed =
      s"""uwf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f FROM
         |  (SELECT unnest($toks) AS w FROM documents) t
         |  WHERE length(w) > 0 GROUP BY w),
         |usubs AS MATERIALIZED (
         |  SELECT w[i+1 : i+l] AS p, SUM(f) AS c
         |  FROM (SELECT w, f, CAST(unnest(range(length(w))) AS INT) AS i
         |    FROM uwf) t,
         |  range(1, 5) u(l)
         |  WHERE i + l <= length(w) GROUP BY 1),
         |uchars AS (SELECT p, c FROM usubs WHERE length(p) = 1),
         |uvocab0 AS MATERIALIZED (SELECT p, c FROM uchars UNION ALL
         |  SELECT p, c FROM (SELECT p, c FROM usubs WHERE length(p) > 1
         |    ORDER BY c DESC, p ASC LIMIT $UniSeedMulti)),
         |uvsc0 AS MATERIALIZED (SELECT p, c, round(ln((c + 1.0) /
         |    ((SELECT SUM(c) FROM uvocab0)
         |     + (SELECT count(*) FROM uvocab0))), 9) AS lp
         |  FROM uvocab0)""".stripMargin
    val rounds = (1 to UniEmRounds).map { r =>
      uniViterbiCte(s"useg$r", s"uvsc${r - 1}") + ",\n" +
        uniCountScoreCte(r, s"useg$r")
    }.mkString(",\n")
    val prune =
      s"""ufinalv AS (
         |  SELECT p FROM uchars
         |  UNION ALL
         |  SELECT p FROM (SELECT v.p FROM uvocab0 v
         |    JOIN uvc$UniEmRounds c ON v.p = c.p
         |    WHERE length(v.p) > 1
         |    ORDER BY c.c DESC, v.p ASC
         |    LIMIT $UniVocabSize - (SELECT count(*) FROM uchars))),
         |umodel AS (
         |  SELECT f.p AS piece, CAST(c.c AS BIGINT) AS cnt,
         |  round(ln((c.c + 1.0) /
         |      ((SELECT SUM(c2.c) FROM ufinalv f2
         |        JOIN uvc$UniEmRounds c2 ON f2.p = c2.p)
         |       + (SELECT count(*) FROM ufinalv))), 9) AS logp
         |  FROM ufinalv f JOIN uvc$UniEmRounds c ON f.p = c.p),
         |ufsc AS (SELECT piece AS p, logp AS lp FROM umodel)"""
        .stripMargin
    (seed + ",\n" + rounds + ",\n" + prune).replace("\n", " ")
  }

  /** Apply-side oracle CTEs: final-model Viterbi over the distinct
    * corpus words, rejoined per doc in token order — ends in
    * `ustats(doc_id, n_words, n_chars, n_unigram_tokens,
    * chars_per_token, tokens_digest)`. */
  private lazy val unigramApplyCtes: String =
    (unigramTrainerCtes + ",\n" + uniViterbiCte("usegf", "ufsc") + ",\n" +
      s"""udtoks AS (SELECT doc_id,
         |  list_filter($toks, x -> length(x) > 0) AS ts FROM documents),
         |udwords AS (SELECT doc_id,
         |  CAST(unnest(range(1, len(ts) + 1)) AS INT) AS i,
         |  unnest(ts) AS w FROM udtoks),
         |udocseg AS (SELECT d.doc_id,
         |    string_agg(sg.seg, ' | ' ORDER BY d.i) AS form,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
         |    CAST(SUM(len(string_split(sg.seg, ' '))) AS BIGINT) AS ntok
         |  FROM udwords d JOIN usegf sg ON d.w = sg.w
         |  GROUP BY d.doc_id),
         |ustats AS (SELECT dt.doc_id,
         |    coalesce(u.n_words, 0) AS n_words,
         |    coalesce(u.n_chars, 0) AS n_chars,
         |    coalesce(u.ntok, 0) AS n_unigram_tokens,
         |    round(CAST(coalesce(u.n_chars, 0) AS DOUBLE)
         |      / nullif(coalesce(u.ntok, 0), 0), 6) AS chars_per_token,
         |    md5(coalesce(u.form, '')) AS tokens_digest
         |  FROM udtoks dt LEFT JOIN udocseg u ON dt.doc_id = u.doc_id)"""
        .stripMargin).replace("\n", " ")

  /** Shared oracle prelude replaying ops.BpeOps.train as a recursive
    * CTE (ends in `st`; the final state row's `merges` list is the
    * model): word-freq table → spaced words → per step, count adjacent
    * pairs (overlapping, freq-weighted) via list lambdas over a
    * single-row list state, pick (count DESC, combined-key ASC), apply
    * the merge with the same two replace passes the Scala trainer and
    * the Spark-side apply chain use. chr(1) joins pair keys so the
    * VARCHAR tie-break equals the Scala combined-string compare. */
  /** WordPiece trainer replay (ends in `wst`): bpeTrainerWith's
    * recursive discipline with (a) "##"-prefixed spaced words, (b) BOTH
    * pair counts (apf) and symbol counts (ssf) carried per round, and
    * (c) argmax by the scaled integer likelihood ratio
    * floor(c*Scale/(cl*cr)), ties by the chr(1)-joined pair key — the
    * exact compare the Scala trainer runs. */
  private lazy val wpTrainerWith: String =
    s"""WITH RECURSIVE
       |wwf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM
       |  (SELECT unnest($toks) AS w FROM documents) t
       |  WHERE length(w) > 0 GROUP BY w),
       |ww0 AS (SELECT ' ' || array_to_string(list_transform(
       |    range(1, length(w) + 1), k -> CASE WHEN k = 1 THEN ch[k]
       |      ELSE '##' || ch[k] END), ' ') || ' ' AS s, f
       |  FROM (SELECT w, string_split(w, '') AS ch, f FROM wwf)),
       |wst AS (
       |  SELECT 0 AS i, list({'s': s, 'f': f} ORDER BY s) AS words,
       |    CAST([] AS STRUCT(i INT, l VARCHAR, r VARCHAR, c BIGINT,
       |      sc BIGINT)[]) AS merges
       |  FROM ww0
       |  UNION ALL
       |  SELECT i + 1,
       |    list_transform(words, w -> {'s':
       |      replace(replace(w.s,
       |        ' ' || best.l || ' ' || best.r || ' ',
       |        ' ' || best.l || best.r[3:] || ' '),
       |        ' ' || best.l || ' ' || best.r || ' ',
       |        ' ' || best.l || best.r[3:] || ' '),
       |      'f': w.f}),
       |    list_append(merges, {'i': i, 'l': best.l, 'r': best.r,
       |      'c': best.c, 'sc': best.sc})
       |  FROM (
       |    SELECT i, words, merges,
       |      (SELECT {'l': split_part(q.p, chr(1), 1),
       |               'r': split_part(q.p, chr(1), 2),
       |               'c': q.c, 'sc': q.sc}
       |       FROM (
       |        SELECT p, c, (c * ${graft.ops.WordPieceOps.Scale})
       |          // (cl * cr) AS sc
       |        FROM (
       |          SELECT p,
       |            list_sum(list_transform(apf, x ->
       |              CASE WHEN x.p = p THEN x.f ELSE 0 END)) AS c,
       |            list_sum(list_transform(ssf, x ->
       |              CASE WHEN x.s = split_part(p, chr(1), 1)
       |                THEN x.f ELSE 0 END)) AS cl,
       |            list_sum(list_transform(ssf, x ->
       |              CASE WHEN x.s = split_part(p, chr(1), 2)
       |                THEN x.f ELSE 0 END)) AS cr
       |          FROM (SELECT unnest(list_distinct(
       |            list_transform(apf, x -> x.p))) AS p))
       |        ORDER BY sc DESC, p ASC LIMIT 1) q) AS best
       |    FROM (
       |      SELECT i, words, merges,
       |        flatten(list_transform(words, w ->
       |          list_transform(range(1, len(string_split(trim(w.s), ' '))),
       |            j -> {'p': string_split(trim(w.s), ' ')[j] || chr(1)
       |                    || string_split(trim(w.s), ' ')[j+1],
       |                  'f': w.f}))) AS apf,
       |        flatten(list_transform(words, w ->
       |          list_transform(string_split(trim(w.s), ' '),
       |            y -> {'s': y, 'f': w.f}))) AS ssf
       |      FROM wst WHERE i < $WpNMerges)
       |  ) WHERE best.l IS NOT NULL
       |)""".stripMargin.replace("\n", " ")

  /** Trainer + corpus-wide apply (ends in `wfin`) — bpeApplyWith's
    * shape on the WordPiece model: "##"-marked doc spaced forms, merges
    * applied through the per-merge recursive join with the fused symbol
    * stripping the right part's prefix. */
  private lazy val wpApplyWith: String =
    s"""$wpTrainerWith,
       |wmerges_t AS (SELECT m.i AS mi, m.l AS l, m.r AS r
       |  FROM (SELECT unnest(merges) AS m FROM wst
       |    WHERE i = (SELECT max(i) FROM wst))),
       |wd0 AS (SELECT doc_id,
       |  ' ' || array_to_string(list_transform(
       |    list_filter($toks, t -> length(t) > 0), t ->
       |    array_to_string(list_transform(range(1, length(t) + 1),
       |      k -> CASE WHEN k = 1 THEN string_split(t, '')[k]
       |        ELSE '##' || string_split(t, '')[k] END), ' ')), ' | ')
       |  || ' ' AS s,
       |  len(list_filter($toks, t -> length(t) > 0)) AS n_words,
       |  coalesce(list_sum(list_transform(
       |    list_filter($toks, t -> length(t) > 0), t -> length(t))), 0)
       |    AS n_chars
       |  FROM documents),
       |wap AS (
       |  SELECT doc_id, n_words, n_chars, 0 AS k, s FROM wd0
       |  UNION ALL
       |  SELECT wap.doc_id, wap.n_words, wap.n_chars, wap.k + 1,
       |    replace(replace(wap.s,
       |      ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r[3:] || ' '),
       |      ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r[3:] || ' ')
       |  FROM wap JOIN wmerges_t m ON m.mi = wap.k),
       |wfin AS (SELECT doc_id, n_words, n_chars, s FROM wap
       |  WHERE k = (SELECT count(*) FROM wmerges_t))"""
      .stripMargin.replace("\n", " ")

  private lazy val bpeTrainerWith: String =
    s"""WITH RECURSIVE
       |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM
       |  (SELECT unnest($toks) AS w FROM documents) t
       |  WHERE length(w) > 0 GROUP BY w),
       |w0 AS (SELECT ' ' || array_to_string(string_split(w, ''), ' ')
       |  || ' ' AS s, f FROM wf),
       |st AS (
       |  SELECT 0 AS i, list({'s': s, 'f': f} ORDER BY s) AS words,
       |    CAST([] AS STRUCT(i INT, l VARCHAR, r VARCHAR, c BIGINT)[])
       |      AS merges
       |  FROM w0
       |  UNION ALL
       |  SELECT i + 1,
       |    list_transform(words, w -> {'s':
       |      replace(replace(w.s,
       |        ' ' || best.l || ' ' || best.r || ' ',
       |        ' ' || best.l || best.r || ' '),
       |        ' ' || best.l || ' ' || best.r || ' ',
       |        ' ' || best.l || best.r || ' '),
       |      'f': w.f}),
       |    list_append(merges, {'i': i, 'l': best.l, 'r': best.r,
       |      'c': best.c})
       |  FROM (
       |    SELECT i, words, merges,
       |      (SELECT {'l': split_part(q.p, chr(1), 1),
       |               'r': split_part(q.p, chr(1), 2), 'c': q.c}
       |       FROM (
       |        SELECT p, list_sum(list_transform(apf, x ->
       |          CASE WHEN x.p = p THEN x.f ELSE 0 END)) AS c
       |        FROM (SELECT unnest(list_distinct(
       |          list_transform(apf, x -> x.p))) AS p)
       |        ORDER BY c DESC, p ASC LIMIT 1) q) AS best
       |    FROM (
       |      SELECT i, words, merges,
       |        flatten(list_transform(words, w ->
       |          list_transform(range(1, len(string_split(trim(w.s), ' '))),
       |            j -> {'p': string_split(trim(w.s), ' ')[j] || chr(1)
       |                    || string_split(trim(w.s), ' ')[j+1],
       |                  'f': w.f}))) AS apf
       |      FROM st WHERE i < $BpeNMerges)
       |  ) WHERE best.l IS NOT NULL
       |)""".stripMargin.replace("\n", " ")

  /** Trainer + corpus-wide apply (ends in `fin(doc_id, n_words,
    * n_chars, s)` — each document's fully merged spaced form): the
    * trained merges re-derived from `st`, then applied to every
    * document through a per-merge recursive join, mirroring
    * ops.BpeOps.spacedDoc + applyMerges. Shared by corpus_tokenize
    * and the sequence-packing oracles (CorpusQueries), so the
    * tokenization both families verify against cannot drift. */
  private[queries] lazy val bpeApplyWith: String =
    s"""$bpeTrainerWith,
       |merges_t AS (SELECT m.i AS mi, m.l AS l, m.r AS r
       |  FROM (SELECT unnest(merges) AS m FROM st
       |    WHERE i = (SELECT max(i) FROM st))),
       |d0 AS (SELECT doc_id,
       |  ' ' || array_to_string(list_transform(
       |    list_filter($toks, t -> length(t) > 0), t ->
       |    array_to_string(string_split(t, ''), ' ')), ' | ') || ' ' AS s,
       |  len(list_filter($toks, t -> length(t) > 0)) AS n_words,
       |  coalesce(list_sum(list_transform(
       |    list_filter($toks, t -> length(t) > 0), t -> length(t))), 0)
       |    AS n_chars
       |  FROM documents),
       |ap AS (
       |  SELECT doc_id, n_words, n_chars, 0 AS k, s FROM d0
       |  UNION ALL
       |  SELECT ap.doc_id, ap.n_words, ap.n_chars, ap.k + 1,
       |    replace(replace(ap.s,
       |      ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' '),
       |      ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ')
       |  FROM ap JOIN merges_t m ON m.mi = ap.k),
       |fin AS (SELECT doc_id, n_words, n_chars, s FROM ap
       |  WHERE k = (SELECT count(*) FROM merges_t))"""
      .stripMargin.replace("\n", " ")

  /** Shared oracle for corpus_tokenize and its streaming twin (the
    * transform is per-row pure, so the batch SQL applies verbatim to
    * the streamed result). */
  private lazy val corpusTokenizeSql: String =
    s"""$bpeApplyWith
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |CAST(n_chars AS BIGINT) AS n_chars,
       |CAST(len(list_filter(string_split(trim(s), ' '),
       |  x -> x <> '|' AND x <> '')) AS BIGINT) AS n_bpe_tokens,
       |round(CAST(n_chars AS DOUBLE) / nullif(
       |  len(list_filter(string_split(trim(s), ' '),
       |    x -> x <> '|' AND x <> '')), 0), 6) AS chars_per_token,
       |md5(trim(s)) AS tokens_digest
       |FROM fin ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Oracle for [[freq_tokens_cms]] — same affine coefficients as the
    * Spark side (one source of truth: Hashing.affineCoeffs). */
  private lazy val cmsOracle: String = {
    val h = Hashing.sqlH31("token")
    val tb = Hashing.affineCoeffs(CmsDepth).zipWithIndex.map {
      case ((a, b), i) =>
        s"SELECT token, $i AS row_i, (${Hashing.sqlAffine(h, a, b)} % $CmsWidth) AS bucket FROM toks"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT unnest($toks) AS token FROM documents),
       |tb AS ($tb),
       |counters AS (SELECT row_i, bucket, count(*) AS c
       |  FROM tb GROUP BY row_i, bucket),
       |exact AS (SELECT token, count(*) AS exact_count
       |  FROM toks GROUP BY token),
       |probes AS (SELECT token, exact_count FROM exact
       |  ORDER BY exact_count DESC, token ASC LIMIT 10),
       |pb AS (SELECT p.token, p.exact_count, t.row_i, t.bucket
       |  FROM probes p
       |  JOIN (SELECT DISTINCT token, row_i, bucket FROM tb) t
       |  ON p.token = t.token),
       |est AS (SELECT token, exact_count, min(c) AS cms_est
       |  FROM pb JOIN counters USING (row_i, bucket)
       |  GROUP BY token, exact_count)
       |SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
       |CAST(cms_est AS BIGINT) AS cms_est,
       |CAST(cms_est - exact_count AS BIGINT) AS overcount
       |FROM est ORDER BY token""".stripMargin.replace("\n", " ")
  }

  /** Deterministic PII planting (batch and streaming scan share it, so
    * both literally scan the same text): the fixture is word-salad, so
    * both engines append the SAME doc_id-keyed email / phone / IPv4 /
    * card spans before scanning — the regex machinery sees real
    * nonzero hits and the oracle checks counts AND redacted digest. */
  /** Deterministic planted-PII augmentation (shared with the per-domain
    * rollup in WebQueries — package-visible so the fixture plumbing has
    * exactly one definition per engine). */
  private[queries] def piiAugment(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.org now")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, concat(lit(" call 212-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" soon"))).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, concat(lit(" host 10."),
        (col("doc_id") % 256).cast("string"), lit(".0.1 up")))
        .otherwise(lit("")),
      when(col("doc_id") % 17 === 0, lit(" card 4111 1111 1111 1111 ok"))
        .otherwise(lit(""))).as("text"))

  /** Oracle for [[pii_scan]] — built from the same PiiPatterns table as
    * the Spark side so the regexes cannot drift. */
  /** Oracle twin of [[piiAugment]] (ends in a doc_id, text relation). */
  private[queries] lazy val piiAugSql: String =
    """SELECT doc_id, text
      || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org now' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ' call 212-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' soon' ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 up' ELSE '' END
      || CASE WHEN doc_id % 17 = 0 THEN ' card 4111 1111 1111 1111 ok' ELSE '' END AS text
      FROM documents""".replaceAll("\\s+", " ")

  private lazy val piiOracle: String = {
        val counts = TextOps.PiiPatterns.map { case (kind, re, _) =>
          s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$kind"
        }.mkString(", ")
        val total = TextOps.PiiPatterns.map { case (_, re, _) =>
          s"len(regexp_extract_all(text, '$re'))" }.mkString(" + ")
        val redacted = TextOps.PiiPatterns.foldLeft("text") {
          case (e, (_, re, tag)) => s"regexp_replace($e, '$re', '$tag', 'g')"
        }
        s"""WITH aug AS ($piiAugSql)
           SELECT doc_id, $counts, CAST($total AS BIGINT) AS n_pii,
           md5($redacted) AS redacted_digest
           FROM aug ORDER BY doc_id""".replaceAll("\\s+", " ")
  }
}
