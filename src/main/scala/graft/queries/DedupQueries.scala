package graft.queries

import graft.{Q, Tables}
import graft.functions.Hashing
import graft.ops.DedupOps
import org.apache.spark.sql.functions._
import OracleFrags._

/** Deduplication queries over the `documents` fixture: exact, n-gram
  * Jaccard, MinHash(+LSH), SimHash. The corpus has planted near-dup pairs
  * (jaccard ≳ 0.9), so thresholded queries return non-trivial results.
  */
object DedupQueries {

  private val K = 3            // shingle width
  private val NH = 16          // minhash functions
  private val BAND = 2         // rows per LSH band
  private val TH = 0.5         // jaccard threshold

  /** Threshold arms for the dedup tuning curve, spanning from the
    * vocabulary-noise floor (~0.02 on this fixture) up through the
    * planted near-dup band (≳0.9). The staged base pair table is cut
    * at the LOWEST arm so every arm filters one scored set. */
  private final val CurveBase = 0.02
  private final val CurveThs = Seq(0.02, 0.05, 0.1, 0.3, 0.5, 0.7, 0.9)

  /** Force this family's staged artifacts (Staged.prewarm hook) so
    * bench reps don't bill a cold signature/pair build to the first
    * consumer query. Parameters must match the registered queries'. */
  private[queries] def prewarm(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (idx, sizes) = Staged.shingleIndex(s, dir, K)
    idx.count(); sizes.count()
    Staged.ngramPairs(s, dir, K, TH).count()
    Staged.ngramPairs(s, dir, K, CurveBase).count()
    Staged.minhashSigs(s, dir, K, NH).count()
    Staged.simhashSigs(s, dir, 32).count()
    Staged.dupClusters(s, dir, K, TH).count()
    Staged.substringSpans(s, dir, SpanW, SpanMaxDf).count()
  }

  val all: Seq[Q] = Seq(

    // Exact dedup: content digest → representative + multiplicity.
    Q("dedup_exact",
      (s, dir) => DedupOps.exactDedup(Tables.documents(s, dir))
        .orderBy("content_hash"),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |count(*) AS n_copies FROM documents GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin.replace("\n", " ")),

    // N-gram Jaccard near-dup pairs via the shingle inverted index
    // (staged: clusters + corpus selection reuse the same cached set).
    Q("dedup_ngram_jaccard",
      (s, dir) => Staged.ngramPairs(s, dir, K, TH)
        .orderBy("doc_a", "doc_b"),
      s"""WITH ds AS (${docShingleHashes(K)}),
         |sizes AS (SELECT doc_id, CAST(len(${shingles(toks, K)}) AS BIGINT) AS n_sh FROM documents),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM ds a JOIN ds b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= $TH
         |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")),

    // The Jaccard-threshold knob's TUNING CURVE (the ann_nprobe_curve /
    // nb_filter_threshold_curve discipline brought to dedup): seven
    // arms filter ONE staged scored-pair table (cut at the lowest arm,
    // the same Σ posting²-bounded candidate set every screen derives
    // from) and report pairs kept, docs touched, and the survivors'
    // mean Jaccard. On this fixture the curve exposes the corpus's
    // BIMODAL overlap structure: 312 pairs at 0.02 collapse to 25 by
    // 0.1 and then stay EXACTLY 25 through 0.9 (the planted near-dups)
    // — i.e. any threshold in [0.1, 0.9] is equivalent here, and the
    // operating point should sit in the gap, which is precisely what a
    // deployment reads a threshold curve to learn. Scale: arms are
    // trivial aggregates; the one pair computation is the staged
    // artifact. Monotone structure pinned in WebCurveSpec.
    Q("dedup_threshold_curve",
      (s, dir) => {
        val base = Staged.ngramPairs(s, dir, K, CurveBase)
        CurveThs.map { t =>
          base.filter(col("jaccard") >= t)
            .select(explode(array(col("doc_a"), col("doc_b"))).as("d"),
              col("jaccard"))
            .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
              countDistinct(col("d")).cast("long").as("n_docs"),
              round(sum(col("jaccard")
                  .cast(org.apache.spark.sql.types.DecimalType(20, 6)))
                .cast("double") / count(lit(1)), 6).as("mean_jaccard"))
            .select(lit(t).as("threshold"), col("n_pairs"),
              col("n_docs"), col("mean_jaccard"))
        }.reduce(_ unionByName _).orderBy("threshold")
      },
      s"""WITH ds AS (${docShingleHashes(K)}),
         |sizes AS (SELECT doc_id, CAST(len(${shingles(toks, K)}) AS BIGINT) AS n_sh FROM documents),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM ds a JOIN ds b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |base AS (
         |  SELECT doc_a, doc_b,
         |  round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6)
         |    AS jaccard
         |  FROM common
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6)
         |    >= $CurveBase),
         |arms AS (SELECT CAST(unnest([${CurveThs.mkString(", ")}])
         |  AS DOUBLE) AS threshold),
         |x AS (SELECT threshold, doc_a, doc_b, jaccard
         |  FROM arms CROSS JOIN base WHERE jaccard >= threshold),
         |e AS (SELECT threshold, unnest([doc_a, doc_b]) AS d, jaccard
         |  FROM x),
         |agg AS (SELECT threshold,
         |  CAST(count(*) / 2 AS BIGINT) AS np,
         |  CAST(count(DISTINCT d) AS BIGINT) AS nd,
         |  CAST(round(CAST(SUM(CAST(jaccard AS DECIMAL(20,6))) AS DOUBLE)
         |    / count(*), 6) AS DOUBLE) AS mj
         |  FROM e GROUP BY threshold)
         |SELECT a.threshold, coalesce(np, 0) AS n_pairs,
         |coalesce(nd, 0) AS n_docs, mj AS mean_jaccard
         |FROM arms a LEFT JOIN agg ON a.threshold = agg.threshold
         |ORDER BY a.threshold""".stripMargin.replace("\n", " ")),

    // The hot-shingle mitigation as a first-class operator: shingles in
    // more than maxDf docs are dropped before the pair join (caps the
    // inverted index's Σ posting² blow-up; jaccard over retained sets).
    Q("dedup_ngram_stopshingle",
      (s, dir) => DedupOps.ngramJaccardPairsStopShingle(
          Staged.shingleIndex(s, dir, K)._1, 50L, TH)
        .orderBy("doc_a", "doc_b"),
      s"""WITH ds AS (${docShingleHashes(K)}),
         |dfreq AS (SELECT sh_h, count(*) AS df_ FROM ds GROUP BY sh_h),
         |kept AS (
         |  SELECT doc_id, ds.sh_h FROM ds
         |  JOIN dfreq ON ds.sh_h = dfreq.sh_h AND dfreq.df_ <= 50),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM kept a JOIN kept b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= $TH
         |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")),

    // MinHash signatures (16 affine rehashes over 31-bit shingle hashes).
    Q("minhash_signatures",
      (s, dir) => Staged.minhashSigs(s, dir, K, NH)
        .orderBy("doc_id"),
      s"""SELECT doc_id, ${minhashAggs(NH)}
         |FROM (${docShingleHashes(K)}) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // MinHash+LSH candidate pairs (8 bands × 2 rows), verified with exact
    // Jaccard over candidate pairs only.
    Q("dedup_minhash_lsh",
      (s, dir) => DedupOps.minhashLshPairsFromSigs(
          Staged.minhashSigs(s, dir, K, NH), Tables.documents(s, dir),
          K, NH, BAND, TH)
        .orderBy("doc_a", "doc_b"),
      {
        val nBands = NH / BAND
        val bandExprs = (0 until nBands).map { b =>
          val parts = (0 until BAND).map(r => s"sig_${b * BAND + r}::VARCHAR")
          s"concat_ws('_', '$b', ${parts.mkString(", ")})"
        }.mkString("[", ", ", "]")
        s"""WITH sigs AS (
           |  SELECT doc_id, ${minhashAggs(NH)}
           |  FROM (${docShingleHashes(K)}) GROUP BY doc_id),
           |banded AS (SELECT doc_id, unnest($bandExprs) AS band_key FROM sigs),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b
           |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |sh AS (SELECT doc_id, ${shingles(toks, K)} AS sh FROM documents)
           |SELECT doc_a, doc_b,
           |round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
           |  (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
           |FROM cands
           |JOIN sh sa ON doc_a = sa.doc_id
           |JOIN sh sb ON doc_b = sb.doc_id
           |WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
           |  (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) >= $TH
           |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")
      }),

    // The same MinHash signatures through the single-buffer
    // TypedImperativeAggregate (graft_minhash) — one long[16] buffer per
    // group instead of 16 min aggregates; identical oracle.
    Q("minhash_signatures_agg",
      (s, dir) => {
        val base = Staged.shingleIndex(s, dir, K)._1
          .select(col("doc_id"),
            (col("sh_h") % graft.functions.Hashing.Mersenne31).as("h"))
        val sig = base.groupBy(col("doc_id"))
          .agg(call_function("graft_minhash", col("h"), lit(NH)).as("sig"))
        sig.select(
            (col("doc_id") +: (0 until NH).map(i =>
              col("sig").getItem(i).as(s"sig_$i"))): _*)
          .orderBy("doc_id")
      },
      s"""SELECT doc_id, ${minhashAggs(NH)}
         |FROM (${docShingleHashes(K)}) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Asymmetric containment screen: |A∩B|/|A| flags a short doc pasted
    // inside a long one (~1.0) where symmetric Jaccard dilutes toward 0
    // — the quote/boilerplate/subset detector that runs beside the
    // near-dup screen in corpus dedup. Same staged index, same
    // equality-keyed join shape.
    Q("dedup_containment",
      (s, dir) => {
        val (ds, sizes) = Staged.shingleIndex(s, dir, K)
        DedupOps.containmentPairs(ds, sizes, 0.8)
          .orderBy("doc_a", "doc_b")
      },
      s"""WITH dsh AS (${docShingleHashes(K)}),
         |sizes AS (SELECT doc_id, CAST(len(${shingles(toks, K)}) AS BIGINT)
         |  AS n_sh FROM documents),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM dsh a JOIN dsh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT doc_a, doc_b,
         |  round(n_common::DOUBLE / sa.n_sh, 6) AS cont_a,
         |  round(n_common::DOUBLE / sb.n_sh, 6) AS cont_b
         |  FROM common
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id)
         |WHERE greatest(cont_a, cont_b) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")),

    // Sketch-quality evaluation: over every LSH candidate pair, the
    // MinHash collision-rate estimate of Jaccard (matching positions /
    // NH) against the exact shingle-set Jaccard, with the absolute
    // error. This is the measurement that justifies (NH, band) settings
    // before a 100 TB dedup run — same candidates-then-verify shape as
    // the dedup itself, so the eval costs no more than one dedup pass.
    Q("minhash_est_error",
      (s, dir) => {
        val sigs = Staged.minhashSigs(s, dir, K, NH)
        val cands = DedupOps.minhashLshPairsFromSigs(
          sigs, Tables.documents(s, dir), K, NH, BAND, 0.0)
        val matches = (0 until NH)
          .map(i => when(col(s"sa.sig_$i") === col(s"sb.sig_$i"), 1)
            .otherwise(0))
          .reduce(_ + _)
        cands
          .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            round(matches.cast("double") / NH, 6).as("est_jaccard"))
          .withColumn("abs_err",
            round(abs(col("est_jaccard") - col("jaccard")), 6))
          .orderBy("doc_a", "doc_b")
      },
      {
        val nBands = NH / BAND
        val bandExprs = (0 until nBands).map { b =>
          val parts = (0 until BAND).map(r => s"sig_${b * BAND + r}::VARCHAR")
          s"concat_ws('_', '$b', ${parts.mkString(", ")})"
        }.mkString("[", ", ", "]")
        val estSum = (0 until NH)
          .map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH sigs AS (
           |  SELECT doc_id, ${minhashAggs(NH)}
           |  FROM (${docShingleHashes(K)}) GROUP BY doc_id),
           |banded AS (SELECT doc_id, unnest($bandExprs) AS band_key FROM sigs),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b
           |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |sh AS (SELECT doc_id, ${shingles(toks, K)} AS sh FROM documents),
           |ex AS (
           |  SELECT doc_a, doc_b,
           |  round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
           |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
           |    AS jaccard
           |  FROM cands
           |  JOIN sh sa ON doc_a = sa.doc_id
           |  JOIN sh sb ON doc_b = sb.doc_id),
           |est AS (
           |  SELECT e.doc_a, e.doc_b, e.jaccard,
           |  round(($estSum)::DOUBLE / $NH, 6) AS est_jaccard
           |  FROM ex e
           |  JOIN sigs a ON e.doc_a = a.doc_id
           |  JOIN sigs b ON e.doc_b = b.doc_id)
           |SELECT doc_a, doc_b, jaccard, est_jaccard,
           |round(abs(est_jaccard - jaccard), 6) AS abs_err
           |FROM est ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")
      }),

    // LSH pair recall: of the true Jaccard≥TH pairs (exact inverted-
    // index screen), what fraction does the banded MinHash screen find?
    // By construction the LSH path verifies candidates with exact
    // Jaccard, so its output is a subset of the truth — precision is 1.0
    // and this one number is the whole quality story for the (NH, band)
    // setting. Corpus-level eval: one row.
    Q("dedup_minhash_recall",
      (s, dir) => {
        val truth = Staged.ngramPairs(s, dir, K, TH)
          .select(col("doc_a"), col("doc_b"))
        val found = DedupOps.minhashLshPairsFromSigs(
            Staged.minhashSigs(s, dir, K, NH), Tables.documents(s, dir),
            K, NH, BAND, TH)
          .select(col("doc_a"), col("doc_b"), lit(1).as("hit"))
        truth.join(found, Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_true_pairs"),
            count(col("hit")).as("n_found"))
          .select(col("n_true_pairs"), col("n_found"),
            // nullif: a dup-free corpus (0 true pairs) yields a null
            // recall row instead of an ANSI 0/0 crash
            round(col("n_found") /
              nullif(col("n_true_pairs").cast("double"), lit(0d)), 6)
              .as("recall"))
      },
      {
        val nBands = NH / BAND
        val bandExprs = (0 until nBands).map { b =>
          val parts = (0 until BAND).map(r => s"sig_${b * BAND + r}::VARCHAR")
          s"concat_ws('_', '$b', ${parts.mkString(", ")})"
        }.mkString("[", ", ", "]")
        s"""WITH truth AS (${jaccardPairsSql(K, TH)}),
           |sigs AS (
           |  SELECT doc_id, ${minhashAggs(NH)}
           |  FROM (${docShingleHashes(K)}) GROUP BY doc_id),
           |banded AS (SELECT doc_id, unnest($bandExprs) AS band_key FROM sigs),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b
           |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
           |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           |CAST(count(c.doc_a) AS BIGINT) AS n_found,
           |round(count(c.doc_a) / nullif(CAST(count(*) AS DOUBLE), 0), 6) AS recall
           |FROM truth t LEFT JOIN cands c
           |ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b"""
          .stripMargin.replace("\n", " ")
      }),

    // Duplicate clusters: connected components over the n-gram near-dup
    // pairs (min-label propagation; recursive-CTE closure as the oracle).
    Q("dedup_clusters",
      (s, dir) => Staged.dupClusters(s, dir, K, TH)
        .orderBy("doc_id"),
      s"""${dupClustersWith(K, TH)}
         |SELECT doc_id, cluster_id FROM clusters
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // SimHash 32-bit signatures (per-token bit votes packed into a long).
    Q("dedup_simhash",
      (s, dir) => Staged.simhashSigs(s, dir, 32)
        .orderBy("doc_id"),
      s"${simhashSql(32)} ORDER BY doc_id"),

    // SimHash Hamming-distance pairs via band bucketing: 4 bands of 8
    // bits over the 32-bit signature; maxHamming=3 < nBands makes the
    // banded candidate set provably equal to the O(n²) screen (pigeonhole)
    // while the join stays equality-keyed on the band value.
    Q("dedup_simhash_pairs",
      (s, dir) => DedupOps.simhashHammingPairsFromSigs(
          Staged.simhashSigs(s, dir, 32), 32, 4, 3)
        .orderBy("doc_a", "doc_b"),
      s"""WITH sh AS (${simhashSql(32)})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")),

    // Incremental dedup — the daily-ingest shape: a 20% batch
    // (doc_id % 5 = 0, scale-proportional at every SF) screened against
    // the remaining 80% corpus with NO corpus×corpus or batch×batch
    // pairing: exact digests + batch-bands ⋈ corpus-bands LSH
    // candidates, exact-Jaccard verified, best match per batch doc. The
    // corpus digests/signatures are the staged daily artifacts at
    // 100 TB; per-day work scales with the batch.
    Q("dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        DedupOps.dedupIncremental(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0), K, NH, BAND, TH)
          .orderBy("doc_id")
      },
      incrementalOracleSql),

    // Streaming twin (§2.9): the same screen per micro-batch via
    // foreachBatch against the CACHED staged corpus artifacts. The
    // screen is per-document independent — identical results under any
    // micro-batch slicing — so the batch oracle applies verbatim.
    Q("streaming_dedup_incremental",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_inc", dir)
        graft.streaming.StreamingDedup
          .incrementalScreenAvailableNow(s, dir, work, K, NH, BAND, TH)
          .orderBy("doc_id")
      },
      incrementalOracleSql),

    // Exact-substring span dedup (the Lee-et-al "dedup training data"
    // signal): every MAXIMAL shared run of ≥8 consecutive tokens
    // between two docs, with both start positions and the full run
    // length — the operator that lets a pipeline CUT repeated passages
    // instead of dropping documents (doc-level Jaccard can't see a
    // 90-token verbatim quote inside two otherwise-different docs).
    // Window-hash inverted index → hot-gram df cap (2..50 docs) →
    // equality self-join → per-(pair, diagonal) gaps-and-islands
    // merge; every stage equality-keyed or windowed over matched rows
    // only (DedupOps.substringSpans). Fixture yields real structure:
    // 25 spans up to 93 tokens from the planted near-dups.
    Q("dedup_substring_spans",
      (s, dir) => Staged.substringSpans(s, dir, SpanW, SpanMaxDf)
        .orderBy("doc_a", "doc_b", "a_start", "b_start"),
      s"""$spansWith
         |SELECT * FROM spans
         |ORDER BY doc_a, doc_b, a_start, b_start"""
        .stripMargin.replace("\n", " ")),

    // ...and the per-document profile the spans feed: each doc's span
    // intervals (both pair roles) unioned into disjoint regions →
    // duplicated-token count / region count / fraction of the doc —
    // the "how much of this document is copied text" statistic that
    // decides cut-vs-drop per doc. Interval union is the per-doc
    // running-max-end window over the (already pair-capped) span
    // table; one window + two hash-aggs past that.
    Q("dedup_span_coverage",
      (s, dir) => DedupOps.substringCoverage(
          Staged.substringSpans(s, dir, SpanW, SpanMaxDf),
          Tables.documents(s, dir).select(col("doc_id"),
            size(graft.ops.TextOps.tokens(col("text"))).cast("long")
              .as("n_tokens")))
        .orderBy("doc_id"),
      s"""$spansWith,
         |iv AS (
         |  SELECT DISTINCT doc_id, st, en FROM (
         |  SELECT doc_a AS doc_id, CAST(a_start AS BIGINT) AS st,
         |    a_start + span_len - 1 AS en FROM spans
         |  UNION ALL
         |  SELECT doc_b AS doc_id, CAST(b_start AS BIGINT) AS st,
         |    b_start + span_len - 1 AS en FROM spans)),
         |o AS (SELECT doc_id, st, en,
         |  max(en) OVER (PARTITION BY doc_id ORDER BY st, en
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |  FROM iv),
         |r AS (SELECT doc_id, st, en,
         |  sum(CASE WHEN prev_max IS NULL OR st > prev_max + 1
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
         |    ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS region
         |  FROM o),
         |m AS (SELECT doc_id, region, min(st) AS st, max(en) AS en
         |  FROM r GROUP BY doc_id, region),
         |cov AS (SELECT doc_id,
         |  CAST(sum(en - st + 1) AS BIGINT) AS n_dup_tokens,
         |  CAST(count(*) AS BIGINT) AS n_regions
         |  FROM m GROUP BY doc_id),
         |tc AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT cov.doc_id, tc.n_tokens, cov.n_dup_tokens, cov.n_regions,
         |round(CAST(cov.n_dup_tokens AS DOUBLE) / tc.n_tokens, 6) AS dup_frac
         |FROM cov JOIN tc ON cov.doc_id = tc.doc_id
         |ORDER BY cov.doc_id""".stripMargin.replace("\n", " "))
  )

  /** Shared spans prelude (ends in `spans(doc_a, doc_b, a_start,
    * b_start, span_len)`) — mirrors DedupOps.substringSpans; read by
    * the span query and the coverage profile so the two can't drift. */
  private lazy val spansWith: String =
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents
       |  WHERE len($toks) >= $SpanW),
       |g AS (SELECT doc_id, CAST(x.i AS INT) AS pos,
       |  ${Hashing.sqlMd5Long(
           s"array_to_string(toks[CAST(x.i AS INT)+1:CAST(x.i AS INT)+$SpanW], ' ')")}
       |    AS gram
       |  FROM t, LATERAL (SELECT unnest(range(0, len(toks) - $SpanW + 1))
       |    AS i) x),
       |df AS (SELECT gram FROM (
       |  SELECT gram, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram)
       |  WHERE n_docs BETWEEN 2 AND $SpanMaxDf),
       |gg AS (SELECT g.* FROM g JOIN df USING (gram)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.pos AS pos_a, b.pos AS pos_b
       |  FROM gg a JOIN gg b
       |  ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |isl AS (SELECT doc_a, doc_b, pos_a, pos_b,
       |  pos_a - pos_b AS diag,
       |  pos_a - row_number() OVER (PARTITION BY doc_a, doc_b,
       |    pos_a - pos_b ORDER BY pos_a) AS island
       |  FROM pairs),
       |spans AS (SELECT doc_a, doc_b, CAST(min(pos_a) AS INT) AS a_start,
       |  CAST(min(pos_b) AS INT) AS b_start,
       |  CAST(max(pos_a) - min(pos_a) + $SpanW AS BIGINT) AS span_len
       |  FROM isl GROUP BY doc_a, doc_b, diag, island)"""
      .stripMargin.replace("\n", " ")

  /** Substring-span window width (minimum duplicated run length) and
    * the hot-gram document-frequency cap. */
  private final val SpanW = 8
  private final val SpanMaxDf = 50

  /** Batch-vs-corpus incremental screen oracle — shared verbatim by the
    * batch and streaming forms (per-doc independence makes them equal). */
  private lazy val incrementalOracleSql: String = {
        val nBands = NH / BAND
        val bandExprs = (0 until nBands).map { b =>
          val parts = (0 until BAND).map(r => s"sig_${b * BAND + r}::VARCHAR")
          s"concat_ws('_', '$b', ${parts.mkString(", ")})"
        }.mkString("[", ", ", "]")
        def ds(rel: String) =
          s"""SELECT doc_id, ${h31("shingle")} AS h
             |FROM (SELECT doc_id, unnest(${shingles(toks, K)}) AS shingle
             |  FROM $rel)""".stripMargin.replace("\n", " ")
        s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
           |batch AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
           |cd AS (SELECT md5(text) AS content_hash,
           |  min(doc_id) AS exact_match_id FROM corpus GROUP BY 1),
           |ex AS (
           |  SELECT b.doc_id, cd.exact_match_id
           |  FROM (SELECT doc_id, md5(text) AS content_hash FROM batch) b
           |  LEFT JOIN cd USING (content_hash)),
           |sigc AS (SELECT doc_id, ${minhashAggs(NH)}
           |  FROM (${ds("corpus")}) GROUP BY doc_id),
           |sigb AS (SELECT doc_id, ${minhashAggs(NH)}
           |  FROM (${ds("batch")}) GROUP BY doc_id),
           |bc AS (SELECT doc_id, unnest($bandExprs) AS band_key FROM sigc),
           |bb AS (SELECT doc_id, unnest($bandExprs) AS band_key FROM sigb),
           |cands AS (
           |  SELECT DISTINCT bb.doc_id AS doc_id, bc.doc_id AS cand_id
           |  FROM bb JOIN bc ON bb.band_key = bc.band_key),
           |shb AS (SELECT doc_id, ${shingles(toks, K)} AS sh FROM batch),
           |shc AS (SELECT doc_id AS cand_id, ${shingles(toks, K)} AS csh
           |  FROM corpus),
           |scored AS (
           |  SELECT c.doc_id, c.cand_id,
           |  round(len(list_intersect(sh, csh))::DOUBLE /
           |    (len(sh) + len(csh) - len(list_intersect(sh, csh))), 6)
           |    AS jaccard
           |  FROM cands c JOIN shb ON c.doc_id = shb.doc_id
           |  JOIN shc ON c.cand_id = shc.cand_id),
           |near AS (
           |  SELECT doc_id, cand_id AS near_match_id, jaccard AS near_jaccard
           |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY jaccard DESC, cand_id ASC) AS rn
           |    FROM scored WHERE jaccard >= $TH) WHERE rn = 1)
           |SELECT b.doc_id, ex.exact_match_id, near.near_match_id,
           |near.near_jaccard,
           |(ex.exact_match_id IS NULL AND near.near_match_id IS NULL)
           |  AS is_new
           |FROM (SELECT doc_id FROM batch) b
           |LEFT JOIN ex USING (doc_id)
           |LEFT JOIN near USING (doc_id)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }
}
