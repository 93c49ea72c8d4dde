package graft.queries

import graft.functions.Hashing
import graft.ops.TextOps

/** Shared DuckDB SQL fragments that mirror the Spark-side operators.
  * One source of truth: constants (token pattern, stopword lists, affine
  * coefficients) come from the same Scala objects the Spark plans use.
  */
object OracleFrags {

  /** Whitespace tokens of `text` (trimmed). */
  val toks = "regexp_split_to_array(trim(text), '\\s+')"

  /** Zipf-regime corpus CTE (`zdocs`): the documents table with its
    * text REGENERATED under a power-law token draw — the positive-
    * regime fixture for idf-weighted retrieval and language
    * classification, derived DETERMINISTICALLY from (doc_id, lang) so
    * the DuckDB oracle replays it bit-for-bit inside the driver's
    * correctness gate (the /tmp zipf fixtures of rounds 11-12 were
    * oracle-checked only out-of-band; this brings the regime into
    * `SparkEntry.queries`).
    *
    * Construction (integer-exact, no transcendental sampling): a token
    * rank is drawn LOG-UNIFORMLY — octave L = h1 % 16 uniform, rank =
    * 2^L + (h2 % 2^L) uniform within the octave — which makes each
    * octave of ranks equally likely, i.e. P(rank = r) ∝ 1/r: the
    * Zipf(1) law, sampled with shifts and mods only (a float pow-based
    * inverse CDF can disagree between engines at floor boundaries).
    * 70% of positions draw from the shared 2^16-rank vocabulary
    * (`w<r>`), 30% from a per-language 2^11-rank one (`<lang>w<r>`) —
    * head stopwords + a discriminative tail. All hashes are the
    * engine-portable md5Long. MATERIALIZED: the chain references zdocs
    * several times and regeneration is the expensive part. */
  val zdocsCte: String = {
    def h(tag: String) = Hashing.sqlMd5Long(
      s"concat('$tag:', CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR))")
    def rank(octaves: Int) =
      s"""((CAST(1 AS BIGINT) << CAST(${h("z1")} % $octaves AS INT)) +
         |(${h("z2")} % (CAST(1 AS BIGINT) <<
         |  CAST(${h("z1")} % $octaves AS INT))))"""
        .stripMargin.replace("\n", " ")
    s"""zdocs AS MATERIALIZED (
       |  SELECT doc_id,
       |  array_to_string(list_transform(range(0, 40 + doc_id % 41),
       |    i -> CASE WHEN ${h("z3")} % 10 < 7
       |      THEN concat('w', CAST(${rank(16)} AS VARCHAR))
       |      ELSE concat(lang, 'w', CAST(${rank(11)} AS VARCHAR)) END),
       |    ' ') AS text,
       |  lang, source
       |  FROM documents)""".stripMargin.replace("\n", " ")
  }

  /** Distinct word k-shingles of a token list expression. */
  def shingles(toksExpr: String, k: Int): String =
    s"""CASE WHEN len($toksExpr) >= $k THEN
       |list_distinct(list_transform(range(1, len($toksExpr) - ${k - 1} + 1),
       |  i -> array_to_string(($toksExpr)[i:i+${k - 1}], ' ')))
       |ELSE [] END""".stripMargin.replace("\n", " ")

  /** Occurrence count of tokens from a fixed word list. */
  def stopwordHits(toksExpr: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($toksExpr, t -> list_contains($lst, t)))"
  }

  /** L2-normalized corpus — mirrors ops.SimilarityOps.normalizedCorpus
    * (norm computed once per row, same fold order). */
  val normCorpus: String =
    """SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / nrm) AS n_emb
      |FROM (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings)""".stripMargin.replace("\n", " ")

  /** Dot product of two pre-normalized double lists, rounded to 6
    * decimals — mirrors ops.SimilarityOps.dotCosine. */
  def dotCosine(a: String, b: String, dim: Int = 64): String =
    s"round(list_sum(list_transform(range(1, ${dim + 1}), i -> ($a)[i] * ($b)[i])), 6)"

  /** Lloyd-refined IVF centroid relation (centroid_id, c_emb) — mirrors
    * ops.SimilarityOps.ivfCentroidsNorm (1 iteration): lowest-vec_id
    * seeds → assign → per-cell element-wise mean over the sampleM
    * lowest-vec_id members, summed in vec_id order (bit-identical to the
    * Spark-side sorted fold) → L2-normalize → round 6 dp. Expects a
    * `corpus(vec_id, n_emb)` CTE in scope. */
  def ivfCentroids(nCells: Int, sampleM: Int = 256, dim: Int = 64): String =
    s"""(WITH cents0 AS (
       |  SELECT vec_id AS centroid_id, n_emb AS c_emb
       |  FROM corpus ORDER BY vec_id LIMIT $nCells),
       |a0 AS (
       |  SELECT vec_id, n_emb, cell FROM (
       |    SELECT e.vec_id, e.n_emb, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dotCosine("e.n_emb", "c.c_emb", dim)} DESC,
       |        c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN cents0 c) WHERE rn = 1),
       |samp AS (
       |  SELECT vec_id, n_emb, cell FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY cell ORDER BY vec_id) AS mrn
       |    FROM a0) WHERE mrn <= $sampleM),
       |comp AS (
       |  SELECT cell, i, list_sum(list(n_emb[i] ORDER BY vec_id)) AS s,
       |    count(*) AS n
       |  FROM samp CROSS JOIN
       |    (SELECT CAST(unnest(range(1, ${dim + 1})) AS INT) AS i)
       |  GROUP BY cell, i),
       |m AS (SELECT cell, list(s / n ORDER BY i) AS mean_emb
       |  FROM comp GROUP BY cell)
       |SELECT cell AS centroid_id,
       |  list_transform(mean_emb, x -> round(x /
       |    sqrt(list_sum(list_transform(mean_emb, y -> y * y))), 6)) AS c_emb
       |FROM m)""".stripMargin.replace("\n", " ")

  /** 31-bit md5-based hash — mirrors functions.Hashing.h31. */
  def h31(expr: String): String = Hashing.sqlH31(expr)

  /** MinHash signature columns sig_0..sig_{n-1} as SELECT items over the
    * hashed inverted-index relation (column `h` = 31-bit base hash). */
  def minhashAggs(nHashes: Int): String =
    Hashing.affineCoeffs(nHashes).zipWithIndex.map { case ((a, b), i) =>
      s"min(${Hashing.sqlAffine("h", a, b)}) AS sig_$i"
    }.mkString(", ")

  /** Hashed-BOW embedding relation (vec_id, n_emb) over an arbitrary
    * (doc_id, text) relation — mirrors ops.SimilarityOps.hashEmbed:
    * token → bucket h31 % dim, sign from bit 15, signed counts
    * L2-normalized then rounded 6 dp (null vector when everything
    * cancels). Parametrized twin of SimilarityQueries' documents-only
    * fragment so snippet/query-side relations embed identically. */
  def hashEmbedOver(rel: String, dim: Int): String =
    s"""SELECT doc_id AS vec_id,
       |CASE WHEN nrm = 0 THEN NULL
       |ELSE list_transform(raw, x -> round(x / nrm, 6)) END AS n_emb
       |FROM (
       |  SELECT doc_id, raw,
       |  sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
       |  FROM (
       |    SELECT doc_id, list(val ORDER BY i) AS raw FROM (
       |      SELECT d.doc_id, dims.i, coalesce(sv.v, 0) AS val
       |      FROM (SELECT DISTINCT doc_id FROM ($rel)) d
       |      CROSS JOIN (SELECT CAST(unnest(range(0, $dim)) AS INT) AS i) dims
       |      LEFT JOIN (
       |        SELECT doc_id, CAST(h % $dim AS INT) AS bucket,
       |          SUM(CASE WHEN (h >> 15) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
       |        FROM (SELECT doc_id, ${h31("token")} AS h
       |          FROM (SELECT doc_id, unnest($toks) AS token FROM ($rel)))
       |        GROUP BY 1, 2) sv
       |      ON d.doc_id = sv.doc_id AND dims.i = sv.bucket)
       |    GROUP BY doc_id))""".stripMargin.replace("\n", " ")

  /** The (doc_id, shingle) inverted index over documents. */
  def docShingles(k: Int): String =
    s"""SELECT doc_id, unnest(${shingles(toks, k)}) AS shingle
       |FROM documents""".stripMargin.replace("\n", " ")

  /** Hash-keyed inverted index — mirrors ops.DedupOps.docShingleHashes
    * (sh_h = 60-bit md5 hash, h = 31-bit fold for minhash). */
  def docShingleHashes(k: Int): String =
    s"""SELECT doc_id, ${Hashing.sqlMd5Long("shingle")} AS sh_h,
       |${h31("shingle")} AS h FROM (${docShingles(k)})"""
      .stripMargin.replace("\n", " ")

  /** Full quality-score relation — mirrors ops.TextOps.qualityScore. */
  val qualityScoreSql: String = {
    val stop = stopwordHits("toks", TextOps.StopwordSets.head._2)
    val punct = "round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / CAST(length(text) AS DOUBLE), 6)"
    val stopRatio = s"round($stop / CAST(len(toks) AS DOUBLE), 6)"
    s"""SELECT doc_id, lang,
       |CAST(length(text) AS DOUBLE) AS n_chars_m,
       |CAST(len(toks) AS DOUBLE) AS n_tokens,
       |$punct AS punct_ratio,
       |$stopRatio AS stopword_ratio,
       |round(list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT))) / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len,
       |round(least(len(toks)::DOUBLE / 100.0, 1.0) * 0.5
       | + $stopRatio * 0.3
       | + (1.0 - $punct) * 0.2, 6) AS quality_score
       |FROM (SELECT doc_id, lang, text, $toks AS toks FROM documents)"""
      .stripMargin.replace("\n", " ")
  }

  /** N-gram-Jaccard near-dup pair relation (doc_a, doc_b) — mirrors
    * ops.DedupOps.ngramJaccardPairsFromIndex at threshold `th`. */
  def jaccardPairsSql(k: Int, th: Double): String =
    s"""SELECT doc_a, doc_b FROM (
       |WITH ds AS (${docShingleHashes(k)}),
       |sizes AS (SELECT doc_id, CAST(len(${shingles(toks, k)}) AS BIGINT) AS n_sh FROM documents),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM ds a JOIN ds b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b
       |FROM common
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= $th)"""
      .stripMargin.replace("\n", " ")

  /** Recursive-closure connected components over the near-dup pairs —
    * mirrors ops.DedupOps.dupClusters. Must be used as the whole WITH
    * preamble of a statement (WITH RECURSIVE ... clusters AS (...)). */
  def dupClustersWith(k: Int, th: Double): String =
    s"""WITH RECURSIVE pairs AS (${jaccardPairsSql(k, th)}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |clusters AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |  FROM reach GROUP BY a)""".stripMargin.replace("\n", " ")

  /** Packed simhash signature relation (doc_id, simhash) — mirrors
    * ops.DedupOps.simhash: per-token 31-bit hashes vote per bit, bit j of
    * the packed long is the sign of vote sum j. */
  def simhashSql(nBits: Int): String = {
    val h = h31("token")
    val votes = (0 until nBits).map(j =>
      s"CAST(SUM(CASE WHEN (($h >> $j) % 2) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v_$j")
      .mkString(", ")
    val pack = (0 until nBits).map(j =>
      s"CASE WHEN v_$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
       |v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM v"""
      .stripMargin.replace("\n", " ")
  }

  /** Language scores + CASE-chain argmax — mirrors ops.TextOps.langId. */
  def langScores: String =
    TextOps.StopwordSets.map { case (l, ws) =>
      s"${stopwordHits("toks", ws)} AS score_$l"
    }.mkString(", ")

  def langCase: String = {
    val langs = TextOps.StopwordSets.map(_._1)
    val whens = langs.dropRight(1).map { l =>
      val cond = langs.filter(_ != l)
        .map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE '${langs.last}' END"
  }
}
