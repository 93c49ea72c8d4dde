package graft.queries

import graft.{Q, Tables}
import graft.ops.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import OracleFrags.{dotCosine, normCorpus}

/** Similarity-search queries over the `embeddings` fixture (64-dim float
  * vectors). Max pairwise cosine in the corpus is ≈0.51, so the near-dup
  * threshold is 0.4 to exercise non-empty results.
  */
object SimilarityQueries {

  private val QueryIds: Seq[Long] = 0L to 9L
  private val K = 10

  private val idList = QueryIds.mkString("(", ", ", ")")

  /** nprobe arms of the tuning curve (ascending). */
  private val NprobeArms = Seq(1, 2, 4, 8)

  /** Oracle for ann_nprobe_curve: shared corpus/centroid/assignment/
    * probe CTEs (probe ranks kept up to max arm), one sub-select pair
    * per arm filtering on probe rank — mirrors the Spark arms. */
  private lazy val nprobeCurveSql: String = {
    val maxP = NprobeArms.max
    val nqK = QueryIds.size * K
    val arms = NprobeArms.map { p =>
      s"""SELECT $p AS nprobe,
         |(SELECT CAST(count(*) AS BIGINT) FROM ncand WHERE pr <= $p)
         |  AS n_candidates,
         |(SELECT CAST(count(*) AS BIGINT) FROM nbranked b JOIN (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER
         |      (PARTITION BY query_id
         |       ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
         |    FROM ncand WHERE pr <= $p)
         |  WHERE rnk <= $K) i
         | ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
         |  AS n_matched""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS ($normCorpus),
       |cents AS (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
       |assigned AS (
       |  SELECT vec_id, n_emb, cell FROM (
       |    SELECT e.vec_id, e.n_emb, c.centroid_id AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |probedm AS (
       |  SELECT query_id, q_emb, cell, pr FROM (
       |    SELECT q.query_id, q.q_emb, c.centroid_id AS cell,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY
       |      ${dotCosine("q.q_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS pr
       |    FROM q CROSS JOIN cents c)
       |  WHERE pr <= $maxP),
       |ncand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |  ${dotCosine("p.q_emb", "a.n_emb")} AS cosine_sim, p.pr
       |  FROM probedm p JOIN assigned a ON p.cell = a.cell
       |  WHERE a.vec_id <> p.query_id),
       |nbscored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |  ${dotCosine("q_emb", "e.n_emb")} AS cosine_sim
       |  FROM corpus e JOIN q ON e.vec_id <> q.query_id),
       |nbranked AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
       |  FROM nbscored) WHERE rnk <= $K)
       |SELECT nprobe, n_candidates, n_matched,
       |round(CAST(n_matched AS DOUBLE) / $nqK, 6) AS mean_recall
       |FROM ($arms) ORDER BY nprobe""".stripMargin.replace("\n", " ")
  }

  /** Brute-force top-k oracle text (no trailing ORDER BY — reused as a
    * derived table by the recall query; each Q adds its own order). */
  private val bruteSql: String =
    s"""WITH corpus AS ($normCorpus),
       |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |  ${dotCosine("q_emb", "e.n_emb")} AS cosine_sim
       |  FROM corpus e JOIN q ON e.vec_id <> q.query_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM ranked WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  /** IVF (16 cells, 4 probes) top-k oracle text, same shape. */
  private val ivfSql: String =
    s"""WITH corpus AS ($normCorpus),
       |cents AS (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
       |assigned AS (
       |  SELECT vec_id, n_emb, cell FROM (
       |    SELECT e.vec_id, e.n_emb, c.centroid_id AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |probed AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT q.query_id, q.q_emb, c.centroid_id AS cell,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY
       |      ${dotCosine("q.q_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS pr
       |    FROM q CROSS JOIN cents c)
       |  WHERE pr <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |  ${dotCosine("p.q_emb", "a.n_emb")} AS cosine_sim
       |  FROM probed p JOIN assigned a ON p.cell = a.cell
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM ranked WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  /** Two-level IVF (4 super-cells × 4 children, probe 2 supers → 4
    * child cells) top-k oracle text — mirrors
    * SimilarityOps.ivf2TopKNormWith: super level = the Lloyd-refined
    * centroid frag, children = the 4 lowest-vec_id members per
    * super-cell, every argmax tie-broken (cosine DESC, id ASC). */
  private val ivf2Sql: String =
    s"""WITH corpus AS ($normCorpus),
       |super AS (SELECT * FROM ${OracleFrags.ivfCentroids(4)}),
       |sassign AS (
       |  SELECT vec_id, n_emb, scell FROM (
       |    SELECT e.vec_id, e.n_emb, c.centroid_id AS scell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN super c)
       |  WHERE rn = 1),
       |children AS (
       |  SELECT scell, vec_id AS sub_id, n_emb AS s_emb FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY scell ORDER BY vec_id) AS crn
       |    FROM sassign)
       |  WHERE crn <= 4),
       |cassign AS (
       |  SELECT vec_id, n_emb, sub_id AS cell FROM (
       |    SELECT a.vec_id, a.n_emb, ch.sub_id,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${dotCosine("a.n_emb", "ch.s_emb")} DESC, ch.sub_id ASC) AS rn
       |    FROM sassign a JOIN children ch ON a.scell = ch.scell)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |qsuper AS (
       |  SELECT query_id, q_emb, scell FROM (
       |    SELECT q.query_id, q.q_emb, c.centroid_id AS scell,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY
       |      ${dotCosine("q.q_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS pr
       |    FROM q CROSS JOIN super c)
       |  WHERE pr <= 2),
       |qcell AS (
       |  SELECT query_id, q_emb, sub_id AS cell FROM (
       |    SELECT s.query_id, s.q_emb, ch.sub_id,
       |    row_number() OVER (PARTITION BY s.query_id ORDER BY
       |      ${dotCosine("s.q_emb", "ch.s_emb")} DESC, ch.sub_id ASC) AS cr
       |    FROM qsuper s JOIN children ch ON s.scell = ch.scell)
       |  WHERE cr <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |  ${dotCosine("p.q_emb", "a.n_emb")} AS cosine_sim
       |  FROM qcell p JOIN cassign a ON p.cell = a.cell
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM ranked WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  /** Hyperplane-LSH (16 planes, 4×4 bands) top-k oracle text, same
    * shape as [[bruteSql]]/[[ivfSql]]. */
  private val lshSql: String =
    s"""WITH corpus AS ($normCorpus),
       |planes AS (
       |  SELECT vec_id, n_emb AS p_emb,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS p_idx
       |  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT 16)),
       |sigs AS (
       |  SELECT e.vec_id,
       |    CAST(SUM(CASE WHEN ${dotCosine("e.n_emb", "p.p_emb")} >= 0
       |      THEN (CAST(1 AS BIGINT) << p.p_idx) ELSE 0 END) AS BIGINT) AS sig
       |  FROM corpus e CROSS JOIN planes p GROUP BY e.vec_id),
       |bands AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS b),
       |banded AS (
       |  SELECT vec_id, b, (sig >> (b * 4)) & 15 AS bv
       |  FROM sigs CROSS JOIN bands),
       |qb AS (SELECT * FROM banded WHERE vec_id IN $idList),
       |cands AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qb q JOIN banded c ON q.b = c.b AND q.bv = c.bv
       |  WHERE c.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${dotCosine("cq.n_emb", "cn.n_emb")} AS cosine_sim
       |  FROM cands
       |  JOIN corpus cq ON query_id = cq.vec_id
       |  JOIN corpus cn ON neighbor_id = cn.vec_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM ranked WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  // ── graph ANN (Vamana/NSW family) constants ───────────────────────
  /** Graph degree bound (edges kept per node). */
  private final val GM = 8
  /** Build-time cells probed per node — >1 is what connects the graph
    * ACROSS quantizer cells. */
  private final val GProbe = 2
  /** Search beam width and fixed superstep count. */
  private final val GBeam = 32
  private final val GSteps = 4

  /** The staged edge table (src, dst, sim) — built once per session
    * over the shared corpus/centroids (GraphAnnOps.knnGraph). */
  private def annGraph(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame =
    Staged.retrieval(s, dir, "ann_graph") {
      graft.ops.GraphAnnOps.knnGraph(Staged.normCorpus(s, dir),
        Staged.ivfCentroids(s, dir, 16), GM, GProbe)
    }

  /** The standing graph over the historical slice (vec_id ≢ 0 mod 5)
    * that `ann_graph_append` extends. */
  private def annGraphBase(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    Staged.retrieval(s, dir, "ann_graph_base") {
      graft.ops.GraphAnnOps.knnGraph(
        Staged.normCorpus(s, dir).filter(col("vec_id") % 5 =!= 0),
        Staged.ivfCentroids(s, dir, 16), GM, GProbe)
    }

  /** Graph-build CTE chain (`corpus, cents, granked, gmembers,
    * gedges`) — mirrors GraphAnnOps.knnGraph: per node the top-[[GM]]
    * cosine neighbors among its [[GProbe]] nearest cells' members,
    * ties (cosine DESC, id ASC) everywhere. */
  private lazy val graphWith: String =
    s"""corpus AS MATERIALIZED ($normCorpus),
       |cents AS MATERIALIZED (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
       |granked AS MATERIALIZED (
       |  SELECT vec_id, n_emb, cell, rn FROM (
       |    SELECT e.vec_id, e.n_emb, c.centroid_id AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN cents c)
       |  WHERE rn <= $GProbe),
       |gmembers AS (SELECT vec_id AS nbr_id, n_emb AS nbr_emb, cell
       |  FROM granked WHERE rn = 1),
       |gedges AS MATERIALIZED (
       |  SELECT src, dst, sim FROM (
       |    SELECT p.vec_id AS src, m.nbr_id AS dst,
       |    ${dotCosine("p.n_emb", "m.nbr_emb")} AS sim,
       |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |      ${dotCosine("p.n_emb", "m.nbr_emb")} DESC, m.nbr_id ASC) AS ern
       |    FROM granked p JOIN gmembers m
       |    ON p.cell = m.cell AND p.vec_id <> m.nbr_id)
       |  WHERE ern <= $GM)""".stripMargin.replace("\n", " ")

  /** Graph beam-search top-k oracle — mirrors
    * GraphAnnOps.beamSearchTopK with the [[GSteps]] supersteps UNROLLED
    * as plain CTEs (the fixed-step beam rule is monotone, so no
    * visited-set state is needed and no recursion either): each step
    * keeps the [[GBeam]] best of beam ∪ out-neighbors, entry = min
    * vec_id, answer = top-[[K]] of the final beam, self excluded. */
  /** The unrolled beam CTE chain `gf0..gf{GSteps}` (each step
    * MATERIALIZED — a step references its predecessor twice, and
    * DuckDB re-inlines non-materialized CTEs per reference). Needs
    * `corpus`, `gedges`, `q` in scope. */
  private lazy val gfStepsSql: String = {
    val steps = (1 to GSteps).map { t =>
      val prev = s"gf${t - 1}"
      s"""gf$t AS MATERIALIZED (
         |  SELECT query_id, node FROM (
         |    SELECT cand.query_id, cand.node,
         |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
         |      ${dotCosine("q.q_emb", "ce.n_emb")} DESC, cand.node ASC)
         |      AS rn
         |    FROM (SELECT DISTINCT query_id, node FROM (
         |          SELECT query_id, node FROM $prev
         |          UNION ALL
         |          SELECT f.query_id, e.dst AS node
         |          FROM $prev f JOIN gedges e ON f.node = e.src)) cand
         |    JOIN corpus ce ON cand.node = ce.vec_id
         |    JOIN q ON cand.query_id = q.query_id)
         |  WHERE rn <= $GBeam)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    s"""q AS MATERIALIZED (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |gf0 AS (SELECT query_id,
       |  (SELECT min(vec_id) FROM corpus) AS node FROM q),
       |$steps""".stripMargin.replace("\n", " ")
  }

  /** Top-[[K]] (self excluded) read off the step-`t` beam. */
  private def gfTopkSql(t: Int): String =
    s"""SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC)
       |  AS rnk
       |  FROM (
       |    SELECT f.query_id, f.node AS neighbor_id,
       |    ${dotCosine("q.q_emb", "ce.n_emb")} AS cosine_sim
       |    FROM gf$t f
       |    JOIN corpus ce ON f.node = ce.vec_id
       |    JOIN q ON f.query_id = q.query_id
       |    WHERE f.node <> f.query_id))
       |WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  private lazy val graphTopkSql: String =
    s"WITH $graphWith, $gfStepsSql ${gfTopkSql(GSteps)}"

  /** Curve-specific fragment variants: DuckDB 1.0 hits an INTERNAL
    * error ("Recursive CTE scan found without recursive CTE node")
    * when the steps curve's labeled union references the chained
    * MATERIALIZED beam CTEs — measured bisect: the query works with
    * ONLY `gedges` materialized, which is also the only hint that
    * matters at scale (gedges holds the Σ|cell|² build; everything
    * else is a cheap scan re-inlined a bounded number of times). */
  private lazy val graphWithCurve: String = graphWith
    .replace("corpus AS MATERIALIZED (", "corpus AS (")
    .replace("cents AS MATERIALIZED (", "cents AS (")
    .replace("granked AS MATERIALIZED (", "granked AS (")
  private lazy val gfStepsSqlPlain: String =
    gfStepsSql.replace(" AS MATERIALIZED (", " AS (")

  /** Hashed-BOW embedding relation (vec_id, n_emb) over documents —
    * mirrors SimilarityOps.hashEmbed(dim=16): token → bucket
    * h31 % 16, sign from bit 15, signed counts L2-normalized then
    * rounded 6 dp (null vector when everything cancels). */
  private val EmbDim = 16
  private val hashEmbedSql: String =
    s"""SELECT doc_id AS vec_id,
       |CASE WHEN nrm = 0 THEN NULL
       |ELSE list_transform(raw, x -> round(x / nrm, 6)) END AS n_emb
       |FROM (
       |  SELECT doc_id, raw,
       |  sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
       |  FROM (
       |    SELECT doc_id, list(val ORDER BY i) AS raw FROM (
       |      SELECT d.doc_id, dims.i, coalesce(sv.v, 0) AS val
       |      FROM (SELECT DISTINCT doc_id FROM documents) d
       |      CROSS JOIN (SELECT CAST(unnest(range(0, $EmbDim)) AS INT) AS i) dims
       |      LEFT JOIN (
       |        SELECT doc_id, CAST(h % $EmbDim AS INT) AS bucket,
       |          SUM(CASE WHEN (h >> 15) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
       |        FROM (SELECT doc_id, ${OracleFrags.h31("token")} AS h
       |          FROM (SELECT doc_id, unnest(${OracleFrags.toks}) AS token FROM documents))
       |        GROUP BY 1, 2) sv
       |      ON d.doc_id = sv.doc_id AND dims.i = sv.bucket)
       |    GROUP BY doc_id))""".stripMargin.replace("\n", " ")

  // Product-quantization parameters: 64 dims → 8 subspaces of 8 dims,
  // 16 codewords each (codes fit half a byte; 8 codes ≈ 4 bytes/vector
  // vs 512 for the float64 row — the compression that turns a 100 TB
  // corpus into a ~1 TB scannable code table).
  private val PqM = 8
  private val PqDsub = 8
  private val PqKsub = 16

  /** Shared PQ prelude: codebook (subvectors of the 16 lowest-vec_id
    * corpus rows, the ivfCentroids seeding convention) + argmin-L2
    * encoding, ties to the lower code, distances rounded 6 dp —
    * mirrors SimilarityOps.pqCodebook/pqEncode. Ends at `enc`. */
  private lazy val pqWith: String =
    s"""WITH corpus AS ($normCorpus),
       |seeds AS (
       |  SELECT n_emb, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
       |  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT $PqKsub)),
       |cb AS (
       |  SELECT j, code, n_emb[j*$PqDsub+1 : j*$PqDsub+$PqDsub] AS cw
       |  FROM seeds CROSS JOIN
       |    (SELECT CAST(unnest(range(0, $PqM)) AS INT) AS j)),
       |enc AS (
       |  SELECT vec_id, j, code, dist FROM (
       |    SELECT vec_id, j, code, dist, row_number() OVER
       |      (PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
       |    FROM (
       |      SELECT e.vec_id, c.j, c.code,
       |        round(list_sum(list_transform(range(1, ${PqDsub + 1}),
       |          i -> (e.n_emb[c.j*$PqDsub + i] - c.cw[i])
       |             * (e.n_emb[c.j*$PqDsub + i] - c.cw[i]))), 6) AS dist
       |      FROM corpus e CROSS JOIN cb c))
       |  WHERE rn = 1)""".stripMargin.replace("\n", " ")

  /** ADC top-`kk` oracle text (no trailing ORDER BY — reused by the
    * recall query and, at shortlist size, by the rerank query):
    * per-query LUT of subspace dots vs the codebook, score =
    * ascending-j ordered sum of the m looked-up partial dots — mirrors
    * SimilarityOps.pqAdcTopKCodes. */
  private def pqTopSql(kk: Int): String =
    s"""$pqWith,
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.j, c.code,
       |    round(list_sum(list_transform(range(1, ${PqDsub + 1}),
       |      i -> q.n_emb[c.j*$PqDsub + i] * c.cw[i])), 6) AS pdot
       |  FROM (SELECT * FROM corpus WHERE vec_id IN $idList) q
       |  CROSS JOIN cb c),
       |scored AS (
       |  SELECT l.query_id, e.vec_id AS neighbor_id,
       |    round(list_sum(list(l.pdot ORDER BY l.j)), 6) AS adc_score
       |  FROM enc e JOIN lut l
       |  ON e.j = l.j AND e.code = l.code AND e.vec_id <> l.query_id
       |  GROUP BY l.query_id, e.vec_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc_score, CAST(rnk AS INT) AS rank
       |FROM ranked WHERE rnk <= $kk""".stripMargin.replace("\n", " ")

  private lazy val pqSql: String = pqTopSql(K)

  /** ADC shortlist size for the two-stage rerank query. */
  private val PqShortlist = 50

  /** IVF-PQ top-k oracle text: the ivfSql probe/assignment fragments
    * composed with the pqWith encoding — candidates from probed cells,
    * scores from ADC over the candidates' codes. */
  private lazy val ivfPqSql: String =
    s"""$pqWith,
       |cents AS (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.centroid_id AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.centroid_id AS cell,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY
       |      ${dotCosine("q.q_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS pr
       |    FROM q CROSS JOIN cents c)
       |  WHERE pr <= 4),
       |lut AS (
       |  SELECT q.query_id, c.j, c.code,
       |    round(list_sum(list_transform(range(1, ${PqDsub + 1}),
       |      i -> q.q_emb[c.j*$PqDsub + i] * c.cw[i])), 6) AS pdot
       |  FROM q CROSS JOIN cb c),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probed p JOIN assigned a ON p.cell = a.cell
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |    round(list_sum(list(l.pdot ORDER BY l.j)), 6) AS adc_score
       |  FROM cand cd JOIN enc e ON cd.vec_id = e.vec_id
       |  JOIN lut l ON l.query_id = cd.query_id
       |    AND e.j = l.j AND e.code = l.code
       |  GROUP BY cd.query_id, cd.vec_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc_score, CAST(rnk AS INT) AS rank
       |FROM ranked WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  /** Corpus-following two-level shape: k1·k2 ≈ autoCellCount(n) with
    * k1 ≈ √k. At every oracle scale (500 / 2000 vectors) autoCellCount
    * clamps to its 16-cell floor ⇒ (4, 4), exactly the pinned oracle
    * blocking — so the DuckDB mirror stays verbatim while bigger
    * corpora get scale-true cells (a FIXED 4×4 measured 17× on the
    * 2k→20k decade before this: the same fixed-cell quadratic the flat
    * headline solved with autoCellCount in round 4). */
  private def ivf2Params(n: Long): (Int, Int) = {
    val k = SimilarityOps.autoCellCount(n)
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    (k1, math.max(2, math.ceil(k.toDouble / k1).toInt))
  }

  /** The staged two-level serving index at this corpus's
    * [[ivf2Params]]: (super-centroids, children, id-only assignment). */
  private def ivf2Serving(s: org.apache.spark.sql.SparkSession,
                          dir: String): (DataFrame, DataFrame, DataFrame) = {
    val (k1, k2) = ivf2Params(Staged.corpusCount(s, dir))
    val (children, assigned) = Staged.ivf2Index(s, dir, k1, k2)
    (Staged.ivfCentroids(s, dir, k1), children, assigned)
  }

  /** The two-level probe both ann_topk_ivf2 and ann_recall_ivf2 grade:
    * probe 2 supers → 4 child cells per query over the staged index. */
  private def ivf2TopK(s: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    val (superCents, children, assigned) = ivf2Serving(s, dir)
    SimilarityOps.ivf2TopKNormWith(Staged.normCorpus(s, dir), superCents,
      children, assigned, QueryIds, K, 2, 4)
  }

  /** Hot-cell trigger: a cell holding > HotFactor × the mean cell load
    * after an append is due for an in-place split. Mean-relative so the
    * trigger is scale-free. */
  private val HotFactor = 1.5

  /** (k1, k2) for the maintenance index — trained on the HISTORICAL
    * 4/5 slice (vec_id % 5 != 0; fixture ids are contiguous from 0, so
    * the slice is exactly 4/5 of the corpus). Clamps to (4, 4) at every
    * oracle scale, so the DuckDB mirror pins the same cells. */
  private def annIdxParams(s: org.apache.spark.sql.SparkSession,
                           dir: String): (Int, Int) =
    ivf2Params(Staged.corpusCount(s, dir) * 4 / 5)

  /** Session-staged exact ground truth for the recall evals —
    * bruteForceTopKNorm over the staged corpus at the family's shared
    * (QueryIds, K), |QueryIds|·K rows. Every `ann_recall_*` /
    * `*_curve` eval compares an index against this one table; staging
    * it is the production eval split (ground truth computed once,
    * consulted per index arm) and stops the nprobe/steps curves from
    * recomputing the same exact scan once per arm inside one plan
    * (4 copies at sf0.1 — guide §2.3, don't compute what you throw
    * away). `ann_topk_brute` — the query whose OUTPUT is this ranking —
    * still computes it inline; only consumers read the staged table. */
  private def bruteTopK(s: org.apache.spark.sql.SparkSession,
                        dir: String) =
    Staged.retrieval(s, dir, "ann_brute_topk") {
      SimilarityOps.bruteForceTopKNorm(Staged.normCorpus(s, dir),
        QueryIds, K)
    }

  /** Recall@[[K]] of an approximate (query_id, neighbor_id, ...) top-K
    * against the staged exact [[bruteTopK]] — the eval every
    * `ann_recall_*` query runs: per query, how many exact neighbors the
    * index found (`n_matched`) and their share of K (`recall_at_k`). One
    * equality join on (query_id, neighbor_id) plus a per-query count:
    * ~|queries|·K rows at any corpus size. */
  private def recallAtK(s: org.apache.spark.sql.SparkSession, dir: String,
                        approx: DataFrame): DataFrame =
    bruteTopK(s, dir).select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_matched"))
      .select(col("query_id"), col("n_matched"),
        round(col("n_matched") / lit(K.toDouble), 6).as("recall_at_k"))
      .orderBy("query_id")

  /** Oracle of [[recallAtK]] over the approximate side's top-K SQL. */
  private def recallSql(approxSql: String): String =
    s"""SELECT b.query_id, CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
       |round(count(i.neighbor_id) / ${K.toDouble}, 6) AS recall_at_k
       |FROM ($bruteSql) b LEFT JOIN ($approxSql) i
       |ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |GROUP BY b.query_id ORDER BY b.query_id"""
      .stripMargin.replace("\n", " ")

  /** Beam search over the staged graph — what ann_topk_graph and
    * ann_recall_graph grade. */
  private def graphTopK(s: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame =
    graft.ops.GraphAnnOps.beamSearchTopK(Staged.normCorpus(s, dir),
      annGraph(s, dir), Staged.corpusMinId(s, dir), QueryIds, GBeam,
      GSteps, K)

  /** PCA-space candidates reranked by exact cosine — what ann_topk_pca
    * and ann_recall_pca grade. */
  private def pcaTopK(s: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    val cands = SimilarityOps.pcaCandidates(
      SimilarityOps.pcaProject(Tables.embeddings(s, dir),
        Staged.pcaModel(s, dir, PcaK, PcaIters)),
      QueryIds, PcaCandK, PcaK)
    SimilarityOps.rerankExactTopKNorm(Staged.normCorpus(s, dir), cands,
      QueryIds, K)
  }

  /** Force this family's staged artifacts (Staged.prewarm hook):
    * normalized corpus + count + min id, flat centroids, the two-level
    * serving index, the cell-partitioned layout, the PQ codebook/codes,
    * and the frozen maintenance index with its post-append state. Parameter
    * derivation is the registered queries' own (ivf2Params /
    * annIdxParams), so a knob change can't silently leave an artifact
    * cold. */
  private[queries] def prewarm(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    bruteTopK(s, dir).count()
    Staged.ivfCentroids(s, dir, 16).count()
    // forces normCorpus, corpusCount and the two-level super-centroids
    val (_, ivf2Children, ivf2Assigned) = ivf2Serving(s, dir)
    Staged.corpusMinId(s, dir)
    ivf2Children.count(); ivf2Assigned.count()
    Staged.ivfLayout(s, dir, 16)
    val (cb, codes) = Staged.pqIndex(s, dir, PqM, PqKsub)
    cb.count(); codes.count()
    val (ak1, ak2) = annIdxParams(s, dir)
    val (sc, ch, ex) = Staged.annIndex(s, dir, ak1, ak2)
    sc.count(); ch.count(); ex.count()
    val (ar, mem, hot) = Staged.annAppendState(s, dir, ak1, ak2, HotFactor)
    ar.count(); mem.count(); hot.count()
    Staged.pcaModel(s, dir, PcaK, PcaIters)
    jlCands(s, dir).count()
    annGraph(s, dir).count()
    annGraphBase(s, dir).count()
    ()
  }

  /** Shared WITH prelude for the incremental-maintenance oracles:
    * historical corpus (4/5 slice) → super centroids → children →
    * historical assignment (`cassign`) + arriving-batch assignment
    * (`bassign`) against the FROZEN quantizer — mirrors
    * Staged.annIndex + SimilarityOps.ivf2AssignBatchNorm. */
  private lazy val annIdxWith: String =
    s"""WITH corpus AS (SELECT * FROM ($normCorpus) WHERE vec_id % 5 <> 0),
       |batch AS (SELECT * FROM ($normCorpus) WHERE vec_id % 5 = 0),
       |super AS (SELECT * FROM ${OracleFrags.ivfCentroids(4)}),
       |sassign AS (
       |  SELECT vec_id, n_emb, scell FROM (
       |    SELECT e.vec_id, e.n_emb, c.centroid_id AS scell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN super c)
       |  WHERE rn = 1),
       |children AS (
       |  SELECT scell, vec_id AS sub_id, n_emb AS s_emb FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY scell ORDER BY vec_id) AS crn
       |    FROM sassign)
       |  WHERE crn <= 4),
       |cassign AS (
       |  SELECT vec_id, scell, sub_id AS cell FROM (
       |    SELECT a.vec_id, a.scell, ch.sub_id,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${dotCosine("a.n_emb", "ch.s_emb")} DESC, ch.sub_id ASC) AS rn
       |    FROM sassign a JOIN children ch ON a.scell = ch.scell)
       |  WHERE rn = 1),
       |bsuper AS (
       |  SELECT vec_id, n_emb, scell FROM (
       |    SELECT b.vec_id, b.n_emb, c.centroid_id AS scell,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |      ${dotCosine("b.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM batch b CROSS JOIN super c)
       |  WHERE rn = 1),
       |bassign AS (
       |  SELECT vec_id, scell, sub_id AS cell FROM (
       |    SELECT b.vec_id, b.scell, ch.sub_id,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |      ${dotCosine("b.n_emb", "ch.s_emb")} DESC, ch.sub_id ASC) AS rn
       |    FROM bsuper b JOIN children ch ON b.scell = ch.scell)
       |  WHERE rn = 1)""".stripMargin.replace("\n", " ")

  /** Post-append occupancy + hot flag, as oracle CTEs (`stats`, `th`). */
  private lazy val annIdxStatsWith: String =
    s"""$annIdxWith,
       |stats AS (
       |  SELECT scell, cell,
       |    CAST(count(*) FILTER (WHERE NOT is_new) AS BIGINT) AS n_existing,
       |    CAST(count(*) FILTER (WHERE is_new) AS BIGINT) AS n_arriving,
       |    CAST(count(*) AS BIGINT) AS n_total
       |  FROM (SELECT scell, cell, FALSE AS is_new FROM cassign
       |        UNION ALL SELECT scell, cell, TRUE AS is_new FROM bassign)
       |  GROUP BY scell, cell),
       |th AS (SELECT avg(n_total) * $HotFactor AS hot_threshold FROM stats)"""
      .stripMargin.replace("\n", " ")

  val all: Seq[Q] = Seq(

    // Feature-hashing embedder: text → fixed-dim vector INSIDE the
    // engine (hashing-trick BOW with the sign trick), the deterministic
    // stand-in for a model-served embedding column — every ANN/dedup
    // operator here consumes its output directly. REGISTERED output is
    // the component-wise long form (vec_id, dim_i, component): the
    // driver's compare harness sorts frames in pandas, which cannot
    // sort an array column (round 6's one red row) — and a null vector
    // (all tokens cancelled, or no tokens) surfaces as EmbDim null
    // component rows, scalar and sortable on both engines. The
    // array-valued relation itself stays the operator contract
    // (doc_ann_topk consumes it directly).
    Q("doc_embed_hash",
      (s, dir) => SimilarityOps.hashEmbed(Tables.documents(s, dir), EmbDim)
        .select(col("vec_id"), col("n_emb"),
          explode(sequence(lit(0), lit(EmbDim - 1))).as("dim_i"))
        .select(col("vec_id"), col("dim_i").cast("int").as("dim_i"),
          element_at(col("n_emb"), col("dim_i") + 1).as("component"))
        .orderBy("vec_id", "dim_i"),
      s"""SELECT vec_id, CAST(dims.i AS INT) AS dim_i,
         |n_emb[dims.i + 1] AS component
         |FROM ($hashEmbedSql)
         |CROSS JOIN (SELECT CAST(unnest(range(0, $EmbDim)) AS INT) AS i) dims
         |ORDER BY vec_id, dim_i""".stripMargin.replace("\n", " ")),

    // End-to-end text ANN: brute cosine top-5 over the hash-embedded
    // documents (query docs 0-4) — the full text → vector → ANN loop as
    // one engine query. Null (fully-cancelled) vectors are filtered on
    // both sides so cross-engine null ordering never enters the rank.
    Q("doc_ann_topk",
      (s, dir) => SimilarityOps.bruteForceTopKNorm(
          SimilarityOps.hashEmbed(Tables.documents(s, dir), EmbDim)
            .filter(col("n_emb").isNotNull),
          0L to 4L, 5)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"""WITH corpus AS (
         |  SELECT * FROM ($hashEmbedSql) WHERE n_emb IS NOT NULL),
         |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
         |  FROM corpus WHERE vec_id IN (0, 1, 2, 3, 4)),
         |scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |  ${dotCosine("q_emb", "e.n_emb", EmbDim)} AS cosine_sim
         |  FROM corpus e JOIN q ON e.vec_id <> q.query_id),
         |ranked AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
         |FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),

    // Brute-force cosine top-k: broadcast query set, one corpus pass.
    Q("ann_topk_brute",
      (s, dir) => SimilarityOps.bruteForceTopKNorm(Staged.normCorpus(s, dir), QueryIds, K)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($bruteSql) ORDER BY query_id, rank"),

    // IVF top-k: 16 seed centroids, probe the 4 nearest cells per query.
    Q("ann_topk_ivf",
      (s, dir) => SimilarityOps.ivfTopKNormWith(Staged.normCorpus(s, dir),
          Staged.ivfCentroids(s, dir, 16), QueryIds, K, 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($ivfSql) ORDER BY query_id, rank"),

    // Two-level IVF top-k: 4 super-cells × 4 children (16 effective
    // cells, matching ann_topk_ivf's resolution), probe 2 supers → 4
    // child cells per query. The hierarchical form removes the flat
    // index's one scale cliff: only the 4 SUPER centroids are a driver
    // plan constant; the child table is distributed data reached by an
    // equality join — at 10^10+ vectors the flat index's driver-held
    // matrix (k* = 2√n centroids) no longer fits, the two-level one is
    // O(√k·dim). The query only probes: children and the id-only corpus
    // assignment are the session-staged index (Staged.ivf2Index).
    Q("ann_topk_ivf2",
      (s, dir) => ivf2TopK(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($ivf2Sql) ORDER BY query_id, rank"),

    // IVF as a STORAGE LAYOUT — the ANN twin of the reference's
    // CREATE INDEX → layout mapping (S10): the assigned corpus is
    // materialized partitioned BY CELL (Staged.ivfLayout, the nightly
    // index build), and the probe's `cell IN (...)` becomes a PARTITION
    // filter — the scan reads ≤ |queries|·nprobe of the 16 cell
    // directories, pruning at the byte level where the in-memory IVF
    // query prunes only compute. Probe rule and tie-breaks are
    // identical to ann_topk_ivf, so the same oracle pins both paths —
    // LayoutPruneSpec asserts the partition pruning in the live plan.
    Q("ann_topk_pruned",
      (s, dir) => SimilarityOps.ivfTopKPruned(s,
          Staged.ivfLayout(s, dir, 16), Staged.ivfCentroids(s, dir, 16),
          Staged.normCorpus(s, dir), QueryIds, K, 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($ivfSql) ORDER BY query_id, rank"),

    // Two-level maintenance view: population per (super-cell, child
    // cell) — the balance histogram that triggers re-seeding at scale,
    // now with the hierarchy visible (a skewed SUPER cell re-trains the
    // super level; a skewed child within a balanced super re-seeds only
    // that region's children). Same single-agg cost as ivf_cell_stats.
    Q("ivf2_cell_stats",
      (s, dir) => {
        val (_, children, assigned) = ivf2Serving(s, dir)
        assigned
          .join(children.select(col("sub_id").as("cell"), col("scell")),
            Seq("cell"))
          .groupBy(col("scell"), col("cell"))
          .agg(count(lit(1)).as("n_vectors"),
            min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
          .orderBy("scell", "cell")
      },
      s"""WITH corpus AS ($normCorpus),
         |super AS (SELECT * FROM ${OracleFrags.ivfCentroids(4)}),
         |sassign AS (
         |  SELECT vec_id, n_emb, scell FROM (
         |    SELECT e.vec_id, e.n_emb, c.centroid_id AS scell,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
         |    FROM corpus e CROSS JOIN super c)
         |  WHERE rn = 1),
         |children AS (
         |  SELECT scell, vec_id AS sub_id, n_emb AS s_emb FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY scell ORDER BY vec_id) AS crn
         |    FROM sassign)
         |  WHERE crn <= 4),
         |cassign AS (
         |  SELECT vec_id, scell, sub_id AS cell FROM (
         |    SELECT a.vec_id, a.scell, ch.sub_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      ${dotCosine("a.n_emb", "ch.s_emb")} DESC, ch.sub_id ASC) AS rn
         |    FROM sassign a JOIN children ch ON a.scell = ch.scell)
         |  WHERE rn = 1)
         |SELECT scell, cell, CAST(count(*) AS BIGINT) AS n_vectors,
         |min(vec_id) AS min_vec, max(vec_id) AS max_vec
         |FROM cassign GROUP BY scell, cell
         |ORDER BY scell, cell""".stripMargin.replace("\n", " ")),

    // Incremental index maintenance, move 1 — APPEND: assign the
    // arriving batch (vec_id % 5 == 0, the fixture's daily-ingest
    // slice, same split as dedup_incremental) against the quantizer
    // trained on the HISTORICAL corpus only. No retraining, no corpus
    // pass: per-batch cost is O(|batch|·(k1+k2)) + a broadcast join on
    // the (k1·k2)-row child table — scales with the batch, never the
    // corpus (AnnAppendDecade measures exactly that).
    Q("ann_index_append",
      (s, dir) => {
        val (k1, k2) = annIdxParams(s, dir)
        val (arriving, _, _) =
          Staged.annAppendState(s, dir, k1, k2, HotFactor)
        arriving.orderBy("vec_id")
      },
      s"$annIdxWith SELECT vec_id, scell, cell FROM bassign ORDER BY vec_id"),

    // Streaming twin of the append: the arriving slice consumed as a
    // stream, assigned per micro-batch against the frozen quantizer
    // inside foreachBatch. Assignment is per-vector pure, so any
    // micro-batch slicing yields the identical result and the batch
    // oracle applies verbatim — the continuous daily-ingest shape.
    Q("streaming_ann_append",
      (s, dir) => {
        val (k1, k2) = annIdxParams(s, dir)
        val (superCents, children, _) = Staged.annIndex(s, dir, k1, k2)
        val work = graft.util.Fs.freshWorkDir("graft_stream_ann", dir)
        graft.streaming.StreamingAnn
          .appendAvailableNow(s, dir, work, superCents, children)
          .orderBy("vec_id")
      },
      s"$annIdxWith SELECT vec_id, scell, cell FROM bassign ORDER BY vec_id"),

    // Incremental index maintenance, move 2 — the HOT-CELL WATCH: per
    // (super, child) occupancy after the append, split flag on cells
    // holding > 1.5× the mean load. Mean-relative, so the trigger is
    // scale-free; the threshold is a 1-row broadcast. This is the view
    // a nightly maintenance job reads to decide which cells to split.
    Q("ann_index_hot_cells",
      (s, dir) => {
        val (k1, k2) = annIdxParams(s, dir)
        val (_, _, existing) = Staged.annIndex(s, dir, k1, k2)
        val (arriving, _, _) =
          Staged.annAppendState(s, dir, k1, k2, HotFactor)
        SimilarityOps.ivf2AppendStats(existing, arriving, HotFactor)
          .orderBy("scell", "cell")
      },
      s"""$annIdxStatsWith
         |SELECT scell, cell, n_existing, n_arriving, n_total,
         |CAST(CASE WHEN n_total > hot_threshold THEN 1 ELSE 0 END AS BIGINT)
         |  AS needs_split
         |FROM stats CROSS JOIN th
         |ORDER BY scell, cell""".stripMargin.replace("\n", " ")),

    // Incremental index maintenance, move 3 — SPLIT + REASSIGN: every
    // hot cell is split in place (its two lowest-vec_id members become
    // the replacement child centroids — deterministic, no retrain),
    // then hot-cell members re-run the child argmax against the
    // updated children of their super-cell; everyone else is untouched.
    // Output is the post-maintenance occupancy — comparable row-for-row
    // with ivf2_cell_stats to see the rebalance. Work is bounded by
    // hot-cell membership (two hash-aggs pick the split points; no
    // per-cell window, so one giant hot cell can't pin a reducer).
    Q("ann_index_post_split",
      (s, dir) => {
        val (k1, k2) = annIdxParams(s, dir)
        val (_, children, _) = Staged.annIndex(s, dir, k1, k2)
        val (_, members, hot) =
          Staged.annAppendState(s, dir, k1, k2, HotFactor)
        val updated = SimilarityOps.ivf2SplitHotCells(
          members.select(col("vec_id"), col("n_emb"), col("cell")),
          children, hot)
        SimilarityOps.ivf2ReassignCells(
            members.select(col("vec_id"), col("n_emb"), col("scell"), col("cell")),
            updated, hot)
          .groupBy(col("scell"), col("cell"))
          .agg(count(lit(1)).as("n_vectors"),
            min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
          .orderBy("scell", "cell")
      },
      s"""$annIdxStatsWith,
         |hotcells AS (
         |  SELECT cell FROM stats CROSS JOIN th WHERE n_total > hot_threshold),
         |allv AS (SELECT * FROM ($normCorpus)),
         |members AS (
         |  SELECT a.vec_id, a.scell, a.cell, e.n_emb
         |  FROM (SELECT * FROM cassign UNION ALL SELECT * FROM bassign) a
         |  JOIN allv e ON a.vec_id = e.vec_id),
         |hotm AS (SELECT m.* FROM members m JOIN hotcells h ON m.cell = h.cell),
         |m1 AS (SELECT cell, min(vec_id) AS v1 FROM hotm GROUP BY cell),
         |picks AS (
         |  SELECT cell, v1, min(vec_id) AS v2
         |  FROM hotm JOIN m1 USING (cell) WHERE vec_id > v1 GROUP BY cell, v1),
         |newcents AS (
         |  SELECT h.scell, h.vec_id AS sub_id, h.n_emb AS s_emb
         |  FROM hotm h JOIN picks p
         |  ON h.cell = p.cell AND (h.vec_id = p.v1 OR h.vec_id = p.v2)),
         |upchildren AS (
         |  SELECT * FROM children
         |  WHERE sub_id NOT IN (SELECT cell FROM picks)
         |  UNION ALL SELECT scell, sub_id, s_emb FROM newcents),
         |keepm AS (
         |  SELECT vec_id, scell, cell FROM members
         |  WHERE cell NOT IN (SELECT cell FROM hotcells)),
         |ream AS (
         |  SELECT vec_id, scell, sub_id AS cell FROM (
         |    SELECT h.vec_id, h.scell, ch.sub_id,
         |    row_number() OVER (PARTITION BY h.vec_id ORDER BY
         |      ${dotCosine("h.n_emb", "ch.s_emb")} DESC, ch.sub_id ASC) AS rn
         |    FROM hotm h JOIN upchildren ch ON h.scell = ch.scell)
         |  WHERE rn = 1),
         |finala AS (SELECT * FROM keepm UNION ALL SELECT * FROM ream)
         |SELECT scell, cell, CAST(count(*) AS BIGINT) AS n_vectors,
         |min(vec_id) AS min_vec, max(vec_id) AS max_vec
         |FROM finala GROUP BY scell, cell
         |ORDER BY scell, cell""".stripMargin.replace("\n", " ")),

    // Recall@k of the two-level index vs the exact baseline — the same
    // tuning measurement as ann_recall_ivf, so flat and hierarchical
    // quantizers are comparable at identical effective cell counts.
    Q("ann_recall_ivf2",
      (s, dir) => recallAtK(s, dir, ivf2TopK(s, dir)),
      recallSql(ivf2Sql)),

    // Recall@k evaluation of the approximate index against the exact
    // baseline — the measurement a production ANN deployment runs before
    // trusting nprobe/nCells settings. Both sides ride the session-staged
    // corpus/centroids; the compare is one equality join on
    // (query_id, neighbor_id) + a per-query count. At scale this runs on
    // a sampled query set — the corpus passes dominate, the eval join is
    // ~|queries|·k rows.
    Q("ann_recall_ivf",
      (s, dir) => recallAtK(s, dir,
        SimilarityOps.ivfTopKNormWith(Staged.normCorpus(s, dir),
          Staged.ivfCentroids(s, dir, 16), QueryIds, K, 4)),
      recallSql(ivfSql)),

    // Graph-ANN BUILD (the Vamana/NSW family — the missing index next
    // to IVF/LSH/PQ): a bounded-degree kNN edge table, candidates
    // IVF-cell-blocked (the DiskANN sharded-build shape — never
    // all-pairs; per node only its GProbe nearest cells' members are
    // scored, and probing >1 cell is what connects the graph ACROSS
    // cells). n·GM rows, equality-joined on src at search time. The
    // full edge table is the registered output so any drift in the
    // build — candidate blocking, tie-breaks, degree cut — breaks the
    // hash, not just a summary statistic.
    Q("ann_graph_edges",
      (s, dir) => annGraph(s, dir).orderBy("src", "dst"),
      s"""WITH $graphWith
         |SELECT src, dst, sim FROM gedges
         |ORDER BY src, dst""".stripMargin.replace("\n", " ")),

    // Graph-ANN SEARCH: beam expansion from the pinned entry (min
    // vec_id; production pins the medoid) — GSteps supersteps, each
    // keeping the GBeam best of beam ∪ out-neighbors (cosine DESC, id
    // ASC), answer = top-K of the final beam. The keep rule is
    // monotone, so fixed-step replay needs no visited set — which is
    // what lets the oracle UNROLL the supersteps as plain CTEs. Each
    // superstep costs one equality join (frontier × edges) + one
    // per-query window over ≤ |q|·GBeam·(GM+1) rows: stream rate,
    // never corpus rate — the sub-linear serving path the IVF probe
    // family can't offer at high recall.
    Q("ann_topk_graph",
      (s, dir) => graphTopK(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($graphTopkSql) ORDER BY query_id, rank"),

    // Recall@k of the graph search vs the exact baseline — the same
    // eval contract as ann_recall_ivf/ann_recall_ivf2, so all four
    // index families are comparable on one fixture.
    Q("ann_recall_graph",
      (s, dir) => recallAtK(s, dir, graphTopK(s, dir)),
      recallSql(graphTopkSql)),

    // The SUPERSTEPS tuning curve — the graph index's knob shipped
    // with its curve (the ann_nprobe_curve discipline): recall@10
    // after each beam superstep, from ONE walk (the per-step snapshots
    // share the prefix — beamSearchTopK(snapshotEachStep)). The knee
    // is where serving stops paying for hops; each extra superstep
    // costs one frontier×edges join at ANY corpus scale, so the curve
    // prices hops directly against recall.
    Q("ann_graph_steps_curve",
      (s, dir) => {
        import s.implicits._
        val corpus = Staged.normCorpus(s, dir)
        val brute = bruteTopK(s, dir)
          .select(col("query_id"), col("neighbor_id"))
        val snaps = graft.ops.GraphAnnOps.beamSearchTopK(corpus,
            annGraph(s, dir), Staged.corpusMinId(s, dir), QueryIds,
            GBeam, GSteps, K, snapshotEachStep = true)
          .select(col("steps"), col("query_id"), col("neighbor_id"),
            lit(1).as("hit"))
        brute
          .crossJoin(broadcast((1 to GSteps).toDF("steps")))
          .join(snaps, Seq("steps", "query_id", "neighbor_id"), "left")
          .groupBy(col("steps"))
          .agg(count(col("hit")).cast("long").as("n_matched"))
          .select(col("steps").cast("int").as("steps"), col("n_matched"),
            round(col("n_matched") /
              lit((QueryIds.size * K).toDouble), 6).as("mean_recall"))
          .orderBy("steps")
      },
      s"""WITH $graphWithCurve, $gfStepsSqlPlain,
         |allf AS (${(1 to GSteps).map(t =>
            s"SELECT CAST($t AS INT) AS steps, query_id, node FROM gf$t")
            .mkString(" UNION ALL ")}),
         |tk AS (
         |  SELECT steps, query_id, neighbor_id FROM (
         |    SELECT a.steps, a.query_id, a.node AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.steps, a.query_id
         |      ORDER BY ${dotCosine("q.q_emb", "ce.n_emb")} DESC,
         |        a.node ASC) AS rnk
         |    FROM allf a
         |    JOIN corpus ce ON a.node = ce.vec_id
         |    JOIN q ON a.query_id = q.query_id
         |    WHERE a.node <> a.query_id)
         |  WHERE rnk <= $K),
         |bt AS (SELECT query_id, neighbor_id FROM ($bruteSql))
         |SELECT st.steps,
         |CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
         |round(count(i.neighbor_id) /
         |  ${(QueryIds.size * K).toDouble}, 6) AS mean_recall
         |FROM (SELECT CAST(unnest([${(1 to GSteps).mkString(", ")}])
         |    AS INT) AS steps) st
         |CROSS JOIN bt b
         |LEFT JOIN tk i ON i.steps = st.steps
         |AND i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |GROUP BY st.steps
         |ORDER BY st.steps""".stripMargin.replace("\n", " ")),

    // Incremental graph-index INSERT (the ann_index_append /
    // bm25_index_append move for the graph family): the standing edge
    // table is staged; an arriving batch (vec_id ≡ 0 mod 5) gets its
    // edges among its probed cells' members, and base nodes recompute
    // ONLY where an arrival landed in a probed cell — everyone else
    // keeps their edges untouched. Because membership and every
    // ranking are deterministic under the frozen quantizer, the
    // incremental result is IDENTICAL to a full rebuild over
    // base ∪ batch — so the oracle IS the full-rebuild replay (the
    // ann_graph_edges chain), and the equality is the correctness
    // statement, not an approximation. Per-batch cost: confined to
    // the ≤ |batch|·GProbe touched cells.
    Q("ann_graph_append",
      (s, dir) => {
        val corpus = Staged.normCorpus(s, dir)
        val cents = Staged.ivfCentroids(s, dir, 16)
        val base = corpus.filter(col("vec_id") % 5 =!= 0)
        val batch = corpus.filter(col("vec_id") % 5 === 0)
        graft.ops.GraphAnnOps
          .knnGraphAppend(annGraphBase(s, dir), base, batch, cents, GM, GProbe)
          .orderBy("src", "dst")
      },
      s"""WITH $graphWith
         |SELECT src, dst, sim FROM gedges
         |ORDER BY src, dst""".stripMargin.replace("\n", " ")),

    // The nprobe TUNING CURVE: recall@10 against scan cost (candidate
    // count) for nprobe ∈ {1, 2, 4, 8} on the same 16-cell index —
    // the two-axis artifact a deployment actually reads when sizing
    // the probe (ann_recall_ivf reports one point; this reports the
    // trade-off). Measured at sf0.01: recall climbs with candidates
    // scanned, and the marginal recall per extra candidate falls —
    // the knee is where production stops. Probe/assignment CTEs are
    // shared across arms; per-arm work is a filter on probe rank.
    // MEASURED at sf0.01: nprobe 1/2/4/8 → 304/589/1266/2510
    // candidates at recall 0.78/0.82/0.87/0.95 — marginal recall per
    // scanned candidate falls 4× across the sweep (0.78 for the first
    // 304 vs +0.08 for the last 1244), the diminishing-returns knee
    // the one-point recall eval cannot show.
    Q("ann_nprobe_curve",
      (s, dir) => {
        import s.implicits._
        val corpus = Staged.normCorpus(s, dir)
        val cents = Staged.ivfCentroids(s, dir, 16)
        val brute = bruteTopK(s, dir)
          .select(col("query_id"), col("neighbor_id"))
        // All arms from ONE ranked candidate pass (§2.3): arm p's
        // candidate set is probe_rank <= p of the max-arm relation
        // (prefix property of the shared cell ranking), so each
        // candidate row fans out to the arms that see it and ONE
        // window ranks every arm at once — the before-plan's 8
        // per-arm corpus subtrees (174 Exchanges) collapse to 2
        // (count pass + rank pass).
        val arms = NprobeArms.map(_.toLong)
        val cand = SimilarityOps
          .ivfCandidatesNormRanked(corpus, cents, QueryIds, NprobeArms.max)
          .withColumn("nprobe", explode(filter(
            typedLit(arms), a => a >= col("probe_rank"))))
        val counts = cand.groupBy(col("nprobe"))
          .agg(count(lit(1)).as("n_candidates"))
        val matched = SimilarityOps.topKPerQuery(cand, K, by = Seq("nprobe"))
          .join(brute, Seq("query_id", "neighbor_id"))
          .groupBy(col("nprobe"))
          .agg(count(lit(1)).as("n_matched"))
        arms.toDF("nprobe")
          .join(counts, Seq("nprobe"), "left")
          .join(matched, Seq("nprobe"), "left")
          .select(col("nprobe").cast("int").as("nprobe"),
            coalesce(col("n_candidates"), lit(0L)).cast("long")
              .as("n_candidates"),
            coalesce(col("n_matched"), lit(0L)).cast("long")
              .as("n_matched"))
          .withColumn("mean_recall",
            round(col("n_matched") / lit((QueryIds.size * K).toDouble), 6))
          .orderBy("nprobe")
      },
      nprobeCurveSql),

    // Hyperplane-LSH top-k: 16 sign-bit planes banded 4×4; candidates
    // share ≥1 band with the query (equality-keyed join, ~4× pruning vs
    // brute at sf0.01), exact rerank within candidates.
    Q("ann_topk_lsh",
      (s, dir) => SimilarityOps.lshTopKNorm(Staged.normCorpus(s, dir), QueryIds, K, 16, 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($lshSql) ORDER BY query_id, rank"),

    // Recall@k of the LSH index vs the exact baseline — the companion
    // measurement to ann_recall_ivf, so the two approximate indexes are
    // tunable against each other on the same scale.
    Q("ann_recall_lsh",
      (s, dir) => recallAtK(s, dir,
        SimilarityOps.lshTopKNorm(Staged.normCorpus(s, dir), QueryIds, K, 16, 4)),
      recallSql(lshSql)),

    // Quantized ANN: top-k by integer dot over the int8 codes — the
    // query path that pairs with embedding_quantize (exact integer
    // scores, no float parity surface at all).
    Q("ann_topk_quantized",
      (s, dir) => SimilarityOps.quantizedTopK(Tables.embeddings(s, dir), QueryIds, K)
        .select(col("query_id"), col("neighbor_id"), col("qdot"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"""WITH q AS (
         |  SELECT vec_id,
         |    CASE WHEN mx = 0 THEN 1.0 ELSE 127.0 / mx END AS scale, embedding
         |  FROM (SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
         |    FROM embeddings)),
         |codes AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(x::DOUBLE * scale + 0.5) AS BIGINT)) AS c
         |  FROM q),
         |qs AS (SELECT vec_id AS query_id, c AS qc
         |  FROM codes WHERE vec_id IN $idList),
         |scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(range(1, len(qc) + 1),
         |      i -> qc[i] * e.c[i])) AS BIGINT) AS qdot
         |  FROM codes e JOIN qs ON e.vec_id <> qs.query_id),
         |ranked AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id ASC) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, qdot, CAST(rnk AS INT) AS rank
         |FROM ranked WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin.replace("\n", " ")),

    // Int8 quantization health report: per-vector scale, saturation
    // count, reconstruction error — narrow map, exact half-up rounding
    // in both engines.
    Q("embedding_quantize",
      (s, dir) => SimilarityOps.quantizeInt8(Tables.embeddings(s, dir))
        .orderBy("vec_id"),
      s"""WITH q AS (
         |  SELECT vec_id,
         |    CASE WHEN mx = 0 THEN 1.0 ELSE 127.0 / mx END AS scale,
         |    embedding
         |  FROM (SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
         |    FROM embeddings)),
         |c AS (
         |  SELECT vec_id, scale,
         |    list_transform(embedding, x -> floor(x::DOUBLE * scale + 0.5)) AS codes,
         |    embedding
         |  FROM q)
         |SELECT vec_id, round(scale, 6) AS scale,
         |CAST(len(list_filter(codes, c -> abs(c) >= 127)) AS BIGINT) AS n_sat,
         |round(list_sum(list_transform(range(1, len(embedding) + 1),
         |  i -> pow(embedding[i]::DOUBLE - codes[i] / scale, 2))), 6) AS recon_err
         |FROM c ORDER BY vec_id""".stripMargin.replace("\n", " ")),

    // PQ code table + distortion report: the compressed corpus (8
    // half-byte codes/vector, 64× smaller than the float64 row) plus
    // per-vector reconstruction error — the number that tunes (m, ksub)
    // before a deployment trusts ADC ranking. Codes surface as m scalar
    // columns (the minhash_signatures encoding — harness-sortable).
    Q("pq_codes",
      (s, dir) => {
        val (_, codes) = Staged.pqIndex(s, dir, PqM, PqKsub)
        codes.select(col("vec_id") +: (0 until PqM).map(j =>
            element_at(col("codes"), j + 1).as(s"code_$j")) :+
            col("recon_err"): _*)
          .orderBy("vec_id")
      },
      s"""$pqWith
         |SELECT vec_id,
         |${(0 until PqM).map(j =>
             s"CAST(max(CASE WHEN j = $j THEN code END) AS INT) AS code_$j")
             .mkString(", ")},
         |round(list_sum(list(dist ORDER BY j)), 6) AS recon_err
         |FROM enc GROUP BY vec_id ORDER BY vec_id"""
        .stripMargin.replace("\n", " ")),

    // PQ ADC top-k: the query stays exact, the corpus is scanned as
    // codes — scoring is m map lookups per candidate against a
    // broadcast per-query LUT (m·ksub entries), never a float dot over
    // raw vectors. The third ANN scale path: IVF prunes WHICH vectors
    // are scored, LSH prunes by bucket, PQ shrinks WHAT is scanned
    // (bytes/vector) — production IVF-PQ composes the two; here each is
    // separately oracle-pinned.
    Q("ann_topk_pq",
      (s, dir) => {
        val (cb, codes) = Staged.pqIndex(s, dir, PqM, PqKsub)
        SimilarityOps.pqAdcTopKCodes(codes, Staged.normCorpus(s, dir), cb,
            64, PqM, PqKsub, QueryIds, K)
          .select(col("query_id"), col("neighbor_id"), col("adc_score"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      s"SELECT * FROM ($pqSql) ORDER BY query_id, rank"),

    // Two-stage PQ serving shape: ADC shortlist of 50 over the codes,
    // EXACT float rerank of the shortlist only — the corpus-wide pass
    // moves bytes, float vectors are fetched for |queries|·50 rows by
    // id. Final scores are exact cosines, so quality is bounded only by
    // shortlist coverage (PqDecade measures rerank recall ≈ 1.0 where
    // raw ADC recall is ~0.3 at fixture scale: the rerank is what makes
    // seeded-codebook PQ servable).
    Q("ann_topk_pq_rerank",
      (s, dir) => {
        val (cb, codes) = Staged.pqIndex(s, dir, PqM, PqKsub)
        SimilarityOps.pqAdcRerankTopK(codes, Staged.normCorpus(s, dir), cb,
            64, PqM, PqKsub, QueryIds, K, PqShortlist)
          .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      s"""WITH corpus AS ($normCorpus),
         |short AS (SELECT query_id, neighbor_id
         |  FROM (${pqTopSql(PqShortlist)})),
         |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
         |  FROM corpus WHERE vec_id IN $idList),
         |scored AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    ${dotCosine("q.q_emb", "e.n_emb")} AS cosine_sim
         |  FROM short s JOIN q ON s.query_id = q.query_id
         |  JOIN corpus e ON s.neighbor_id = e.vec_id),
         |ranked AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
         |FROM ranked WHERE rnk <= $K
         |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),

    // IVF-PQ — the production composition: coarse cells prune WHICH
    // vectors are scored (equality join on the probed cell id), PQ
    // codes shrink WHAT the scoring moves (ADC over candidate codes;
    // no float vector is touched after the probe). At 10^10 vectors
    // this is the serving architecture: probe nprobe/nCells of the
    // corpus, scan those candidates' codes at ~4 bytes each.
    Q("ann_topk_ivfpq",
      (s, dir) => {
        val (cb, codes) = Staged.pqIndex(s, dir, PqM, PqKsub)
        SimilarityOps.ivfPqTopK(Staged.normCorpus(s, dir),
            Staged.ivfCentroids(s, dir, 16), codes, cb,
            64, PqM, PqKsub, QueryIds, K, 4)
          .select(col("query_id"), col("neighbor_id"), col("adc_score"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      s"SELECT * FROM ($ivfPqSql) ORDER BY query_id, rank"),

    // Recall@k of ADC ranking vs the exact baseline — the companion
    // eval to ann_recall_ivf/lsh, completing the tuning triangle:
    // cell-pruning recall (ivf), bucket-pruning recall (lsh), and
    // code-compression recall (pq) measured on the same scale.
    Q("ann_recall_pq",
      (s, dir) => {
        val (cb, codes) = Staged.pqIndex(s, dir, PqM, PqKsub)
        recallAtK(s, dir, SimilarityOps.pqAdcTopKCodes(codes,
          Staged.normCorpus(s, dir), cb, 64, PqM, PqKsub, QueryIds, K))
      },
      recallSql(pqSql)),

    // Embedding near-dup screen — the HEADLINE is the scale path:
    // IVF-cell blocked candidates (pairs must share one of their 2
    // nearest cells — an equality-keyed join, never all-pairs), then
    // exact-cosine verify. The cell count FOLLOWS the corpus
    // (max(16, n/128), staged per (dir, nCells)): the sf1 scaling run
    // measured a FIXED 16 cells at 40× on 10× data (Σ|cell|² is
    // quadratic at fixed nCells) while scaled cells stay linear —
    // BASELINE.md round 4. At both oracle scales (500 and 2000
    // vectors) the knob clamps to the 16-cell floor, so the oracle
    // mirrors the blocking verbatim and results hash-match. The exact
    // all-pairs forms survive ONLY as evaluation baselines:
    // dedup_embedding_exact (tiled kernel) and dedup_embedding_recall
    // (how much the blocking misses).
    Q("dedup_embedding_cosine",
      (s, dir) => {
        val corpus = Staged.normCorpus(s, dir)
        val nCells = SimilarityOps.autoCellCount(Staged.corpusCount(s, dir))
        SimilarityOps
          .cosineNearDupPairsBlockedNormWith(corpus,
            Staged.ivfCentroids(s, dir, nCells), 0.4, 2)
          .orderBy("vec_a", "vec_b")
      },
      s"""$blockedPairsWith
         |SELECT vec_a, vec_b, cosine_sim FROM blocked
         |ORDER BY vec_a, vec_b""".stripMargin.replace("\n", " ")),

    // SemDedup within-cell semantic prune (Abbas et al. 2023 — the
    // keep-one-per-ε-ball pass composing the IVF cells with the blocked
    // cosine screen; VERDICT r10 gap 4): every vector lands in its ONE
    // nearest cell, and any vector within ε=0.4 of a smaller-id
    // cellmate is dropped with that smallest similar id as its
    // exemplar (keep-min-id — deterministic where the paper's
    // sequential greedy is not; divergence documented at
    // SimilarityOps.semDedupWithinCellsNorm). Emits EVERY vector with
    // kept/dropped + evidence, so the downstream corpus filter is one
    // semi-join. Cost is bounded by Σ|cell|² exactly like
    // dedup_embedding_cosine (cells follow the corpus; hot cells can
    // split via maxCellSize).
    Q("semdedup_cells",
      (s, dir) => {
        val corpus = Staged.normCorpus(s, dir)
        val nCells = SimilarityOps.autoCellCount(Staged.corpusCount(s, dir))
        SimilarityOps.semDedupWithinCellsNorm(corpus,
            Staged.ivfCentroids(s, dir, nCells), 0.4)
          .orderBy("vec_id")
      },
      s"""$semdedupWith
         |SELECT asg.vec_id, asg.cell, d.exemplar IS NULL AS kept,
         |d.exemplar, d.max_sim
         |FROM assigned1 asg LEFT JOIN dropped d ON asg.vec_id = d.vec_id
         |ORDER BY asg.vec_id""".stripMargin.replace("\n", " ")),

    // Benchmark DECONTAMINATION in embedding space — the semantic
    // sibling of decontaminate_ngram (paraphrased eval items share no
    // 8-gram but land next to the benchmark in embedding space): the
    // held-out benchmark set is vec_id % 20 == 0 (the deterministic 5%
    // an eval suite would pin), and every TRAINING vector reports
    // whether any benchmark vector reaches cosine 0.4, with min-id +
    // strongest-sim evidence. Candidates are the IVF-cell equality join
    // of train × bench (SimilarityOps.decontaminateBlockedNorm — never
    // all-pairs; the bench side is tiny, so work is ~|train ∩ cell| per
    // probed bench cell). Oracle replays the cell assignment and the
    // predicate verbatim on the pinned 16-cell/nprobe-2 geometry.
    Q("decontaminate_embedding",
      (s, dir) => {
        val corpus = Staged.normCorpus(s, dir)
        SimilarityOps.decontaminateBlockedNorm(
            corpus.filter(col("vec_id") % 20 =!= 0),
            corpus.filter(col("vec_id") % 20 === 0),
            Staged.ivfCentroids(s, dir, 16), 0.4)
          .orderBy("vec_id")
      },
      s"""$blockedPairsWith,
         |th AS (
         |  SELECT t.vec_id, b.vec_id AS bench_id,
         |  ${dotCosine("ct.n_emb", "cb.n_emb")} AS cosine_sim
         |  FROM assigned t JOIN assigned b ON t.cell = b.cell
         |  AND t.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
         |  JOIN corpus ct ON t.vec_id = ct.vec_id
         |  JOIN corpus cb ON b.vec_id = cb.vec_id),
         |dhits AS (
         |  SELECT vec_id, min(bench_id) AS bench_id,
         |  max(cosine_sim) AS max_sim
         |  FROM th WHERE cosine_sim >= 0.4 GROUP BY vec_id)
         |SELECT c.vec_id, h.bench_id IS NOT NULL AS contaminated,
         |h.bench_id, h.max_sim
         |FROM corpus c LEFT JOIN dhits h ON c.vec_id = h.vec_id
         |WHERE c.vec_id % 20 <> 0
         |ORDER BY c.vec_id""".stripMargin.replace("\n", " ")),

    // Two-level blocked near-dup — the headline's successor past the
    // flat quantizer's ~10^8-vector driver-matrix cap: identical fused
    // candidates-and-verify movement, but cell ids come from the
    // two-level assignment (only k1 = O(√k) centroids in the plan;
    // children are distributed data). Fixture pins 4×4 cells / nprobe 2
    // supers so the DuckDB oracle mirrors the blocking verbatim.
    Q("dedup_embedding_cosine2",
      (s, dir) => {
        val corpus = Staged.normCorpus(s, dir)
        val (k1, k2) = ivf2Params(Staged.corpusCount(s, dir))
        SimilarityOps
          .cosineNearDupPairsBlocked2NormWith(corpus,
            Staged.ivfCentroids(s, dir, k1), k2, 0.4, 2)
          .orderBy("vec_a", "vec_b")
      },
      s"""$blocked2PairsWith
         |SELECT vec_a, vec_b, cosine_sim FROM blocked2
         |ORDER BY vec_a, vec_b""".stripMargin.replace("\n", " ")),

    // EVAL BASELINE, not a production operator: exact all-pairs cosine
    // via the tiled block-matrix kernel (Θ(n²) work by definition of
    // exactness — bounded task memory, but never the headline at 100×;
    // SimilarityOps.cosineNearDupPairs adds a hard size guard on the
    // declarative twin). Exists to ground dedup_embedding_recall.
    Q("dedup_embedding_exact",
      (s, dir) => graft.ops.SimilarityKernel
        .cosineNearDupPairsKernelNorm(Staged.normCorpus(s, dir), 0.4)
        .orderBy("vec_a", "vec_b"),
      s"""WITH corpus AS ($normCorpus)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |${dotCosine("a.n_emb", "b.n_emb")} AS cosine_sim
         |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |WHERE ${dotCosine("a.n_emb", "b.n_emb")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin.replace("\n", " ")),

    // Blocking quality eval: of the true cosine≥0.4 pairs (exact tiled
    // kernel), what fraction does the IVF-cell blocking find? The
    // blocked path verifies candidates with the exact dot product, so
    // found ⊆ truth — precision is 1.0 and this one recall number is
    // the whole quality story for the (nCells, nprobe) setting. The
    // number that tunes nprobe before a production run.
    Q("dedup_embedding_recall",
      (s, dir) => {
        val truth = graft.ops.SimilarityKernel
          .cosineNearDupPairsKernelNorm(Staged.normCorpus(s, dir), 0.4)
          .select(col("vec_a"), col("vec_b"))
        val found = SimilarityOps
          .cosineNearDupPairsBlockedNormWith(Staged.normCorpus(s, dir),
            Staged.ivfCentroids(s, dir, 16), 0.4, 2)
          .select(col("vec_a"), col("vec_b"), lit(1).as("hit"))
        truth.join(found, Seq("vec_a", "vec_b"), "left")
          .agg(count(lit(1)).as("n_true_pairs"),
            count(col("hit")).as("n_found"))
          .select(col("n_true_pairs"), col("n_found"),
            // nullif: a corpus with no true near-dup pairs yields a
            // null recall row instead of an ANSI 0/0 crash
            round(col("n_found") /
              nullif(col("n_true_pairs").cast("double"), lit(0d)), 6)
              .as("recall"))
      },
      s"""$blockedPairsWith,
         |truth AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |  WHERE ${dotCosine("a.n_emb", "b.n_emb")} >= 0.4)
         |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         |CAST(count(f.vec_a) AS BIGINT) AS n_found,
         |round(count(f.vec_a) / nullif(CAST(count(*) AS DOUBLE), 0), 6) AS recall
         |FROM truth t LEFT JOIN blocked f
         |ON t.vec_a = f.vec_a AND t.vec_b = f.vec_b"""
        .stripMargin.replace("\n", " ")),

    // Hard-negative mining (contrastive/metric training): per query,
    // the top-k most-similar vectors with a DIFFERENT class label —
    // the pairs a triplet/InfoNCE loss most needs. Brute shape with the
    // query set (plus labels) broadcast; the corpus streams once.
    Q("ann_hard_negatives",
      (s, dir) => SimilarityOps.hardNegativesNorm(
          Staged.normCorpus(s, dir), Tables.embeddings(s, dir), QueryIds, K)
        .select(col("query_id"), col("neighbor_id"), col("n_label"),
          col("cosine_sim"), col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"""WITH corpus AS ($normCorpus),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |c AS (SELECT corpus.vec_id, n_emb, label
         |  FROM corpus JOIN lab USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, n_emb AS q_emb,
         |  label AS q_label FROM c WHERE vec_id IN $idList),
         |scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id, c.label AS n_label,
         |  ${dotCosine("q_emb", "c.n_emb")} AS cosine_sim
         |  FROM c JOIN q ON c.label <> q.q_label),
         |ranked AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, n_label, cosine_sim,
         |CAST(rnk AS INT) AS rank
         |FROM ranked WHERE rnk <= $K ORDER BY query_id, rank"""
        .stripMargin.replace("\n", " ")),

    // Hybrid retrieval via WEIGHTED reciprocal-rank fusion: the three
    // approximate indexes (IVF cell probe, LSH bands, PQ ADC) each
    // return their own top-k ranking; fusion scores
    // Σ w_r/(60 + rank_r) with each index weighted by its measured
    // recall (WIvf/WLsh/WPq — see their doc for the dominance floor
    // that makes fused membership provably ≥ the best index, where
    // equal weights measured 0.70 vs IVF's 0.87). Rank-only, so it
    // works across heterogeneous indexes with incomparable scores. All
    // three inputs are ≤ |queries|·k rows, so the fusion join is
    // trivially broadcastable at any corpus size; the cost is the
    // three retrievals themselves.
    Q("ann_topk_rrf",
      (s, dir) => rrfTopK(s, dir).orderBy("query_id", "rank"),
      s"SELECT * FROM ($rrfSql) ORDER BY query_id, rank"),

    // Recall@k of the fused ranking vs the exact baseline — the same
    // eval every single-index variant carries. With the recall-derived
    // weights this measures the designed floor (fused = best index's
    // membership, 0.87); the variant that RECOVERS neighbors a single
    // index misses is ann_recall_hybrid_rerank (0.97).
    Q("ann_recall_rrf",
      (s, dir) => recallAtK(s, dir, rrfTopK(s, dir)),
      recallSql(rrfSql)),

    // Hybrid retrieval, stage 2 — the fusion that actually BEATS its
    // best input: the three indexes only NOMINATE (candidate union,
    // ≤ 3k per query); the true cosine metric ranks. Rank-blending
    // (RRF) is capped at the best single index's recall because
    // membership patterns carry all its signal (LSH∩PQ-only agreement
    // is 22% true here), but the exact metric separates the union's
    // true neighbors from every index's false positives — measured
    // recall@10 0.97 vs IVF's 0.87 (the union ceiling) at sf0.01.
    // This is the production two-stage shape: at 100 TB the indexes do
    // the corpus-scale pruning and the exact pass touches ≤ 3k
    // vectors per query.
    Q("ann_topk_hybrid_rerank",
      (s, dir) => SimilarityOps.rerankExactTopKNorm(
          Staged.normCorpus(s, dir), hybridCandidates(s, dir), QueryIds, K)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($hybridSql) ORDER BY query_id, rank"),

    // Recall@k of the reranked hybrid vs the exact baseline — the eval
    // that justifies shipping the two-stage operator: fused-and-
    // reranked ≥ every single index (HybridRerankSpec pins ≥; the
    // measured gap is +0.10 over IVF at sf0.01).
    Q("ann_recall_hybrid_rerank",
      (s, dir) => recallAtK(s, dir, SimilarityOps.rerankExactTopKNorm(
        Staged.normCorpus(s, dir), hybridCandidates(s, dir), QueryIds, K)),
      recallSql(hybridSql)),

    // Dimension-wise standardization (the covariance pass APPLIED):
    // z-score the first 16 dims against their own corpus statistics —
    // the whitening/normalization step an embedding pipeline runs
    // before training or indexing. Stats are one decimal-exact agg
    // broadcast back as 16 rows; two scans total at any corpus size.
    Q("embedding_standardize",
      (s, dir) => SimilarityOps.standardizeDims(
          Tables.embeddings(s, dir), 16)
        .orderBy("vec_id", "i"),
      s"""WITH vals AS (
         |  SELECT vec_id, CAST(t.i AS INT) AS i,
         |    CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE) AS x
         |  FROM embeddings, range(0, 16) t(i)),
         |st AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
         |  ${graft.ops.Determinism.sqlExactSum("x")} AS sx,
         |  ${graft.ops.Determinism.sqlExactSum("x * x")} AS sxx
         |  FROM vals GROUP BY i),
         |m AS (SELECT i, sx / n AS mean,
         |  (sxx - sx * sx / n) / n AS variance FROM st)
         |SELECT vec_id, vals.i,
         |${graft.ops.Determinism.sqlNoNegZero(
             "round((x - mean) / sqrt(nullif(variance, 0)), 6)")} AS z
         |FROM vals JOIN m ON vals.i = m.i
         |ORDER BY vec_id, vals.i""".stripMargin.replace("\n", " ")),

    // Embedding covariance (upper triangle of the first 16 dims): the
    // distributed d×d Gram/covariance pass behind PCA whitening and
    // decorrelation of an embedding table. Each row explodes into its
    // 136 (i,j) pairs and streams straight into a partial hash-agg —
    // explode and agg share one stage, so the shuffle carries only the
    // 136 groups per partition, never n·d² rows; one corpus scan total
    // at any n. Decimal-exact sums kill partial-agg float order; the
    // final covariance arithmetic runs on identical doubles both sides.
    Q("embedding_covariance",
      (s, dir) => SimilarityOps.covariancePairs(
          Tables.embeddings(s, dir), 16)
        .orderBy("i", "j"),
      s"""WITH $covPairsWith
         |SELECT i, j, n,
         |${graft.ops.Determinism.sqlNoNegZero("round((sxy - sx * sy / n) / n, 6)")} AS cov
         |FROM a ORDER BY i, j"""
        .stripMargin.replace("\n", " ")),

    // PCA fit — the covariance pass CONSUMED: the top-4 basis of the
    // 16-dim covariance by fixed-budget orthogonal iteration
    // (PcaOps.fit: 100 power steps per component, each iterate
    // Gram-Schmidt'ed against the published components, λ = Rayleigh
    // on the original covariance = captured variance). The oracle
    // replays the identical iteration as a recursive CTE over one
    // list-state row, so the basis hash-matches with NO pinned
    // data-derived constants — the model survives fixture
    // regeneration. Distributed cost is ONE covariance scan; the
    // iteration runs on the d×d matrix (driver-side by design, like
    // the IVF centroid training).
    Q("pca_components",
      (s, dir) => {
        import s.implicits._
        val m = Staged.pcaModel(s, dir, PcaK, PcaIters)
        (for (k <- 0 until PcaK; i <- 0 until 16)
          yield (k, i, m.components(k)(i), m.variances(k)))
          .toDF("component", "i", "loading", "explained_var")
          .orderBy("component", "i")
      },
      s"""$pcaModelWith
         |SELECT CAST(t1.k AS INT) AS component, CAST(t2.i AS INT) AS i,
         |comps[CAST(t1.k AS INT) * 16 + CAST(t2.i AS INT) + 1] AS loading,
         |lams[CAST(t1.k AS INT) + 1] AS explained_var
         |FROM model, range(0, $PcaK) t1(k), range(0, 16) t2(i)
         |ORDER BY component, i""".stripMargin.replace("\n", " ")),

    // ...and APPLIED: every embedding projected onto the fitted basis
    // (centered on the corpus dimension means, the exact-decimal mean
    // the standardize pass uses). Completes covariance → standardize →
    // fit → project. The apply is a narrow map over a broadcast
    // (means, basis) pair — zero corpus shuffles at any scale; the
    // 4-double output is the dimensionality-reduced representation a
    // downstream index or probe trains on.
    Q("embedding_pca_project",
      (s, dir) => SimilarityOps.pcaProject(Tables.embeddings(s, dir),
          Staged.pcaModel(s, dir, PcaK, PcaIters))
        .orderBy("vec_id"),
      s"""$pcaModelWith,
         |$pcaMeansWith
         |SELECT vec_id, ${(0 until PcaK).map(pcaProjSql).mkString(", ")}
         |FROM embeddings, model, mrow
         |ORDER BY vec_id""".stripMargin.replace("\n", " ")),

    // Dim-reduction retrieval — the PCA model as an ANN index: the
    // candidate scan ranks by squared L2 over the 4 projected doubles
    // (k doubles per vector instead of the 64-float embedding — the
    // PCA analog of PQ's byte-code ADC scan), nearest 40 per query,
    // then the exact cosine reranks — the same two-stage shape as
    // ann_topk_hybrid_rerank.
    //
    // HONEST MEASURED VERDICT (the BucketPayoff pattern): on THIS
    // fixture recall@10 is 0.22, and the engine's own diagnostics say
    // why before you run a single query — pca_components' explained
    // variances are near-flat (Σλ/trace ≈ 0.26 over 4 of 16 dims: the
    // synthetic embeddings are nearly isotropic, so no 4-dim shadow
    // preserves neighborhoods; PcaAnnSpec pins the spectrum→recall
    // agreement). On real embedding tables — whose spectra decay
    // steeply — the identical operator composes into the standard
    // reduced-width first-pass scan; the applicability TEST is what
    // ships here: read the spectrum, then the recall eval, before
    // trusting any dim-reduction index.
    Q("ann_topk_pca",
      (s, dir) => pcaTopK(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
          col("rank").cast("int").as("rank"))
        .orderBy("query_id", "rank"),
      s"SELECT * FROM ($pcaAnnSql) ORDER BY query_id, rank"),

    // Recall@k of the PCA-space index vs the exact baseline — how much
    // neighborhood structure 4 principal components keep, measured the
    // same way every other index variant is. On this near-isotropic
    // fixture the answer is "not enough" (0.22) — which is the eval
    // doing its job; see ann_topk_pca's verdict note.
    Q("ann_recall_pca",
      (s, dir) => recallAtK(s, dir, pcaTopK(s, dir)),
      recallSql(pcaAnnSql)),

    // Johnson–Lindenstrauss signed random projection, 64 → 16 dims
    // (4× compression): the FIT-FREE dim reduction — the matrix is a
    // deterministic ±1/√k constant inlined into the plan, so unlike
    // PCA there is no covariance job, no driver-held model, and no
    // spectrum assumption (JL's distance-preservation bound depends
    // only on k and n). Pure narrow map, zero shuffles at any scale.
    Q("embedding_jl_project",
      (s, dir) => SimilarityOps.jlProject(
          Tables.embeddings(s, dir), JlMat)
        .orderBy("vec_id"),
      s"""SELECT vec_id, ${(0 until JlK).map(jlProjSql).mkString(", ")}
         |FROM embeddings ORDER BY vec_id""".stripMargin.replace("\n", " ")),

    // JL-space retrieval, same two-stage shape as ann_topk_pca: the
    // candidate scan ranks by squared L2 over 16 projected doubles
    // (1/4 the scan width of the raw embedding), nearest 40 per
    // query, exact cosine reranks. See ann_recall_jl for the measured
    // verdict vs PCA's spectrum-gated 0.22.
    Q("ann_topk_jl",
      (s, dir) => {
        SimilarityOps.rerankExactTopKNorm(
            Staged.normCorpus(s, dir), jlCands(s, dir), QueryIds, K)
          .select(col("query_id"), col("neighbor_id"), col("cosine_sim"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      s"SELECT * FROM ($jlAnnSql) ORDER BY query_id, rank"),

    // Recall@k of the JL-space index vs the exact baseline — measured
    // the same way as every other index variant, and read together
    // with ann_recall_pca: same candidate width, same rerank, but a
    // projection whose guarantee does not depend on the data's
    // spectrum. MEASURED at sf0.01: 0.33 — above the PCA probe's
    // spectrum-gated 0.22 but far from IVF's 0.87: on a
    // near-isotropic corpus BOTH dim reductions are bounded by the
    // compression ratio, exactly as the JL bound predicts for k=16 at
    // this n. The pair is the engine's dim-reduction decision kit:
    // spectrum steep → PCA keeps more per kept dim; spectrum flat →
    // only the compression-ratio bound applies, and an IVF/PQ probe
    // (which prunes rather than projects) is the better index.
    Q("ann_recall_jl",
      (s, dir) => recallAtK(s, dir, SimilarityOps.rerankExactTopKNorm(
        Staged.normCorpus(s, dir), jlCands(s, dir), QueryIds, K)),
      recallSql(jlAnnSql)),

    // Contrastive triple mining — the dataset-building op for
    // embedding training: per anchor, the nearest same-label neighbor
    // (positive) + the nearest different-label neighbor (hard
    // negative) + the margin between them. Anchors with NEGATIVE
    // margin are exactly the examples the current embedding confuses —
    // what a curriculum samples first. One scored corpus pass, label
    // split by flag, two per-query windows.
    Q("contrastive_triples",
      (s, dir) => SimilarityOps.contrastiveTriples(
          Staged.normCorpus(s, dir), Tables.embeddings(s, dir), QueryIds)
        .orderBy("anchor_id"),
      s"""WITH corpus AS ($normCorpus),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |c AS (SELECT corpus.vec_id, n_emb, label
         |  FROM corpus JOIN lab USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, n_emb AS q_emb,
         |  label AS q_label FROM c WHERE vec_id IN $idList),
         |scored AS (
         |  SELECT query_id, q_label, c.vec_id AS neighbor_id,
         |  (c.label = q.q_label) AS same,
         |  ${dotCosine("q_emb", "c.n_emb")} AS sim
         |  FROM c JOIN q ON c.vec_id <> q.query_id),
         |top AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id, same
         |    ORDER BY sim DESC, neighbor_id ASC) AS rn FROM scored)
         |  WHERE rn = 1)
         |SELECT p.query_id AS anchor_id, p.q_label AS label,
         |p.neighbor_id AS pos_id, p.sim AS pos_sim,
         |n.neighbor_id AS neg_id, n.sim AS neg_sim,
         |round(p.sim - n.sim, 6) AS margin
         |FROM (SELECT * FROM top WHERE same) p
         |JOIN (SELECT * FROM top WHERE NOT same) n
         |ON p.query_id = n.query_id
         |ORDER BY anchor_id""".stripMargin.replace("\n", " "))
  )

  /** PCA-space candidate width (≥ 4·K so the exact rerank has slack). */
  private final val PcaCandK = 40

  // JL geometry: 64 → 16 dims, same candidate width as the PCA probe
  // so the two dim-reduction recalls compare like for like. final
  // vals/lazy vals only — interpolated into oracle SQL at object init.
  private final val JlK = 16
  private final val JlCandK = 40
  private lazy val JlMat: Seq[Seq[Double]] =
    SimilarityOps.jlMatrix(JlK, 64)

  /** Session-staged JL candidate set (query_id, neighbor_id — ≤
    * |queries|·JlCandK rows): the projection + candidate scan is the
    * JL family's whole cost and both the topk and recall queries
    * consume the identical set. */
  private def jlCands(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame =
    Staged.retrieval(s, dir, "jl_cands") {
      SimilarityOps.pcaCandidates(
        SimilarityOps.jlProject(Tables.embeddings(s, dir), JlMat),
        QueryIds, JlCandK, JlK)
    }

  /** Generated JL projection expression for output dim `j`:
    * ascending-dim left-associated Σ x_i·P_ji over the full 64-dim
    * embedding, rounded 6 dp, −0 normalized — mirrors
    * SimilarityOps.jlProject; the ±0.25 matrix constants are inlined
    * as decimal literals in both engines. */
  private def jlProjSql(j: Int): String = {
    val terms = (0 until 64).map(i =>
      s"(CAST(embedding[${i + 1}] AS DOUBLE) * ${JlMat(j)(i)})")
    graft.ops.Determinism.sqlNoNegZero(
      s"round(${terms.mkString(" + ")}, 6)") + s" AS p$j"
  }

  /** JL-space two-stage retrieval — the pcaAnnSql shape minus the
    * model/means CTEs (the projection is a constant). */
  private lazy val jlAnnSql: String = {
    val dist = (0 until JlK).map(i =>
      s"((pr.p$i - qp.q$i) * (pr.p$i - qp.q$i))").mkString(" + ")
    s"""WITH pr AS (SELECT vec_id,
       |  ${(0 until JlK).map(jlProjSql).mkString(", ")}
       |  FROM embeddings),
       |qp AS (SELECT vec_id AS query_id,
       |  ${(0 until JlK).map(i => s"p$i AS q$i").mkString(", ")}
       |  FROM pr WHERE vec_id IN $idList),
       |cd AS (SELECT qp.query_id, pr.vec_id AS neighbor_id, $dist AS dist
       |  FROM pr JOIN qp ON pr.vec_id <> qp.query_id),
       |ck AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, neighbor_id ASC) AS rn FROM cd)
       |  WHERE rn <= $JlCandK),
       |corpus AS ($normCorpus),
       |qe AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |sc AS (SELECT ck.query_id, ck.neighbor_id,
       |  ${dotCosine("qe.q_emb", "e.n_emb")} AS cosine_sim
       |  FROM ck JOIN qe ON ck.query_id = qe.query_id
       |  JOIN corpus e ON ck.neighbor_id = e.vec_id),
       |kk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk FROM sc)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM kk WHERE rnk <= $K""".stripMargin.replace("\n", " ")
  }

  /** Corpus dimension means + the one-row pivot the projection reads
    * (needs `a` from covPairsWith in scope). */
  private lazy val pcaMeansWith: String =
    s"""means AS (SELECT i, sx / n AS mean FROM a WHERE i = j),
       |mrow AS (SELECT ${(0 until 16).map(i =>
           s"max(CASE WHEN i = $i THEN mean END) AS m$i").mkString(", ")}
       |  FROM means)""".stripMargin.replace("\n", " ")

  /** Oracle twin of pcaCandidates + rerankExactTopKNorm (no trailing
    * ORDER BY): project everything, nearest-PcaCandK by ascending-
    * component left-associated squared L2, exact-cosine rerank. */
  private lazy val pcaAnnSql: String = {
    val dist = (0 until PcaK).map(i =>
      s"((pr.p$i - qp.q$i) * (pr.p$i - qp.q$i))").mkString(" + ")
    s"""$pcaModelWith,
       |$pcaMeansWith,
       |pr AS (SELECT vec_id, ${(0 until PcaK).map(pcaProjSql).mkString(", ")}
       |  FROM embeddings, model, mrow),
       |qp AS (SELECT vec_id AS query_id,
       |  ${(0 until PcaK).map(i => s"p$i AS q$i").mkString(", ")}
       |  FROM pr WHERE vec_id IN $idList),
       |cd AS (SELECT qp.query_id, pr.vec_id AS neighbor_id, $dist AS dist
       |  FROM pr JOIN qp ON pr.vec_id <> qp.query_id),
       |ck AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, neighbor_id ASC) AS rn FROM cd)
       |  WHERE rn <= $PcaCandK),
       |corpus AS ($normCorpus),
       |qe AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |sc AS (SELECT ck.query_id, ck.neighbor_id,
       |  ${dotCosine("qe.q_emb", "e.n_emb")} AS cosine_sim
       |  FROM ck JOIN qe ON ck.query_id = qe.query_id
       |  JOIN corpus e ON ck.neighbor_id = e.vec_id),
       |kk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk FROM sc)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM kk WHERE rnk <= $K""".stripMargin.replace("\n", " ")
  }

  /** Generated projection expression for component `k`: ascending-dim
    * left-associated Σ (x_i − mean_i)·loading_ki, rounded 6 dp —
    * mirrors SimilarityOps.pcaProject's reduceLeft exactly. */
  private def pcaProjSql(k: Int): String = {
    val terms = (0 until 16).map(i =>
      s"(CAST(embedding[${i + 1}] AS DOUBLE) - m$i) * comps[${k * 16 + i + 1}]")
    graft.ops.Determinism.sqlNoNegZero(
      s"round(${terms.mkString(" + ")}, 6)") + s" AS p$k"
  }

  // PCA geometry (final vals: interpolated into oracle SQL at init)
  private final val PcaK = 4
  private final val PcaIters = 100
  private final val PcaD = 16

  /** Shared covariance prelude (CTEs `p` and `a`) — the exact-decimal
    * pair sums embedding_covariance and the PCA model both read. */
  private lazy val covPairsWith: String =
    s"""p AS (
       |  SELECT CAST(t1.i AS INT) AS i, CAST(t2.j AS INT) AS j,
       |    CAST(embedding[CAST(t1.i AS INT) + 1] AS DOUBLE) AS xi,
       |    CAST(embedding[CAST(t2.j AS INT) + 1] AS DOUBLE) AS xj
       |  FROM embeddings, range(0, $PcaD) t1(i), range(0, $PcaD) t2(j)
       |  WHERE t2.j >= t1.i),
       |a AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
       |  ${graft.ops.Determinism.sqlExactSum("xi")} AS sx,
       |  ${graft.ops.Determinism.sqlExactSum("xj")} AS sy,
       |  ${graft.ops.Determinism.sqlExactSum("xi * xj")} AS sxy
       |  FROM p GROUP BY i, j)""".stripMargin.replace("\n", " ")

  /** Oracle replay of PcaOps.fit as a recursive CTE (ends in
    * `model(comps, lams)`): the covariance matrix flattened to one
    * 256-double list-state row, then PcaK×(PcaIters+1) single-row
    * steps — matvec, classical Gram-Schmidt against published
    * components, normalize; at each component boundary, sign-fix,
    * publish rounded, λ = Rayleigh. Every sum is generated as an
    * ascending-index left-associated `+` chain, so the IEEE op order
    * matches the Scala loops term for term and no intermediate
    * rounding is needed for the engines to agree bit-for-bit. */
  private lazy val pcaModelWith: String = {
    val D = PcaD
    def cix(i: Int, j: Int) = s"c[${i * D + j + 1}]"
    val wz = (0 until D).map(i =>
      "(" + (0 until D).map(j => s"${cix(i, j)} * v[${j + 1}]")
        .mkString(" + ") + ")").mkString(", ")
    val dps = (0 until PcaK - 1).map(m =>
      s"(CASE WHEN len(comps) >= ${(m + 1) * D} THEN " +
        (0 until D).map(i => s"w[${i + 1}] * comps[${m * D + i + 1}]")
          .mkString(" + ") + " ELSE 0.0 END)").mkString(", ")
    val worth = (0 until D).map(i =>
      s"(w[${i + 1}] - (" +
        (0 until PcaK - 1).map(m =>
          s"dp[${m + 1}] * (CASE WHEN len(comps) >= ${(m + 1) * D} " +
            s"THEN comps[${m * D + i + 1}] ELSE 0.0 END)")
          .mkString(" + ") + "))").mkString(", ")
    val nrm = (0 until D).map(i => s"wo[${i + 1}] * wo[${i + 1}]")
      .mkString(" + ")
    val vnext = (0 until D).map(i => s"wo[${i + 1}] / nrm").mkString(", ")
    val mx = "greatest(" +
      (0 until D).map(i => s"abs(v[${i + 1}])").mkString(", ") + ")"
    val sgn = "CASE " + (0 until D).map(i =>
      s"WHEN abs(v[${i + 1}]) = mx THEN " +
        s"(CASE WHEN v[${i + 1}] < 0 THEN -1.0 ELSE 1.0 END)")
      .mkString(" ") + " ELSE 1.0 END"
    val svl = (0 until D).map(i => s"sgn * v[${i + 1}]").mkString(", ")
    val lam = (0 until D).map(i =>
      s"sv[${i + 1}] * (" +
        (0 until D).map(j => s"${cix(i, j)} * sv[${j + 1}]")
          .mkString(" + ") + ")").mkString(" + ")
    val startl = Seq.fill(D)(
      s"CAST(${1.0 / math.sqrt(D.toDouble)} AS DOUBLE)").mkString(", ")
    val pub = (0 until D).map(i => s"(round(sv[${i + 1}], 6) + 0.0)")
      .mkString(", ")
    s"""WITH RECURSIVE $covPairsWith,
       |cv AS (SELECT i, j,
       |  ${graft.ops.Determinism.sqlNoNegZero(
             "round((sxy - sx * sy / n) / n, 6)")} AS cov FROM a),
       |full_c AS (
       |  SELECT r.i AS i, c.j AS j, cv.cov
       |  FROM range(0, $D) r(i), range(0, $D) c(j)
       |  JOIN cv ON cv.i = least(r.i, c.j) AND cv.j = greatest(r.i, c.j)),
       |cmat AS (SELECT list(cov ORDER BY i * $D + j) AS c FROM full_c),
       |st AS (
       |  SELECT 0 AS kk, 0 AS t, (SELECT c FROM cmat) AS c,
       |    [$startl] AS v,
       |    CAST([] AS DOUBLE[]) AS comps, CAST([] AS DOUBLE[]) AS lams
       |  UNION ALL
       |  SELECT
       |    CASE WHEN t = $PcaIters THEN kk + 1 ELSE kk END,
       |    CASE WHEN t = $PcaIters THEN 0 ELSE t + 1 END,
       |    c,
       |    CASE WHEN t = $PcaIters THEN [$startl]
       |         WHEN nrm = 0 THEN v ELSE [$vnext] END,
       |    CASE WHEN t = $PcaIters THEN comps || [$pub] ELSE comps END,
       |    CASE WHEN t = $PcaIters
       |      THEN list_append(lams, (round(lam, 6) + 0.0)) ELSE lams END
       |  FROM (
       |    SELECT *, ($lam) AS lam FROM (
       |      SELECT *, [$svl] AS sv FROM (
       |        SELECT *, ($sgn) AS sgn FROM (
       |          SELECT *, ($mx) AS mx, sqrt($nrm) AS nrm FROM (
       |            SELECT *, [$worth] AS wo FROM (
       |              SELECT *, [$dps] AS dp FROM (
       |                SELECT kk, t, c, v, comps, lams, [$wz] AS w
       |                FROM st WHERE kk < $PcaK)))))))
       |),
       |model AS (SELECT comps, lams FROM st WHERE kk = $PcaK AND t = 0)"""
      .stripMargin.replace("\n", " ")
  }

  /** Two-level blocked near-dup pairs (4 super × 4 children, nprobe 2
    * supers), as a WITH prelude ending in `blocked2` — mirrors
    * SimilarityOps.cosineNearDupPairsBlocked2NormWith: children come
    * from the SINGLE-nearest super assignment; multi-probe lands each
    * vector in its best child within each of its 2 nearest super-cells. */
  private lazy val blocked2PairsWith: String =
    s"""WITH corpus AS ($normCorpus),
       |super AS (SELECT * FROM ${OracleFrags.ivfCentroids(4)}),
       |sall AS (
       |  SELECT e.vec_id, e.n_emb, c.centroid_id AS scell,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |  FROM corpus e CROSS JOIN super c),
       |children AS (
       |  SELECT scell, vec_id AS sub_id, n_emb AS s_emb FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY scell ORDER BY vec_id) AS crn
       |    FROM sall WHERE rn = 1)
       |  WHERE crn <= 4),
       |cassign AS (
       |  SELECT vec_id, sub_id AS cell FROM (
       |    SELECT a.vec_id, a.scell, ch.sub_id,
       |    row_number() OVER (PARTITION BY a.vec_id, a.scell ORDER BY
       |      ${dotCosine("a.n_emb", "ch.s_emb")} DESC, ch.sub_id ASC) AS crn
       |    FROM (SELECT * FROM sall WHERE rn <= 2) a
       |    JOIN children ch ON a.scell = ch.scell)
       |  WHERE crn = 1),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM cassign a JOIN cassign b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b, ${dotCosine("ca.n_emb", "cb.n_emb")} AS cosine_sim
       |  FROM cands
       |  JOIN corpus ca ON vec_a = ca.vec_id
       |  JOIN corpus cb ON vec_b = cb.vec_id),
       |blocked2 AS (SELECT * FROM scored WHERE cosine_sim >= 0.4)"""
      .stripMargin.replace("\n", " ")

  /** RRF weights = each index's measured recall@10 on the standing
    * eval queries (ann_recall_ivf / ann_recall_lsh / ann_recall_pq at
    * sf0.01: 0.87 / 0.47 / 0.28) — the offline tuning step a
    * production fusion runs on its sampled ground-truth evals.
    *
    * The weights are chosen to satisfy the dominance inequality
    * WIvf / (60 + K) > (WLsh + WPq) / (60 + 1): the WORST-ranked item
    * of the best index outscores the BEST-ranked item that only the
    * two weaker indexes agree on, so fused top-K membership provably
    * never drops below the best single index at any corpus — the
    * weaker indexes reorder WITHIN that membership by corroboration
    * (equal weights lacked this floor and measured fused recall 0.70
    * vs IVF's 0.87: LSH∩PQ-only agreement is 22% true on the fixture,
    * and unweighted RRF promoted exactly those). The measured ceiling
    * of any rank-blend here is the best index itself — membership-
    * pattern precision caps it — which is why the operator that
    * actually beats IVF is the exact-rerank stage
    * (`ann_topk_hybrid_rerank`: candidate-union recall 0.97). */
  // `final val` with a literal = compile-time constant: the oracle
  // strings are built during object init, BEFORE ordinary vals
  // declared below `all` would be assigned (a plain val here
  // interpolated as 0.0 into the SQL)
  private final val WIvf = 0.87
  private final val WLsh = 0.47
  private final val WPq = 0.28

  /** The three per-index top-K rankings the fusion family consumes,
    * each ≤ |queries|·K rows: (IVF probe, LSH bands, PQ ADC). */
  private def indexRankings(s: org.apache.spark.sql.SparkSession,
                            dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val nc = Staged.normCorpus(s, dir)
    val iv = SimilarityOps.ivfTopKNormWith(nc,
        Staged.ivfCentroids(s, dir, 16), QueryIds, K, 4)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("r_ivf"))
    val ls = SimilarityOps.lshTopKNorm(nc, QueryIds, K, 16, 4)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("r_lsh"))
    val pq = {
      val (cb, codes) = Staged.pqIndex(s, dir, PqM, PqKsub)
      SimilarityOps.pqAdcTopKCodes(codes, nc, cb, 64, PqM, PqKsub,
          QueryIds, K)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("r_pq"))
    }
    (iv, ls, pq)
  }

  /** Distinct candidate union of the three index rankings — the
    * nomination set both fusion variants rank (≤ 3·|queries|·K rows). */
  private def hybridCandidates(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (iv, ls, pq) = indexRankings(s, dir)
    iv.select("query_id", "neighbor_id")
      .unionByName(ls.select("query_id", "neighbor_id"))
      .unionByName(pq.select("query_id", "neighbor_id"))
      .distinct()
  }

  /** Fused top-k ranking shared by ann_topk_rrf and its recall eval:
    * IVF + LSH + PQ rankings combined with WEIGHTED reciprocal-rank
    * fusion (score = Σ w_r/(60 + rank_r), missing retriever
    * contributes 0; weights [[WIvf]]/[[WLsh]]/[[WPq]]) and re-ranked.
    * All inputs ≤ |queries|·k rows. The three-addend float sum keeps a
    * FIXED textual term order — that order (mirrored in [[rrfSql]]) is
    * what makes the score identical in both engines. */
  private def rrfTopK(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame = {
    // Fusion as ONE 3-way FULL OUTER join on (query_id, neighbor_id):
    // relationally identical to the previous candidates-union + three
    // left joins (each ranking's keys are unique, and the outer-join
    // key set IS the distinct union), but each index-ranking subtree
    // now appears ONCE in the plan instead of twice (once under the
    // union, once under its join) — guide §2.3/§2.4, don't compute the
    // same subtree twice. Measured r15 (before): ann_topk_rrf plan
    // carried 6 index-ranking subtrees, 105 Exchanges.
    val (iv, ls, pq) = indexRankings(s, dir)
    val scored = iv
      .join(ls, Seq("query_id", "neighbor_id"), "full_outer")
      .join(pq, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        round(coalesce(lit(WIvf) / (lit(60) + col("r_ivf")), lit(0.0))
          + coalesce(lit(WLsh) / (lit(60) + col("r_lsh")), lit(0.0))
          + coalesce(lit(WPq) / (lit(60) + col("r_pq")), lit(0.0)), 6)
          .as("rrf_score"))
    SimilarityOps.topKPerQuery(scored, K, "rrf_score")
  }

  /** Oracle twin of [[hybridCandidates]] + rerankExactTopKNorm (no
    * trailing ORDER BY — consumers add their own): candidate union of
    * the three index rankings, scored by the true cosine, top-K per
    * query. */
  private lazy val hybridSql: String =
    s"""WITH iv AS (SELECT query_id, neighbor_id FROM ($ivfSql)),
       |ls AS (SELECT query_id, neighbor_id FROM ($lshSql)),
       |pq AS (SELECT query_id, neighbor_id FROM ($pqSql)),
       |c AS (SELECT query_id, neighbor_id FROM iv
       |  UNION SELECT query_id, neighbor_id FROM ls
       |  UNION SELECT query_id, neighbor_id FROM pq),
       |corpus AS ($normCorpus),
       |q AS (SELECT vec_id AS query_id, n_emb AS q_emb
       |  FROM corpus WHERE vec_id IN $idList),
       |scored AS (SELECT c.query_id, c.neighbor_id,
       |  ${dotCosine("q.q_emb", "e.n_emb")} AS cosine_sim
       |  FROM c JOIN q ON c.query_id = q.query_id
       |  JOIN corpus e ON c.neighbor_id = e.vec_id),
       |k AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank
       |FROM k WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  /** Oracle twin of [[rrfTopK]] (no trailing ORDER BY — consumers add
    * their own, same convention as bruteSql/ivfSql/lshSql/pqSql). */
  private lazy val rrfSql: String =
    s"""WITH iv AS (SELECT query_id, neighbor_id, rank FROM ($ivfSql)),
       |ls AS (SELECT query_id, neighbor_id, rank FROM ($lshSql)),
       |pq AS (SELECT query_id, neighbor_id, rank FROM ($pqSql)),
       |c AS (SELECT query_id, neighbor_id FROM iv
       |  UNION SELECT query_id, neighbor_id FROM ls
       |  UNION SELECT query_id, neighbor_id FROM pq),
       |r AS (SELECT c.query_id, c.neighbor_id,
       |  round(coalesce(CAST($WIvf AS DOUBLE) / (60 + iv.rank), 0)
       |    + coalesce(CAST($WLsh AS DOUBLE) / (60 + ls.rank), 0)
       |    + coalesce(CAST($WPq AS DOUBLE) / (60 + pq.rank), 0), 6) AS rrf_score
       |  FROM c
       |  LEFT JOIN iv ON c.query_id = iv.query_id
       |    AND c.neighbor_id = iv.neighbor_id
       |  LEFT JOIN ls ON c.query_id = ls.query_id
       |    AND c.neighbor_id = ls.neighbor_id
       |  LEFT JOIN pq ON c.query_id = pq.query_id
       |    AND c.neighbor_id = pq.neighbor_id),
       |k AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY rrf_score DESC, neighbor_id ASC) AS rnk FROM r)
       |SELECT query_id, neighbor_id, rrf_score, CAST(rnk AS INT) AS rank
       |FROM k WHERE rnk <= $K""".stripMargin.replace("\n", " ")

  /** SemDedup oracle prelude: single-nearest-cell assignment
    * (`assigned1`), within-cell ≥ε pairs, and the per-vector drop
    * verdict (`dropped`: min-id exemplar + strongest-duplicate sim) —
    * mirrors SimilarityOps.semDedupWithinCellsNorm verbatim. */
  private lazy val semdedupWith: String =
    s"""WITH corpus AS ($normCorpus),
       |cents AS (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
       |assigned1 AS (
       |  SELECT vec_id, centroid_id AS cell FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN cents c)
       |  WHERE rn <= 1),
       |prs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${dotCosine("ca.n_emb", "cb.n_emb")} AS cosine_sim
       |  FROM assigned1 a JOIN assigned1 b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN corpus ca ON a.vec_id = ca.vec_id
       |  JOIN corpus cb ON b.vec_id = cb.vec_id),
       |dropped AS (
       |  SELECT vec_b AS vec_id, min(vec_a) AS exemplar,
       |  max(cosine_sim) AS max_sim
       |  FROM prs WHERE cosine_sim >= 0.4 GROUP BY vec_b)"""
      .stripMargin.replace("\n", " ")

  /** IVF-cell blocked near-dup pairs (nprobe 2 of 16 cells), as a WITH
    * prelude ending in the `blocked` relation — shared by the headline
    * dedup_embedding_cosine and the recall eval so the blocking logic
    * can't drift between them. */
  private lazy val blockedPairsWith: String =
    s"""WITH corpus AS ($normCorpus),
       |cents AS (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
       |assigned AS (
       |  SELECT vec_id, centroid_id AS cell FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dotCosine("e.n_emb", "c.c_emb")} DESC, c.centroid_id ASC) AS rn
       |    FROM corpus e CROSS JOIN cents c)
       |  WHERE rn <= 2),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b, ${dotCosine("ca.n_emb", "cb.n_emb")} AS cosine_sim
       |  FROM cands
       |  JOIN corpus ca ON vec_a = ca.vec_id
       |  JOIN corpus cb ON vec_b = cb.vec_id),
       |blocked AS (SELECT * FROM scored WHERE cosine_sim >= 0.4)"""
      .stripMargin.replace("\n", " ")
}
