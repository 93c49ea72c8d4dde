package graft

import graft.ops.{GraphAnnOps, SimilarityOps}
import org.scalatest.funsuite.AnyFunSuite

/** Graph-ANN invariants on a closed-form corpus: the build respects
  * the degree bound and never emits self-edges, and when the candidate
  * blocking covers the whole corpus (every node probes every cell) the
  * beam search with a corpus-wide beam recovers the EXACT brute-force
  * top-k — the degenerate case where the approximation must vanish.
  */
class GraphAnnSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // 12 deterministic 4-d vectors, no zero vector, no exact duplicates;
  // vec_id 0 is the min id, the searches' pinned entry point
  private lazy val corpus = SimilarityOps.normalizedCorpus(
    (0 until 12).map { i =>
      (i.toLong, Array(
        (1.0 + i * 0.37).toFloat, (2.0 - i * 0.21).toFloat,
        (0.5 + (i % 5) * 0.73).toFloat, (1.3 - (i % 3) * 0.41).toFloat))
    }.toDF("vec_id", "embedding")).cache()

  private lazy val cents = SimilarityOps.ivfCentroidsNorm(corpus, 2)

  test("build: degree bound holds, no self edges, sims in range") {
    val edges = GraphAnnOps.knnGraph(corpus, cents, m = 3, buildProbe = 2)
      .collect()
    assert(edges.nonEmpty)
    edges.foreach { r =>
      assert(r.getLong(0) != r.getLong(1), "self edge")
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9, "cosine out of range")
    }
    val deg = edges.groupBy(_.getLong(0)).map(_._2.length)
    assert(deg.max <= 3, s"degree bound violated: ${deg.max}")
    // probe=2 of 2 cells ⇒ every node sees every other: degree is
    // exactly min(m, n-1) = 3 for all 12 nodes
    assert(edges.length == 12 * 3, s"expected complete 3-NN, got ${edges.length}")
  }

  test("complete-candidate graph + corpus-wide beam recovers brute-force top-k") {
    // m = n-1 keeps every candidate edge, so one step from the entry
    // reaches the whole corpus and the final beam IS the corpus —
    // the top-k must then equal the exact ranking, tie-breaks included
    val graph = GraphAnnOps.knnGraph(corpus, cents, m = 11, buildProbe = 2)
    val qs = Seq(0L, 5L, 11L)
    val got = GraphAnnOps
      .beamSearchTopK(corpus, graph, entryId = 0L, qs, beam = 12, steps = 2,
        k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = SimilarityOps.bruteForceTopKNorm(corpus, qs, 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"beam search diverged from brute force:\n$got\nvs\n$want")
  }

  test("hot-cell cap: no-op at the default, bounded slices under a tiny cap") {
    // default cap is byte-identical to the uncapped build
    val plain = GraphAnnOps.knnGraph(corpus, cents, m = 3, buildProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val nocap = GraphAnnOps.knnGraph(corpus, cents, m = 3, buildProbe = 2,
        maxCellSize = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(plain == nocap)
    // a tiny cap still builds a valid bounded-degree graph with every
    // node present (same-salt slices are never empty for the src), and
    // its candidate pairs are a subset slice — so total edges can only
    // shrink or hold
    val capped = GraphAnnOps.knnGraph(corpus, cents, m = 3, buildProbe = 2,
      maxCellSize = 3L).collect()
    assert(capped.nonEmpty)
    val deg = capped.groupBy(_.getLong(0)).map(_._2.length)
    assert(deg.max <= 3, s"degree bound violated under cap: ${deg.max}")
    assert(capped.length <= plain.size,
      "capping must not create more edges than the uncapped build")
    capped.foreach(r => assert(r.getLong(0) != r.getLong(1)))
  }

  test("incremental append equals the full rebuild exactly") {
    import org.apache.spark.sql.functions.col
    // frozen quantizer + deterministic rankings ⇒ appending the
    // arrivals must reproduce the full-corpus build bit-for-bit
    val base = corpus.filter(col("vec_id") % 3 =!= 0)
    val batch = corpus.filter(col("vec_id") % 3 === 0)
    val baseEdges = GraphAnnOps.knnGraph(base, cents, m = 3, buildProbe = 2)
    val appended = GraphAnnOps
      .knnGraphAppend(baseEdges, base, batch, cents, m = 3, buildProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = GraphAnnOps.knnGraph(corpus, cents, m = 3, buildProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(appended == rebuilt,
      s"append diverged from rebuild:\nonly-append=${appended -- rebuilt}" +
        s"\nonly-rebuild=${rebuilt -- appended}")
  }

  test("a tighter beam never returns an unreachable or worse-ranked set size") {
    val graph = GraphAnnOps.knnGraph(corpus, cents, m = 3, buildProbe = 2)
    val res = GraphAnnOps
      .beamSearchTopK(corpus, graph, entryId = 0L, Seq(0L, 7L), beam = 4,
        steps = 3, k = 3)
      .collect()
    // k rows per query (beam ≥ k+1 covers the self-exclusion slot)
    assert(res.groupBy(_.getLong(0)).forall(_._2.length == 3), res.mkString("\n"))
  }
}
