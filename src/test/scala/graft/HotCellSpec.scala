package graft

import graft.ops.SimilarityOps
import graft.queries.Staged
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-cell guard for embedding cell-blocking — the skew twin of
  * HotKeySpec: a dense cluster of near-identical vectors collapses into
  * one cell, and without a cap the cell join is |cell|² regardless of
  * how nCells scales with the corpus. The cap must (1) bound candidate
  * work on the degenerate corpus, (2) change NOTHING when disabled or
  * when no cell is over-cap — the fixture oracles ride the default. */
class HotCellSpec extends AnyFunSuite with SparkTestBase {

  /** 2 000 vectors: 90% are EXACTLY identical (the worst-case dense
    * near-dup cluster — cosine 1 pairwise, so k-means cannot split it
    * and ties all break to one cell), the rest spread across
    * alternating axes. Deterministic in vec_id. */
  private lazy val skewed = {
    import spark.implicits._
    val dim = 8
    val rows = (0L until 2000L).map { i =>
      val v = Array.fill(dim)(0.0f)
      if (i % 10 != 0) v(0) = 1.0f // hot cluster: 1800 identical vectors
      else v((i / 10 % dim).toInt) = 1.0f // spread: axis varies
      (i, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("uncapped: the hot cell dominates candidate work quadratically") {
    val corpus = SimilarityOps.normalizedCorpus(skewed).cache()
    val cents = SimilarityOps.ivfCentroidsNorm(corpus, 16)
    val assigned = SimilarityOps.assignCellsNorm(corpus, cents, 2)
    val top = assigned.groupBy("cell").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(top >= 1800L, s"hot cluster should land in one cell, top=$top")
    // Σ|cell|² with an 1800-row cell ≥ 3.24M candidate pairs
    val work = assigned.groupBy("cell").count()
      .agg(sum(col("count") * col("count"))).collect()(0).getLong(0)
    assert(work >= 1800L * 1800L)
  }

  test("capped: per-cell work bounded, pairs stay exactly verified") {
    val cap = 200L
    val corpus = SimilarityOps.normalizedCorpus(skewed).cache()
    val cents = SimilarityOps.ivfCentroidsNorm(corpus, 16)
    val capped = SimilarityOps
      .cosineNearDupPairsBlockedNormWith(corpus, cents, 0.9, 2, cap)
    // candidate work after capping: recompute the capped assignment's
    // cell histogram — every (cell, salt) bucket must be ≤ cap + slack
    // (pmod salting is even only in expectation; 2× is a safe bound)
    val n = capped.count()
    assert(n > 0, "hot cluster must still yield near-dup pairs")
    // every emitted pair is exactly verified ≥ threshold
    assert(capped.filter(col("cosine_sim") < 0.9).count() == 0)
    // and the bound is real: the uncapped hot cell alone would emit
    // ~1800²/2 ≈ 1.6M pairs; capped output must be far below that
    assert(n < 400000L, s"capped pair count $n suggests the cap did not bind")
  }

  test("cap = MaxValue is byte-identical to the uncapped plan") {
    val corpus = Staged.normCorpus(spark, "/root/testdata/sf0.001")
    val cents = Staged.ivfCentroids(spark, "/root/testdata/sf0.001", 16)
    val a = SimilarityOps
      .cosineNearDupPairsBlockedNormWith(corpus, cents, 0.4, 2)
    val b = SimilarityOps
      .cosineNearDupPairsBlockedNormWith(corpus, cents, 0.4, 2, Long.MaxValue)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
