package graft

import graft.ops.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input edges for the round-6 operators: empty corpus/batch
  * sides and sub-k2 super-cells must degrade to empty/null results, not
  * crash — the same posture DegenerateInputSpec pins for the financial
  * ratio queries.
  */
class DegenerateRound6Spec extends AnyFunSuite with SparkTestBase {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def vecs(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private val someDocs = docs(Seq(
    1L -> "alpha beta gamma delta epsilon zeta",
    2L -> "eta theta iota kappa lambda mu"))
  private val noDocs = docs(Seq.empty)

  test("incremental dedup with an EMPTY batch returns no rows") {
    val out = DedupOps.dedupIncremental(someDocs, noDocs, 3, 16, 2, 0.5)
    assert(out.count() == 0)
  }

  test("incremental dedup with an EMPTY corpus marks everything new") {
    val out = DedupOps.dedupIncremental(noDocs, someDocs, 3, 16, 2, 0.5)
      .collect()
    assert(out.length == 2 && out.forall(_.getBoolean(4)))
  }

  test("two-level IVF with fewer vectors than k1·k2 still answers") {
    // 3 vectors, k1=4 super-seeds requested, k2=4 children: every level
    // clamps to what exists; full-probe must return all other vectors
    val tiny = SimilarityOps.normalizedCorpus(vecs(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f, 0f),
      2L -> Seq(0.9f, 0.1f, 0f, 0f))))
    val cents = SimilarityOps.ivfCentroidsNorm(tiny, 4)
    val children = SimilarityOps.ivf2Children(tiny, cents, 4)
    val assigned = SimilarityOps.ivf2AssignBatchNorm(tiny, cents, children)
    val out = SimilarityOps.ivf2TopKNormWith(
      tiny, cents, children, assigned, Seq(0L), 2, 4, 16).collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) != 0L))
  }

  test("hot-cell cap on a corpus with no over-cap cell is a no-op") {
    val tiny = SimilarityOps.normalizedCorpus(vecs(
      (0L until 20L).map(i => i -> {
        val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f; v.toSeq
      })))
    val cents = SimilarityOps.ivfCentroidsNorm(tiny, 4)
    val uncapped = SimilarityOps
      .cosineNearDupPairsBlockedNormWith(tiny, cents, 0.4, 2)
    val capped = SimilarityOps
      .cosineNearDupPairsBlockedNormWith(tiny, cents, 0.4, 2, 1000L)
    assert(uncapped.exceptAll(capped).count() == 0 &&
      capped.exceptAll(uncapped).count() == 0)
  }

  test("GIF frame sampler on an empty media table returns no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Array[Byte])]
      .toDF("media_id", "media_type", "payload")
    assert(graft.ops.MultimodalOps.sampleVideoFrames(empty, 2).count() == 0)
  }
}
