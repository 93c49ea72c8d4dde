package graft

import graft.ops.SimilarityOps
import graft.queries.Staged
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-level (hierarchical) IVF invariants, on the sf0.001 fixture
  * (500 vectors). The driver's DuckDB hash-compare pins the exact
  * results; these tests pin the ALGEBRA so a refactor can't silently
  * change the index's semantics:
  *  - the two-level assignment is a partition (one child cell per
  *    vector, and that cell belongs to the vector's super-cell);
  *  - probing EVERYTHING degenerates to exact brute force — the
  *    approximation comes only from pruning, never from the plumbing.
  */
class Ivf2Spec extends AnyFunSuite with SparkTestBase {
  private val dir = "/root/testdata/sf0.001"
  private val k1 = 4
  private val k2 = 4

  private def corpus = Staged.normCorpus(spark, dir)
  private def supers = Staged.ivfCentroids(spark, dir, k1)
  private def index = Staged.ivf2Index(spark, dir, k1, k2)

  test("two-level assignment is a partition aligned with super-cells") {
    val n = corpus.count()
    val assigned = SimilarityOps.ivf2AssignNorm(corpus, supers, k2)
    assert(assigned.count() == n, "every vector lands in exactly one cell")
    assert(assigned.select("vec_id").distinct().count() == n)
    // each assigned cell is a child of SOME super-cell, and the child
    // table is bounded by k1·k2
    val children = SimilarityOps.ivf2Children(corpus, supers, k2)
    val nChildren = children.count()
    assert(nChildren <= k1.toLong * k2)
    val orphan = assigned.join(
      children.select(col("sub_id").as("cell")), Seq("cell"), "left_anti")
    assert(orphan.count() == 0, "assigned cell that is not a known child")
  }

  test("probing every super-cell and child cell equals exact brute force") {
    val qids = (0L to 4L)
    val k = 8
    val brute = SimilarityOps.bruteForceTopKNorm(corpus, qids, k)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
    val (children, assigned) = index
    val everything = SimilarityOps.ivf2TopKNormWith(corpus, supers,
        children, assigned, qids, k, nprobe1 = k1, nprobe2 = k1 * k2)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
    assert(everything.exceptAll(brute).count() == 0 &&
      brute.exceptAll(everything).count() == 0,
      "full-probe two-level IVF must equal brute force exactly")
  }

  test("two-level blocked dedup: found pairs are exactly-verified truth") {
    // verification inside the blocking is exact, so found ⊆ exact truth
    // with identical cosines — precision 1.0 by construction
    val truth = graft.ops.SimilarityKernel
      .cosineNearDupPairsKernelNorm(corpus, 0.4)
      .select("vec_a", "vec_b", "cosine_sim")
    val found = SimilarityOps
      .cosineNearDupPairsBlocked2NormWith(corpus, supers, k2, 0.4, 2)
      .select("vec_a", "vec_b", "cosine_sim")
    assert(found.count() > 0, "fixture has near-dup pairs above 0.4")
    assert(found.exceptAll(truth).count() == 0,
      "blocked2 emitted a pair the exact kernel does not confirm")
  }

  test("multi-probe two-level assignment emits ≤ nprobe cells per vector") {
    val nprobe = 2
    val multi = SimilarityOps.ivf2MultiAssignNorm(corpus, supers, k2, nprobe)
    val counts = multi.groupBy("vec_id").count().collect()
    assert(counts.forall(_.getLong(1) <= nprobe))
    assert(counts.length == corpus.count())
  }

  test("pruned probe returns at most k per query, ranked consistently") {
    val (children, assigned) = index
    val res = SimilarityOps.ivf2TopKNormWith(
        corpus, supers, children, assigned, Seq(0L, 1L), 5, 2, 4)
      .collect()
    val byQ = res.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.length <= 5)
      val sorted = rows.sortBy(_.getInt(3))
      // rank order must agree with (cosine DESC, neighbor ASC)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (ca, cb) = (a.getDouble(2), b.getDouble(2))
          assert(ca > cb || (ca == cb && a.getLong(1) < b.getLong(1)))
        case _ => ()
      }
    }
  }
}
