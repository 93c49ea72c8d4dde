package graft

import graft.ops.{ClassifierOps, RetrievalOps, SimilarityOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs for the retrieval / classifier / JL wave: every
  * path must degrade to a principled empty, a prior-only score, or an
  * exact zero — never crash, fabricate, or divide by nothing.
  */
class DegenerateWave3Spec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("BM25 with a query of entirely unseen terms returns no candidates") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val posts = RetrievalOps.bm25Postings(docs)
    val qterms = Seq((9L, "zzz"), (9L, "qqq")).toDF("query_id", "token")
    val stats = RetrievalOps.bm25Stats(posts)
    assert(RetrievalOps.bm25TopKWith(posts, stats,
      RetrievalOps.bm25Idf(posts, stats), qterms, 5,
      includeSelf = true).count() == 0)
  }

  test("BM25 postings of an empty corpus are empty; stats row still exists") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val posts = RetrievalOps.bm25Postings(empty)
    assert(posts.count() == 0)
    // the one-row stats aggregate must not blow up on the empty input
    val st = RetrievalOps.bm25Stats(posts).collect()
    assert(st.length == 1 && st(0).getLong(0) == 0L)
  }

  test("RRF fusion of disjoint rankings keeps both sides, ranks all") {
    val a = Seq((1L, 10L, 0.9, 1)).toDF("query_id", "neighbor_id", "s", "rank")
    val b = Seq((1L, 20L, 0.8, 1)).toDF("query_id", "neighbor_id", "s", "rank")
    val fused = RetrievalOps.rrfFuse2(a, "0.5", b, "0.5", 5)
      .orderBy("rank").collect()
    assert(fused.length == 2)
    // equal single-source contributions at rank 1 → tie broken by id
    assert(fused(0).getLong(1) == 10L && fused(1).getLong(1) == 20L)
    assert(fused(0).getDouble(2) == fused(1).getDouble(2))
  }

  test("self-retrieval eval scores a query with NO ranked rows as rr=0") {
    val ranked = Seq((1L, 1L, 0.9, 1)).toDF("query_id", "neighbor_id", "s", "rank")
    val row = RetrievalOps.selfRetrievalEval(ranked, Seq(1L, 2L), "t")
      .head()
    assert(row.getLong(1) == 2L)   // n_queries counts the absent query
    assert(row.getLong(2) == 1L)   // only query 1 hit itself at rank 1
    assert(row.getDouble(3) == 0.5) // mean(1.0, 0.0)
  }

  test("NB scores a doc of entirely out-of-vocabulary tokens by priors") {
    val train = Seq((1L, "aa bb", "en"), (2L, "cc dd", "de"))
      .toDF("doc_id", "text", "lang")
    val target = Seq((9L, "zz yy", "en")).toDF("doc_id", "text", "lang")
    val sc = ClassifierOps.scores(train, target, "lang")
      .orderBy("label").collect()
    assert(sc.length == 2)
    val priors = ClassifierOps.modelStats(train, "lang")
      .orderBy("label").collect().map(_.getAs[Double]("prior"))
    // all tokens OOV → score = prior exactly (rounded in decimal space)
    sc.zip(priors).foreach { case (r, p) =>
      assert(math.abs(r.getAs[Double]("score") - p) < 1e-6)
    }
  }

  test("NB margin filter on a two-class tie is NOT selected (strict win)") {
    // symmetric training data → symmetric scores for a symmetric doc
    val train = Seq((1L, "aa", "en"), (2L, "bb", "de"))
      .toDF("doc_id", "text", "lang")
    val target = Seq((9L, "aa bb", "en")).toDF("doc_id", "text", "lang")
    val mf = ClassifierOps.marginFilter(train, target, "lang", "en")
      .head()
    assert(mf.getAs[Double]("margin") == 0.0)
    assert(mf.getAs[Int]("selected") == 0)
  }

  test("JL projection of the zero vector is exactly +0.0 everywhere") {
    val emb = Seq((1L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val row = SimilarityOps.jlProject(emb, SimilarityOps.jlMatrix(16, 64))
      .head()
    (0 until 16).foreach { j =>
      val v = row.getAs[Double](s"p$j")
      assert(v == 0.0 &&
        java.lang.Double.doubleToRawLongBits(v) == 0L,
        s"p$j must be +0.0, got $v")
    }
  }

  test("JL matrix entries are exactly ±1/√k and the shape is k×d") {
    val m = SimilarityOps.jlMatrix(16, 64)
    assert(m.length == 16 && m.forall(_.length == 64))
    assert(m.flatten.forall(v => v == 0.25 || v == -0.25))
    // both signs actually occur (a constant matrix preserves nothing)
    assert(m.flatten.distinct.toSet == Set(0.25, -0.25))
  }
}
