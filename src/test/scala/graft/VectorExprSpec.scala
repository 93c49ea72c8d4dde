package graft

import graft.ops.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native one-pass L2 normalize must be bit-identical to the
  * declarative HOF formulation (which is what the DuckDB oracle
  * mirrors) — on real fixture vectors and on edge shapes.
  */
class VectorExprSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("GraftFunctions.register registers each function once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    def graftFns = registry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).sorted
    def registered = graftFns.map { n =>
      val id = FunctionIdentifier(n)
      n -> ((registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get))
    }
    graft.functions.GraftFunctions.register(session)
    val first = registered
    assert(first.map(_._1).contains("graft_dot"))
    graft.functions.GraftFunctions.register(session)
    val again = registered
    assert(again.map(_._1) == first.map(_._1))
    first.zip(again).foreach { case ((n, (info, builder)), (_, (info2, builder2))) =>
      assert((info eq info2) && (builder eq builder2), s"$n was registered again")
    }
    assert(session.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .first().getDouble(0) == 11.0)
  }

  test("graft_l2norm is bit-identical to the HOF normalize on fixture embeddings") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val both = e.select(
      SimilarityOps.l2Normalize(col("embedding")).as("native"),
      SimilarityOps.l2NormalizeHof(col("embedding")).as("hof"))
    // element-wise EXACT double equality (bit parity, not tolerance)
    val diverging = both.filter(
      exists(zip_with(col("native"), col("hof"), (a, b) => a =!= b), x => x))
    assert(diverging.count() == 0)
  }

  test("graft_nearest_cells ranks every cell by the window rule it replaces") {
    graft.functions.GraftFunctions.register(spark)
    // all cells of `cents` per vector, by the expression and by
    // row_number() OVER (ORDER BY round(graft_dot(q, c), 6) DESC,
    // centroid_id ASC) — Spark's round, not the exact binary value
    def cellsBoth(corpus: DataFrame, cents: DataFrame) = {
      val rows = cents.orderBy("centroid_id").collect()
      val ids = rows.map(_.getLong(0)).toSeq
      val native = corpus.select(col("vec_id"),
          call_function("graft_nearest_cells", typedLit(ids),
            typedLit(rows.flatMap(_.getSeq[Double](1)).toSeq),
            lit(ids.size), col("n_emb")))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val w = Window.partitionBy(col("vec_id")).orderBy(
        round(call_function("graft_dot", col("n_emb"), col("c_emb")), 6).desc,
        col("centroid_id").asc)
      val window = corpus.crossJoin(cents)
        .withColumn("rn", row_number().over(w))
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("rn"), col("centroid_id"))))
          .getField("centroid_id").as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      (native, window)
    }
    val fixture = SimilarityOps.normalizedCorpus(
        Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .filter(col("n_emb").isNotNull).cache()
    val (fn, fw) = cellsBoth(fixture,
      SimilarityOps.ivfCentroidsNorm(fixture, 16))
    assert(fn.size == fixture.count() && fn == fw)
    fixture.unpersist()
    // exact cosine tie: 0.6 to both centroids, the smaller id first
    val (tn, tw) = cellsBoth(Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "n_emb"),
      Seq((7L, Seq(0.6, 0.8)), (3L, Seq(0.6, -0.8))).toDF("centroid_id", "c_emb"))
    assert(tn == Map(0L -> Seq(3L, 7L)) && tn == tw)
    // 5e-7 rounds up to 1e-6 in Spark and so ties centroid 2
    val (rn, rw) = cellsBoth(Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "n_emb"),
      Seq((1L, Seq(5e-7, 1.0)), (2L, Seq(1e-6, 1.0))).toDF("centroid_id", "c_emb"))
    assert(rw == Map(0L -> Seq(1L, 2L)) && rn == rw)
  }

  test("graft_l2norm edge shapes: zero vector, empty array, null input") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (1L, Some(Seq(0.0f, 0.0f))), // zero vector: no direction -> null
      (2L, Some(Seq.empty[Float])), // empty stays empty
      (3L, None) // null row propagates null
    ).toDF("id", "v")
    val out = df.select(col("id"),
        SimilarityOps.l2Normalize(col("v")).as("n"),
        SimilarityOps.l2NormalizeHof(col("v")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getSeq[Double](1)), Option(r.getSeq[Double](2)))).toMap
    assert(out(1)._1.isEmpty && out(1)._2.isEmpty)
    assert(out(2)._1.get.isEmpty && out(2)._2.get.isEmpty)
    assert(out(3)._1.isEmpty && out(3)._2.isEmpty)
  }
}
