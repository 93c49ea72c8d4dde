package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the similarity hot path.
  *
  * `zip_with` + `aggregate` higher-order functions are interpreted (no
  * whole-stage codegen) — at n² candidate pairs the lambda-invocation
  * overhead dominates. This expression generates a tight primitive loop
  * instead. The fold order (left-to-right) is identical to the
  * higher-order formulation and the DuckDB oracle's list_sum, so results
  * stay bit-for-bit comparable.
  *
  * Preference order per SURVEY.md §2.10: built-ins first; a custom
  * `Expression` only where built-ins can't deliver the plan we need —
  * this is that case (scalar fn in the O(n²) inner loop).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> inputs, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass L2 normalization: out_i = x_i / sqrt(Σ x_j²), input
  * array<float> or array<double>, output array<double>.
  *
  * The declarative form — `transform(d, x => x / sqrt(graft_dot(d, d)))`
  * — re-evaluates the norm subtree PER ELEMENT (the lambda body can't be
  * subexpression-eliminated across elements), a 64× blow-up at dim 64
  * that dominated corpus staging. This expression computes the norm once
  * per row; the Σx² fold and the per-element division are in the same
  * left-to-right order as the declarative form and the DuckDB oracle's
  * list_sum, so normalized values are bit-identical (spec-asserted).
  * Array elements are assumed non-null (embedding vectors). A zero
  * vector has no direction: the result is NULL (ANSI-safe — the naive
  * x/0.0 is a DIVIDE_BY_ZERO error under Spark 4's default ANSI mode);
  * an empty array stays empty. */
case class ArrayL2Normalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_l2norm"

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) |
         ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${t.catalogString}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val d = new Array[Double](n)
    var i = 0
    if (elemIsFloat) while (i < n) { d(i) = x.getFloat(i).toDouble; i += 1 }
    else while (i < n) { d(i) = x.getDouble(i); i += 1 }
    var s = 0.0
    i = 0
    while (i < n) { s += d(i) * d(i); i += 1 }
    if (n > 0 && s == 0.0) null
    else {
      val nrm = math.sqrt(s)
      i = 0
      while (i < n) { d(i) = d(i) / nrm; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(d)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val nrm = ctx.freshName("nrm")
      val get = if (elemIsFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      s"""
         |int $n = $a.numElements();
         |double[] $d = new double[$n];
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $d[$i] = $get($i);
         |  $s += $d[$i] * $d[$i];
         |}
         |if ($n > 0 && $s == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $nrm = java.lang.Math.sqrt($s);
         |  for (int $i = 0; $i < $n; $i++) { $d[$i] = $d[$i] / $nrm; }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($d);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Top-`nprobe` nearest IVF cells of an embedding against a FIXED
  * centroid set, as one codegen'd expression: returns the array of the
  * `nprobe` centroid ids ranked by (cosine-rounded-6dp DESC,
  * centroid_id ASC) — exactly the ordering of the declarative
  * crossJoin + row_number() formulation it replaces, so cell
  * assignments (and therefore the DuckDB-mirrored blocking results)
  * are bit-identical. It serves both sides of an IVF index: the corpus
  * side's cell assignment and the query side's cell probe
  * (SimilarityOps.assignCellsNorm / probeCells).
  *
  * WHY: the declarative assignment materializes n × nCells rows and
  * SHUFFLES them through a per-vector window sort. With
  * corpus-following nCells (n/128) that is n²/128 rows — the 10×-decade
  * spot-check measured 42× on 10× data at 200k vectors. Here the
  * centroid matrix rides the plan as a referenced object (like
  * [[GraftBloomProbe]]'s sketch): the n·nCells·dim multiplies still
  * happen, but in a tight primitive loop with NO row materialization
  * and NO shuffle — the assignment stage becomes a narrow map.
  *
  * DRIVER BOUND: the matrix is nCells × dim doubles on the driver —
  * n/128 vectors of dim 64 is ~4 MB per million corpus rows. Past
  * ~10⁸ vectors, stage the assignment as a distributed ANN join
  * instead; for the IVF sizes this engine derives, the constant is
  * small.
  *
  * A null/absent embedding yields null (vector unassignable — the
  * declarative twin gave such rows arbitrary all-null-sim cells; real
  * corpora exclude zero vectors via l2norm's null). */
case class GraftNearestCells(cellIds: Array[Long], flatCents: Array[Double],
                             nprobe: Int, child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def prettyName: String = "graft_nearest_cells"
  override def toString: String =
    s"$prettyName(${cellIds.length} cells, $nprobe probes, $child)"
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.catalogString}")
  }

  // content equality (arrays in a case class default to reference
  // identity — would defeat plan canonicalization, the GraftBloomProbe
  // lesson)
  override def equals(other: Any): Boolean = other match {
    case o: GraftNearestCells =>
      java.util.Arrays.equals(cellIds, o.cellIds) &&
        java.util.Arrays.equals(flatCents, o.flatCents) &&
        nprobe == o.nprobe && child == o.child
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(
      Integer.valueOf(java.util.Arrays.hashCode(cellIds)),
      Integer.valueOf(java.util.Arrays.hashCode(flatCents)),
      Integer.valueOf(nprobe), child)

  /** Spark's round(x, 6) bit for bit: HALF_UP on the SHORTEST decimal
    * form (`BigDecimal.valueOf`, as Spark's Round codegen does), not the
    * exact binary value — at 5e-7 the exact value rounds to 0 and Spark
    * to 1e-6. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  override def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    val k = cellIds.length
    if (k == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val dim = flatCents.length / k
    val d = math.min(dim, emb.numElements())
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      var i = 0
      val off = c * dim
      while (i < d) { s += emb.getDouble(i) * flatCents(off + i); i += 1 }
      sims(c) = round6(s)
      c += 1
    }
    val take = math.min(nprobe, k)
    val out = new Array[Long](take)
    val taken = new Array[Boolean](k)
    var t = 0
    while (t < take) {
      var best = -1
      c = 0
      while (c < k) {
        // rank by (sim DESC, centroid_id ASC); centroids arrive sorted
        // by id, so first-strictly-greater keeps the id tie-break
        if (!taken(c) && (best < 0 || sims(c) > sims(best))) best = c
        c += 1
      }
      taken(best) = true
      out(t) = cellIds(best)
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftNearestCells", this,
      classOf[GraftNearestCells].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$self.nullSafeEval($a);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GraftNearestCells {
  /** `graft_nearest_cells(idsLit, flatCentroidsLit, nprobeLit, emb)` —
    * the literal arguments collapse into plan constants. */
  def fromArgs(es: Seq[Expression]): Expression = es match {
    case Seq(Literal(ids: ArrayData, ArrayType(LongType, _)),
             Literal(m: ArrayData, ArrayType(DoubleType, _)),
             Literal(np: Int, IntegerType), emb) =>
      GraftNearestCells(ids.toLongArray(), m.toDoubleArray(), np, emb)
    case _ => throw new IllegalArgumentException(
      "graft_nearest_cells(array<bigint> literal, array<double> literal, " +
        "int literal, emb) expected")
  }
}

/** Registration for graft's native functions — callable from any session
  * (runtime registry) or via spark.sql.extensions (injected). */
object GraftFunctions {
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => ArrayDotProduct(es.head, es(1))),
    "graft_l2norm" -> (es => ArrayL2Normalize(es.head)),
    "graft_md5long60" -> (es => Md5Long60(es.head)),
    "graft_shingles" -> (es => Shingles.fromArgs(es)),
    "graft_minhash" -> (es => MinHashAgg.fromArgs(es)),
    "graft_simhash" -> (es => SimHashExpr.fromArgs(es)),
    "graft_bloom_agg" -> (es => BloomFunctions.bloomAgg(es)),
    "graft_bloom_contains" -> (es => BloomFunctions.bloomContains(es)),
    "graft_nearest_cells" -> (es => GraftNearestCells.fromArgs(es)))

  /** Idempotent per-session registration (works under any driver-created
    * session — same pattern as Tables.events' runtime conf): a function
    * the session's registry already holds keeps its builder, so the
    * operators that call this on every frame they build register each
    * function once per session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}

/** SparkSessionExtensions hook: `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions` gives a session
  * every graft function plus the custom as-of join strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => ArrayDotProduct(es.head, es(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_l2norm"),
      new ExpressionInfo(classOf[ArrayL2Normalize].getName, "graft_l2norm"),
      (es: Seq[Expression]) => ArrayL2Normalize(es.head)))
    e.injectFunction((
      new FunctionIdentifier("graft_md5long60"),
      new ExpressionInfo(classOf[Md5Long60].getName, "graft_md5long60"),
      (es: Seq[Expression]) => Md5Long60(es.head)))
    e.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "graft_shingles"),
      (es: Seq[Expression]) => Shingles.fromArgs(es)))
    e.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "graft_minhash"),
      (es: Seq[Expression]) => MinHashAgg.fromArgs(es)))
    e.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (es: Seq[Expression]) => SimHashExpr.fromArgs(es)))
    e.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFunctions.type].getName, "graft_bloom_agg"),
      (es: Seq[Expression]) => BloomFunctions.bloomAgg(es)))
    e.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomFunctions.type].getName, "graft_bloom_contains"),
      (es: Seq[Expression]) => BloomFunctions.bloomContains(es)))
    e.injectFunction((
      new FunctionIdentifier("graft_nearest_cells"),
      new ExpressionInfo(classOf[GraftNearestCells].getName, "graft_nearest_cells"),
      (es: Seq[Expression]) => GraftNearestCells.fromArgs(es)))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}
