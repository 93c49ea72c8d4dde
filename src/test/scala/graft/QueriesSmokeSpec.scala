package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs against the smallest fixture and returns
  * a sane schema; queries with planted expectations return rows. Keeps
  * the full registry executable as a unit (the DuckDB value check is the
  * driver's Verify/check gate).
  *
  * This pass is also where plans are linted: each per-query test takes
  * the formatted plan of the frame it constructs and runs the
  * [[PlanLint]] checks on it, and the registry-wide lint checks run
  * after the loop over the plans it recorded. Two queries are outside
  * the loop. `pipeline_e2e` returns a one-row LocalRelation and
  * `streaming_ohlc_hourly` a read of its memory-sink table; the plans
  * that do their work (the OHLC bars and the reconcile join) are linted
  * live by LivePlanSpec's OHLC-bars and reconcile-broadcast tests.
  */
class QueriesSmokeSpec extends AnyFunSuite with SparkTestBase
    with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  // streaming + pipeline queries have their own slower paths; smoke the
  // rest here and those two in dedicated tests below.
  private val slow = Set("streaming_ohlc_hourly", "pipeline_e2e")
  private val smoked = SparkEntry.registry.filterNot(q => slow(q.name))

  // query -> its formatted plan, as the per-query pass constructed it
  private val plans = scala.collection.mutable.Map.empty[String, String]

  // a frame an earlier suite cached shows in a plan as an
  // InMemoryRelation; start from no staged entry and no cached frame, so
  // the plan text does not depend on which suites ran before (see
  // LivePlanSpec)
  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.queries.Staged.clearSession(spark)
    spark.catalog.clearCache()
  }

  // the session confs a query must leave as it found them; Tables.events
  // sets nanosAsLong for the session on purpose
  private def confs(): Map[String, String] =
    spark.conf.getAll - "spark.sql.legacy.parquet.nanosAsLong"

  smoked.foreach { q =>
    test(s"query ${q.name} executes at sf0.001") {
      val before = confs()
      val df = q.fn(spark, sf)
      val plan = df.queryExecution.explainString(FormattedMode)
      plans(q.name) = plan
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      val after = confs()
      assert(after == before, s"${q.name} left session confs changed: " +
        (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
          .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
      val unlisted = PlanLint.hasNestedLoopJoin(plan) &&
        !PlanLint.BoundedNonEquiJoins.contains(q.name)
      assert(!unlisted,
        s"unexplained non-equi join plan in ${q.name} — either key the " +
          "join on an equality (bucketing/blocking) or argue the bound and " +
          s"whitelist it in PlanLint:\n$plan")
      val bad = PlanLint.quadraticFrames(plan)
      assert(bad.isEmpty, s"O(n²) frame(s) in ${q.name}: $bad")
    }
  }

  /** The recorded plan of `name`; the registry-wide lints need the
    * whole per-query pass to have run first. */
  private def planOf(name: String): String =
    plans.getOrElse(name, fail(s"$name was not planned by the per-query " +
      "pass (the registry-wide plan lints need the whole suite)"))

  test("plan lint: the frame regex still matches some live plan") {
    // self-check against silent drift in the plan spelling: the allowed
    // whole-partition frame must still be recognizable, else the
    // per-query frame lint has gone vacuous
    val plansAll = smoked.map(q => planOf(q.name))
    assert(plansAll.exists(PlanLint.UnboundedFollowingFrame.findFirstIn(_).isDefined),
      "no unbounded-following frames matched at all — FormattedMode " +
        "spelling changed; update the lint regex")
  }

  test("plan lint: the whitelist names only registered queries") {
    val registered = SparkEntry.registry.map(_.name).toSet
    val stale = PlanLint.BoundedNonEquiJoins.keySet.filterNot(registered)
    assert(stale.isEmpty, s"whitelisted but not registered: $stale")
  }

  test("plan lint: every whitelisted query plans a nested-loop join") {
    val unused = PlanLint.BoundedNonEquiJoins.keys.toSeq.sorted
      .filterNot(n => PlanLint.hasNestedLoopJoin(planOf(n)))
    assert(unused.isEmpty,
      s"whitelisted but planned without a nested-loop join: $unused — " +
        "drop the entries so they cannot cover a later regression")
  }

  test("plan lint: dedup_embedding_cosine is hash-joined, never cartesian") {
    val cosine = planOf("dedup_embedding_cosine")
    // the candidate join must be an equality join on the cell id — a
    // SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin node, never a
    // vec_id < vec_id nested loop over the full corpus on both sides
    assert(!cosine.contains("CartesianProduct"),
      "headline embedding dedup degenerated to a cartesian join")
    val hashJoins = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    assert(hashJoins.exists(cosine.contains),
      "expected an equality-keyed candidate join in dedup_embedding_cosine")
  }

  test("entry: flagship query returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("streaming twin matches the batch hourly bars exactly") {
    val stream = graft.streaming.StreamingOhlc
      .hourlyOhlcAvailableNow(spark, sf, "smoke_stream")
    val batch = SparkEntry.queries("ohlc_hourly")(spark, sf)
    assert(stream.count() > 0)
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty)
  }

  test("pipeline E2E produces consistent stage counts") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_pipe_test").toString
    val r = graft.pipeline.Pipeline.runDaily(spark, sf, work)
    assert(r.warehouseRows == 1000L)
    assert(r.csvRoundtripRows == 1000L)
    assert(r.invalidRows == 0L)
    assert(r.missingSymbols == 1L) // the planted GHOST symbol
    assert(r.partitions == 30L)    // one per trading day in January
    assert(r.hourlyBars > 0L && r.reconcileRows > 0L)
  }

  test("streaming stateful sessionization: closed sessions equal batch minus open tails") {
    import org.apache.spark.sql.functions._
    val closed = graft.ops.SessionOps
      .sessionizeStreamAvailableNow(spark, sf, 30, "smoke_sessions")
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
    val batch = graft.ops.SessionOps.sessionize(Tables.events(spark, sf), 30)
    // a user's LAST session is still open in the stream (no event-time
    // timeout fired) — everything before it must match exactly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("session_seq").desc)
    val batchClosed = batch
      .withColumn("rn", row_number().over(w)).filter(col("rn") > 1)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"), col("n_events"))
    assert(closed.count() > 0)
    assert(closed.except(batchClosed).isEmpty && batchClosed.except(closed).isEmpty)
  }

  test("streaming foreachBatch QC sinks mirror the batch reports") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files
      .createTempDirectory("graft_stream_qc").toString
    val (_, summaryDir) = graft.streaming.StreamingQc
      .runAvailableNow(spark, sf, work)
    val summary = spark.read.parquet(summaryDir)
      .groupBy(col("symbol"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_invalid")).as("n_invalid"))
    val batch = graft.ops.QualityOps.invalidSummary(
      graft.ops.TickOps.normalizeEvents(Tables.events(spark, sf)),
      Seq("price", "qty", "trader_id"), "symbol")
    assert(summary.except(batch).isEmpty && batch.except(summary).isEmpty)
  }

  test("every oracled query has matching column conventions") {
    // oracle keys ⊆ query keys; no oracle without a query
    val qnames = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qnames))
  }
}
