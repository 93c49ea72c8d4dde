package graft

import graft.ops.{QualityOps, SimilarityOps, TickOps}
import graft.queries.Staged
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

/** LIVE plan-quality assertions: lock in the physical properties the
  * 100 TB design depends on by compiling the actual current plans, so a
  * refactor that silently adds a shuffle or loses a broadcast/pushdown
  * fails CI immediately. Complements the registry-wide [[PlanLint]]
  * checks QueriesSmokeSpec runs on every query's plan: this spec pins
  * the critical shapes of chosen plans, including the OHLC-bars and
  * reconcile joins of the two queries outside that pass.
  */
class LivePlanSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.write.format("noop").mode("overwrite").save() // finalize AQE plan
    df.queryExecution.executedPlan.toString
  }

  test("OHLC bars = exactly one hash exchange (map-side partial agg)") {
    // order-independence: if another suite in this JVM already cached an
    // identical frame (Staged artifacts), the plan under test renders as
    // an InMemoryRelation wrapper whose EMBEDDED build plan double-counts
    // the exchange scan below — assert on a cache-free plan.
    // Staged.clearSession (NOT spark.catalog.clearCache) so the staged
    // memos are dropped along with their cached blocks: a bare
    // clearCache leaves the memos returning now-uncached frames and
    // every later suite silently recomputes staged builds per action.
    graft.queries.Staged.clearSession(spark)
    // ...and the catalog cache too: a frame cached outside the Staged
    // registry by a prior suite in this JVM would substitute its
    // InMemoryRelation into the plan under test, whose printed AQE
    // initial+final sections double-count the exchange.
    // Order matters: memos are dropped FIRST, so nothing keeps
    // returning silently-uncached frames afterwards.
    spark.catalog.clearCache()
    val bars = TickOps.ohlcBars(
      TickOps.normalizeEvents(Tables.events(spark, sf)), "1 hour")
    val plan = executedPlan(bars)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("HashAggregate"),
      "expected partial aggregation before the exchange")
  }

  test("reconciliation joins broadcast the small official side") {
    val t = TickOps.normalizeEvents(Tables.events(spark, sf))
    val daily = TickOps.dailyOhlc(t)
    val recon = QualityOps.reconcile(daily, daily, Seq("trade_date", "symbol"))
    val plan = executedPlan(recon)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("filters and projections reach the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]"),
      s"expected pushed filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"expected pruned read schema:\n$plan")
  }

  test("Q5 local-supplier join: dims broadcast, only fact-key joins shuffle") {
    val df = SparkEntry.queries("q5_local_supplier_volume")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q5 degenerated to a non-equi join:\n$plan")
    // the structural property (derived from the plan's own join count,
    // not a pinned exchange tally that AQE/threshold/Spark-version
    // changes would flip without a semantic regression): of all the
    // joins in the plan, at most ONE — lineitem⨝orders, the only
    // fact-fact pair — may be a shuffle join; every other join (the
    // region-pruned dims) must ride a broadcast at any corpus scale
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    val shuffled = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length
    assert(bhj + shuffled >= 4, s"Q5 lost joins entirely:\n$plan")
    assert(shuffled <= 1,
      s"expected at most 1 shuffle join (fact⨝fact), got $shuffled of ${bhj + shuffled}:\n$plan")
  }

  test("Q19 disjunctive predicate: derived supersets push to BOTH scans") {
    val df = SparkEntry.queries("q19_disjunctive_filter")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the exact OR-of-ANDs mixes columns from both sides and cannot be
    // pushed whole; the scale property is that each side's derived
    // predicate SUPERSET reaches its parquet scan, so both inputs
    // prune before the join at any corpus size
    assert(plan.contains("PushedFilters: [Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"lineitem quantity-range superset not pushed:\n$plan")
    assert(plan.contains("PushedFilters: [Or(Or(And(EqualTo(p_brand,Brand#1)"),
      s"part brand/size superset not pushed:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q19 degenerated to a non-equi join:\n$plan")
  }

  test("Q2 argmin window runs over the aggregate, never raw fact rows") {
    val df = SparkEntry.queries("q2_min_cost_supplier")(spark, sf)
    val plan = executedPlan(df)
    // the per-part winner window must consume the per-(part,supplier)
    // HashAggregate output (bounded by |parts|×|suppliers|), not the
    // fact table: a Window directly over the scan would sort all of
    // lineitem at 100 TB
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, s"expected a window operator:\n$plan")
    assert(plan.substring(winIdx).contains("HashAggregate"),
      s"window input is not the per-supplier aggregate:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"expected broadcast-only joins at fixture scale:\n$plan")
  }

  test("hot aggregation queries stay inside whole-stage codegen") {
    // The queries that dominate bench wall-clock must keep their scan →
    // filter → project → partial-agg pipelines fused. A custom
    // expression or operator change that silently drops one of these
    // plans out of codegen is a 2-5× regression at 100 TB before any
    // logic bug shows. (An unexecuted plan can't carry this check: AQE
    // assigns codegen ids only at execution — so it executes here.)
    Seq("q1_pricing_summary", "ohlc_daily", "revenue_by_nation",
      "token_count", "order_stats").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      // collect() executes df's OWN QueryExecution, so AQE finalizes
      // THIS plan (a noop write would wrap the logical plan in a fresh
      // write command and leave df.queryExecution un-executed)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // codegen'd stages print as "*(n) Operator" in the plan string
      assert(plan.contains("*(1)"),
        s"$n executed without any whole-stage-codegen span:\n$plan")
    }
  }

  test("top-k plans as TakeOrderedAndProject, never a full global sort") {
    val top = ops.RelationalOps.topCustomers(
      Tables.orders(spark, sf), Tables.customer(spark, sf), 10)
    val plan = executedPlan(top)
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("key filter pushes through the custom as-of node to both scans") {
    val t = TickOps.normalizeEvents(Tables.events(spark, sf))
      .select(col("symbol"), col("event_ts"), col("price"))
    val probes = TickOps.ohlcBars(
        TickOps.normalizeEvents(Tables.events(spark, sf)), "1 hour")
      .select(col("symbol"), col("bar_start").as("event_ts"))
    val joined = ops.AsOfOps.asofJoinNative(t, probes, "symbol", "event_ts", "price")
    val filtered = joined.filter(col("symbol") === "click")
    val optimized = filtered.queryExecution.optimizedPlan.toString
    // the Filter must sit BELOW AsOfJoinNode after optimization
    val nodeIdx = optimized.indexOf("AsOfJoinNode")
    val filtIdx = optimized.indexOf("Filter (symbol")
    assert(nodeIdx >= 0)
    assert(!optimized.substring(0, math.max(nodeIdx, 0)).contains("= click"),
      s"filter not pushed below the as-of node:\n$optimized")
    assert(optimized.indexOf("= click", nodeIdx) > 0,
      s"pushed filter missing under the node:\n$optimized")
    // and results match the unpushed semantics
    val expected = ops.AsOfOps.asofJoin(t, probes, "symbol", "event_ts", "price")
      .filter(col("symbol") === "click")
    assert(filtered.except(expected).isEmpty && expected.except(filtered).isEmpty)
    assert(filtered.count() > 0)
  }

  test("parameterized bar filters push to the warehouse scan") {
    // the warehouse shape (Pipeline E1): normalized ticks as parquet with
    // a real timestamp column — the fixture's nanos-long shim is gone, so
    // the dag_run-style time-range + symbol predicates must reach the scan
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_plan_wh"
    TickOps.normalizeEvents(Tables.events(spark, sf))
      .write.mode("overwrite").parquet(wh)
    val bars = TickOps.ohlcBarsFiltered(spark.read.parquet(wh), "15 minutes",
      Seq("click", "view"), "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    val plan = executedPlan(bars)
    assert(plan.contains("GreaterThanOrEqual(event_ts"),
      s"expected pushed lower time bound:\n$plan")
    assert(plan.contains("LessThan(event_ts"),
      s"expected pushed upper time bound:\n$plan")
    assert(plan.contains("In(symbol"),
      s"expected pushed symbol set:\n$plan")
  }

  test("banded screens never go all-pairs (no cartesian product)") {
    val docs = Tables.documents(spark, sf)
    val pairs = ops.DedupOps.simhashHammingPairs(docs, 32, 4, 3)
    val pairsPlan = executedPlan(pairs)
    assert(!pairsPlan.contains("CartesianProduct"),
      s"simhash pair screen degenerated to all-pairs:\n$pairsPlan")

    val lsh = ops.SimilarityOps.lshTopK(
      Tables.embeddings(spark, sf), Seq(0L, 1L), 5, 16, 4)
    val lshPlan = executedPlan(lsh)
    assert(!lshPlan.contains("CartesianProduct"),
      s"LSH candidate join degenerated to all-pairs:\n$lshPlan")
    // the only nested-loop join allowed is the broadcast of the tiny
    // plane/centroid set; the candidate join itself must be hash-keyed
    assert(lshPlan.contains("BroadcastHashJoin") ||
      lshPlan.contains("ShuffledHashJoin") || lshPlan.contains("SortMergeJoin"),
      s"expected an equality-keyed candidate join:\n$lshPlan")

    // the blocked embedding near-dup: candidate generation must be
    // equality-keyed on the cell id — the only non-equi join allowed is
    // the broadcast of the 16-row centroid set
    val blocked = ops.SimilarityOps.cosineNearDupPairsBlocked(
      Tables.embeddings(spark, sf), 0.4, 16, 2)
    val bPlan = executedPlan(blocked)
    assert(!bPlan.contains("CartesianProduct"),
      s"blocked near-dup degenerated to all-pairs:\n$bPlan")
    assert(bPlan.contains("BroadcastHashJoin") ||
      bPlan.contains("ShuffledHashJoin") || bPlan.contains("SortMergeJoin"),
      s"expected an equality-keyed candidate join:\n$bPlan")

    // the video sequence screen: candidates must stay equality-keyed on
    // the cross-frame (n_frames, group, hash) key — the frame dimension
    // must not push the join into a non-equi form
    val vh = ops.MultimodalOps.perFrameDHash(
      ops.MultimodalOps.encodeNearDupGifMedia(docs)).toDF()
    val vPairs = ops.DedupOps.hammingSeqPairs(
      vh.select(col("media_id"), col("n_frames"), col("frame_idx"),
        col("dhash").as("sig")), 56, 4, 8, minFrames = 3)
    val vPlan = executedPlan(vPairs)
    assert(!vPlan.contains("CartesianProduct"),
      s"video sequence pair screen degenerated to all-pairs:\n$vPlan")

    // the audio fingerprint screen (4×14-bit bands): same contract
    val afp = ops.MultimodalOps.audioFingerprint(
      ops.MultimodalOps.encodeNearDupWavMedia(docs)).toDF()
    val aPairs = ops.DedupOps.simhashHammingPairsFromSigs(
      afp.select(col("media_id").as("doc_id"), col("fp").as("simhash")),
      nBits = 56, nBands = 4, maxHamming = 3)
    val aPlan = executedPlan(aPairs)
    assert(!aPlan.contains("CartesianProduct"),
      s"audio fingerprint pair screen degenerated to all-pairs:\n$aPlan")
  }

  test("catalog warehouse query: bucketed layout keeps agg + join exchange-free") {
    // warehouse_catalog aggregates the bucketed tick table by
    // (symbol, trade_date) and joins the co-bucketed daily dim on the
    // same keys: with HashPartitioning(symbol) satisfying both
    // clusterings, the ONLY exchange allowed is the final orderBy's
    // range partitioning — a hash exchange means the bucketed layout
    // (the reference's index equivalent) stopped being used
    val df = SparkEntry.queries("warehouse_catalog")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed warehouse plan re-shuffled:\n$plan")
    // the fact-table scan must actually USE the bucketed layout (it
    // feeds the (symbol, trade_date) aggregate with no exchange); the
    // dim side may legitimately broadcast instead of SMJ — both are
    // exchange-free on the fact table
    assert(plan.contains("Bucketed: true"),
      s"expected the bucketed tick scan in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"expected a join operator in:\n$plan")
    spark.sql("DROP TABLE IF EXISTS graft_wh_ticks")
    spark.sql("DROP TABLE IF EXISTS graft_wh_daily")
  }

  test("per-group top-N rank filter plans as WindowGroupLimit, not filter-after-full-window") {
    val mix = SparkEntry.queries("corpus_mix")(spark, sf)
    val plan = executedPlan(mix)
    assert(plan.contains("WindowGroupLimit"),
      s"expected the rank<=N filter pushed into a per-group limit:\n$plan")
  }

  test("quantization is a narrow map; profiling is one scan") {
    // int8 quantization must not shuffle — codes are per-row
    val quant = ops.SimilarityOps.quantizeInt8(Tables.embeddings(spark, sf))
    val qPlan = executedPlan(quant)
    assert(!qPlan.contains("Exchange"),
      s"quantization should be shuffle-free:\n$qPlan")
    // profile_events computes all columns' stats from ONE scan of the
    // events table (the stack() unpivot must not multiply the source)
    val prof = SparkEntry.queries("profile_events")(spark, sf)
    val pPlan = executedPlan(prof)
    val scans = "Scan parquet".r.findAllIn(pPlan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$pPlan")
  }

  test("whole-stage codegen covers the normalize pipeline") {
    val t = TickOps.normalizeEvents(Tables.events(spark, sf))
    val plan = executedPlan(t)
    // codegen'd stages print as "*(n) Operator" in the plan string
    assert(plan.contains("*(1)"), s"expected codegen span:\n$plan")
  }

  test("decontamination broadcasts the benchmark side; corpus never all-pairs") {
    val plan = executedPlan(
      SparkEntry.queries("decontaminate_ngram")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingle set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"the corpus side must stream through a broadcast hash join:\n$plan")
    graft.queries.Staged.clearSession(spark)
  }

  test("chunking/RSI shuffle once on their shard key before the output sort") {
    // corpus_chunks: one hash exchange (the shard window) + the final
    // range exchange for orderBy — nothing else
    val cPlan = executedPlan(SparkEntry.queries("corpus_chunks")(spark, sf))
    val cHash = "Exchange hashpartitioning".r.findAllIn(cPlan).length
    assert(cHash == 1, s"expected 1 shard shuffle, got $cHash:\n$cPlan")
    // rsi_14: both window passes share the (symbol) partitioning — one
    // hash exchange total, the second WindowExec rides the same sort
    val rPlan = executedPlan(SparkEntry.queries("rsi_14")(spark, sf))
    val rHash = "Exchange hashpartitioning".r.findAllIn(rPlan).length
    assert(rHash == 1, s"expected 1 symbol shuffle, got $rHash:\n$rPlan")
  }

  test("Q3 shape: filters pushed to scans, dim broadcast, top-k never full-sorts") {
    val plan = executedPlan(SparkEntry.queries("q3_shipping_priority")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must not global-sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered customer side must broadcast:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem date filter must reach the parquet scan:\n$plan")
  }

  test("compaction writes one shuffle keyed on the partition column") {
    val frag = s"${System.getProperty("java.io.tmpdir")}/graft_plan_frag"
    graft.util.Fs.deleteRec(frag)
    TickOps.normalizeEvents(Tables.events(spark, sf))
      .withColumn("trade_date", to_date(col("event_ts")))
      .repartition(8).write.partitionBy("trade_date").parquet(frag)
    // the op's OWN pre-write frame, not a hand-built lookalike — a
    // change to compactPartitions' clustering fails here
    val df = ops.WarehouseOps.compactionPlan(spark, frag)
    val plan = df.queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning\\(trade_date".r.findAllIn(plan).length
    assert(hash == 1,
      s"expected exactly the partition-key exchange, got $hash:\n$plan")
    graft.util.Fs.deleteRec(frag)
  }

  test("Q13: zero-group left join rides a decorrelated pre-aggregate, no cartesian") {
    val df = SparkEntry.queries("q13_customer_distribution")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q13 degenerated to a non-equi join:\n$plan")
    // decorrelation visible: the orders side is pre-aggregated on its
    // own key BELOW the outer join (a correlated count would re-scan
    // orders per customer; the naive inner-join+group drops zero rows)
    val joinIdx = math.max(plan.indexOf("SortMergeJoin"),
      math.max(plan.indexOf("ShuffledHashJoin"), plan.indexOf("BroadcastHashJoin")))
    assert(joinIdx >= 0, s"expected a join operator:\n$plan")
    assert(plan.indexOf("HashAggregate", joinIdx) > 0,
      s"expected the fact pre-aggregate below the join:\n$plan")
    assert(plan.contains("LeftOuter") || plan.contains("RightOuter"),
      s"expected an outer join (zero-groups kept):\n$plan")
  }

  test("Q17: correlated avg decorrelates to broadcast threshold joins") {
    val df = SparkEntry.queries("q17_small_quantity_revenue")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q17 degenerated to a non-equi join:\n$plan")
    // both the brand part-key set and the per-part threshold table are
    // part-bounded: each must broadcast; a shuffle join here means the
    // correlated subquery turned into a fact-side shuffle at 100 TB
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 2, s"expected 2+ broadcast joins (keys + thresholds), got $bhj:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"Q17 must not shuffle the fact for a part-bounded threshold:\n$plan")
  }

  test("Q21: EXISTS/NOT-EXISTS share one order-key profile, dims broadcast") {
    val df = SparkEntry.queries("q21_waiting_suppliers")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q21 degenerated to a non-equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"supplier⨝nation must broadcast into the fact:\n$plan")
    // the round-11 two-pass shape: facts collapse to DISTINCT
    // (order, supplier) pairs in a partial-agg'd HashAggregate — NO
    // Expand (the double-countDistinct form duplicated every fact row
    // per distinct column; ×10 measured 6.7× from it) — and both
    // per-order profiles are windows over that one pair exchange
    assert(!plan.contains("Expand"),
      s"the countDistinct Expand is back:\n$plan")
    assert(plan.contains("HashAggregate(keys=[l_orderkey") &&
      plan.contains("Window"),
      s"expected the pair-collapse aggregate + order-key windows:\n$plan")
    // exchanges stay bounded: pair agg + window partitioning + the
    // final s_name agg; anything above that means the reuse broke
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hash <= 4, s"expected ≤4 hash exchanges, got $hash:\n$plan")
  }

  test("Q22: scalar avg broadcasts as a 1-row cross; anti-join stays hash-keyed") {
    val df = SparkEntry.queries("q22_dormant_customers")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"),
      s"Q22 must not plan a cartesian product:\n$plan")
    // the ONLY nested-loop allowed is the broadcast of the 1-row avg
    // scalar (that is what decorrelating an uncorrelated scalar
    // subquery should produce); the NOT-EXISTS must be an equality
    // anti-join on custkey
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"expected at most the 1-row scalar BNLJ, got $bnlj:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"expected the dormancy anti-join:\n$plan")
    // the recent-orders date filter must prune the anti side's scan
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"anti-side date filter must reach the orders scan:\n$plan")
  }

  test("Q11/Q15: global-scalar thresholds ride a 1-row broadcast cross, no cartesian") {
    Seq("q11_important_parts", "q15_top_supplier").foreach { n =>
      val plan = executedPlan(SparkEntry.queries(n)(spark, sf))
      assert(!plan.contains("CartesianProduct"),
        s"$n planned a cartesian product:\n$plan")
      // the only nested-loop allowed is the broadcast of the 1-row
      // global aggregate (threshold / max) — decorrelating an
      // uncorrelated scalar subquery
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(bnlj <= 1, s"$n: expected at most the 1-row scalar BNLJ, got $bnlj:\n$plan")
    }
  }

  test("Q16/Q20: exclusion and membership stay broadcast anti/semi joins") {
    val p16 = executedPlan(SparkEntry.queries("q16_supplier_count")(spark, sf))
    assert(p16.contains("LeftAnti"),
      s"Q16 NOT IN must decorrelate to an anti-join:\n$p16")
    assert(!p16.contains("CartesianProduct") &&
      !p16.contains("BroadcastNestedLoopJoin"),
      s"Q16 degenerated to a non-equi join:\n$p16")
    val p20 = executedPlan(SparkEntry.queries("q20_promo_heavy_suppliers")(spark, sf))
    assert(p20.contains("LeftSemi"),
      s"Q20 IN must decorrelate to a semi-join:\n$p20")
    assert(!p20.contains("CartesianProduct") &&
      !p20.contains("BroadcastNestedLoopJoin"),
      s"Q20 degenerated to a non-equi join:\n$p20")
  }

  test("consulted join-size estimate flips broadcast vs shuffle on a real pair") {
    // orders⋈customer estimated by the CMS sketch, its OUTPUT joined
    // into lineitem: the same consulted number must produce a broadcast
    // second join when it fits the limit and a shuffle join when it
    // doesn't — the join_size_est artifact actually driving a plan.
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    val (planB, est, choseB) = ops.RelationalOps.estimateAdvisedJoin(
      orders, "o_custkey", customer, "c_custkey",
      lineitem, "l_orderkey", "o_orderkey", 5, 256,
      broadcastRowLimit = 10000000L)
    assert(est > 0, "sketch estimate must be positive on the fixture")
    assert(choseB, s"estimate $est should fit the 10M broadcast limit")
    val pB = executedPlan(planB)
    val bIdx = pB.indexOf("BroadcastHashJoin [l_orderkey")
    assert(bIdx >= 0, s"second join must broadcast the estimated-small result:\n$pB")

    val (planS, est2, choseS) = ops.RelationalOps.estimateAdvisedJoin(
      orders, "o_custkey", customer, "c_custkey",
      lineitem, "l_orderkey", "o_orderkey", 5, 256,
      broadcastRowLimit = 0L)
    assert(est2 == est, "the consulted number is deterministic")
    assert(!choseS)
    val pS = executedPlan(planS)
    assert(pS.contains("SortMergeJoin [l_orderkey") ||
      pS.contains("ShuffledHashJoin [l_orderkey"),
      s"declined broadcast must shuffle the second join:\n$pS")
  }

  test("grouping sets plan as one Expand + one aggregation shuffle") {
    val plan = executedPlan(SparkEntry.queries("sql_grouping_sets")(spark, sf))
    assert(plan.contains("Expand"), s"expected Expand for grouping sets:\n$plan")
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hash == 1,
      s"all grouping-set granularities must share one shuffle, got $hash:\n$plan")
  }

  // ── staged serving indexes: queries probe, they do not rebuild ──

  /** Every node of a physical plan, through AQE and its query stages,
    * but not into a cached relation's build plan: a staged index's
    * build is not part of the query that probes it. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case r: ReusedExchangeExec => r +: planNodes(r.child)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** The executed plan of a query, run to completion (final AQE plan). */
  private def ranPlan(name: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    planNodes(df.queryExecution.executedPlan)
  }

  private def cacheScans(nodes: Seq[SparkPlan]) =
    nodes.collect { case i: InMemoryTableScanExec => i.relation.cacheBuilder }

  test("ann_topk_ivf2 probes the staged index: no corpus window or aggregate") {
    val nodes = ranPlan("ann_topk_ivf2")
    val aggs = nodes.collect { case a: BaseAggregateExec => a }
    assert(aggs.isEmpty, s"ann_topk_ivf2 aggregates per call:\n${aggs.mkString("\n")}")
    // the probed-cell ranking and the final top-k rank rows of ONE
    // query each; a window keyed on anything else runs over the corpus
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.map(_.sql) == Seq("query_id"),
      s"window over the corpus:\n$w"))
    val (_, assigned) = Staged.ivf2Index(spark, sf, 4, 4)
    assert(cacheScans(planNodes(assigned.queryExecution.executedPlan))
      .exists(b => cacheScans(nodes).exists(_ eq b)),
      "ann_topk_ivf2 does not read the staged assignment")
  }

  test("ivf2 index build shuffles ids only, never embeddings") {
    // a cached frame keeps its build's shuffle files on disk for as long
    // as it stays cached: float arrays in those shuffles cost disk. The
    // build runs the child-id window (collected by ivf2Children) and the
    // two cached frames' plans.
    val (children, assigned) = Staged.ivf2Index(spark, sf, 4, 4)
    val window = SimilarityOps.ivf2ChildIds(Staged.normCorpus(spark, sf),
      Staged.ivfCentroids(spark, sf, 4), 4)
    window.collect()
    val builds = ("child-id window" -> window.queryExecution.executedPlan) +:
      Seq("children" -> children, "assignment" -> assigned).map {
        case (what, df) =>
          df.count()
          what -> planNodes(df.queryExecution.executedPlan).collectFirst {
            case i: InMemoryTableScanExec => i.relation.cacheBuilder.cachedPlan
          }.getOrElse(fail(s"$what is not a cached frame"))
      }
    val shuffles = builds.flatMap { case (what, plan) =>
      planNodes(plan).collect { case e: ShuffleExchangeLike => what -> e }
    }
    assert(shuffles.map(_._1).distinct.sorted == Seq("assignment", "child-id window"),
      s"expected the window and the argmax aggregate to shuffle:\n$shuffles")
    shuffles.foreach { case (what, e) => assert(
      !e.output.exists(_.dataType.isInstanceOf[ArrayType]),
      s"$what shuffles an array column:\n$e") }
  }

  test("bm25_topk plans no aggregate over the postings outside the staged index") {
    // df, idf and the corpus stats come from the staged index; the only
    // aggregate left is the per-(query, candidate) score sum
    val aggs = ranPlan("bm25_topk").collect { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, "expected the candidate score aggregate")
    aggs.foreach(a => assert(
      a.groupingExpressions.exists(_.references.exists(_.name == "query_id")),
      s"aggregate not keyed per query:\n$a"))
  }
}
