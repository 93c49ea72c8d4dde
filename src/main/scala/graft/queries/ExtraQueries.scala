package graft.queries

import graft.{Q, Tables}
import graft.ops.{AsOfOps, Determinism, RelationalOps, TickOps, TypedOhlc}
import org.apache.spark.sql.functions._

/** Remaining SURVEY.md §2 line items: union-all (A5/SO2), intersect,
  * CUBE grouping sets, the reference's folder-name scalar round-trip
  * (F1-F3), the HLL approximate-distinct scale path, and the typed
  * Aggregator OHLC (U3).
  */
object ExtraQueries {

  /** One text, two engines: runnable unchanged by spark.sql (over the
    * registered `lineitem` temp view) and by DuckDB (over the parquet
    * view of the same name). Declared before `all`, which captures it. */
  private val GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
      |CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
      |CAST(count(*) AS BIGINT) AS n_items,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
      .stripMargin.replace("\n", " ")

  /** Raw HLL++ estimates per return flag — the form a 100 TB caller
    * runs (one hash-agg, 4 KiB sketch per group, no exact twin). rsd
    * 0.02 (vs the 0.05 default): rsd is a standard deviation, not a
    * bound — at 0.05 the observed per-group error reached 8.6% at
    * sf0.01. 0.02 keeps the worst observed group at 3.3% under
    * ApproxBoundSpec's 5% gate (deterministic estimator, so the margin
    * is stable); rsd 0.01's 16 KiB sketches made the approx SLOWER than
    * the exact countDistinct at sf0.1. */
  def orderStatsApproxRaw(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val all: Seq[Q] = Seq(

    // SO2/A5: UNION ALL of homogeneous per-period QC summaries (the
    // reference's pd.concat of per-file report frames).
    Q("union_all_periods",
      (s, dir) => {
        val t = TickOps.normalizeEvents(Tables.events(s, dir))
        def half(tag: String, cond: org.apache.spark.sql.Column) =
          t.filter(cond).groupBy(col("symbol"))
            .agg(count(lit(1)).as("n_rows"))
            .withColumn("period", lit(tag))
        half("h1", dayofmonth(col("event_ts")) <= 15)
          .unionByName(half("h2", dayofmonth(col("event_ts")) > 15))
          .orderBy("period", "symbol")
      },
      """SELECT * FROM (
        |SELECT replace(event_type, '.NSE', '') AS symbol, count(*) AS n_rows,
        |'h1' AS period FROM events WHERE day(ts) <= 15 GROUP BY 1
        |UNION ALL
        |SELECT replace(event_type, '.NSE', '') AS symbol, count(*) AS n_rows,
        |'h2' AS period FROM events WHERE day(ts) > 15 GROUP BY 1)
        |ORDER BY period, symbol""".stripMargin.replace("\n", " ")),

    // Set op: INTERSECT on distinct key sets.
    Q("custkeys_intersect",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
          .intersect(o.filter(col("o_orderstatus") === "F")
            .select(col("o_custkey")).distinct())
          .orderBy("o_custkey")
      },
      """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin.replace("\n", " ")),

    // Join type: LEFT SEMI (EXISTS) — the positive twin of missing_keys'
    // anti join; plans as a broadcast/shuffled semi, never materializing
    // order columns.
    Q("custkeys_semi",
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))
        .orderBy("c_custkey"),
      """SELECT c_custkey FROM customer c WHERE EXISTS
        |(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " ")),

    // Distribution windows: percent_rank + cume_dist of each daily close
    // within its symbol's history (rounds to 6dp for cross-engine
    // stability; completes the ranking family next to rank_events).
    Q("close_rank_distribution",
      (s, dir) => {
        val daily = TickOps.dailyOhlc(
          TickOps.normalizeEvents(Tables.events(s, dir)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("symbol")).orderBy(col("close"))
        daily.select(col("symbol"), col("trade_date"), col("close"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("symbol", "trade_date")
      },
      s"""SELECT symbol, trade_date, close,
         |round(percent_rank() OVER (PARTITION BY symbol ORDER BY close), 6) AS pct_rank,
         |round(cume_dist() OVER (PARTITION BY symbol ORDER BY close), 6) AS cume
         |FROM (${TickQueries.dailySql})
         |ORDER BY symbol, trade_date""".stripMargin.replace("\n", " ")),

    // Fixed-width histogram binning: the distribution profile that sizes
    // partitioning/salting decisions (one hash-agg; bins are exact
    // integer floors, so the oracle pins them).
    Q("price_histogram",
      (s, dir) => TickOps.normalizeEvents(Tables.events(s, dir))
        .groupBy(floor(col("price") / 50).as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("price")).as("lo"), max(col("price")).as("hi"))
        .orderBy(col("bin").asc_nulls_first),
      """SELECT CAST(floor(CAST(value AS DOUBLE) / 50) AS BIGINT) AS bin,
        |count(*) AS n, min(CAST(value AS DOUBLE)) AS lo,
        |max(CAST(value AS DOUBLE)) AS hi
        |FROM events GROUP BY 1
        |ORDER BY bin NULLS FIRST""".stripMargin.replace("\n", " ")),

    // Data profiling: per-column null/distinct counts — the pre-training
    // audit every ingest runs. ONE aggregation computes every column's
    // stats in a single scan; stack() then unpivots the row to
    // per-column rows (three separate aggs would scan three times).
    Q("profile_events",
      (s, dir) => {
        val t = TickOps.normalizeEvents(Tables.events(s, dir))
        val cols = Seq("price", "qty", "trader_id")
        val aggs = count(lit(1)).as("n_rows") +:
          cols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
            countDistinct(col(c)).as(s"${c}_distinct")))
        val stackArgs = cols.map(c =>
          s"'$c', n_rows, ${c}_nulls, ${c}_distinct").mkString(", ")
        t.agg(aggs.head, aggs.tail: _*)
          .select(expr(s"stack(${cols.length}, $stackArgs) " +
            "AS (col_name, n_rows, n_nulls, n_distinct)"))
          .orderBy("col_name")
      },
      s"""WITH t AS (${TickQueries.normalizedSql})
         |SELECT col_name, n_rows, n_nulls, n_distinct FROM (
         |  SELECT 'price' AS col_name, count(*) AS n_rows,
         |    CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |    count(DISTINCT price) AS n_distinct FROM t
         |  UNION ALL
         |  SELECT 'qty', count(*),
         |    CAST(SUM(CASE WHEN qty IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT qty) FROM t
         |  UNION ALL
         |  SELECT 'trader_id', count(*),
         |    CAST(SUM(CASE WHEN trader_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT trader_id) FROM t)
         |ORDER BY col_name""".stripMargin.replace("\n", " ")),

    // First-class melt: daily OHLC wide→long through Dataset.unpivot
    // (stack()'s typed twin — profile_events covers the expression
    // form). A narrow map: no shuffle, output = 4 rows per input row.
    Q("unpivot_daily_ohlc",
      (s, dir) => TickOps.dailyOhlc(
          TickOps.normalizeEvents(Tables.events(s, dir)))
        .unpivot(
          Array(col("symbol"), col("trade_date")),
          Array(col("open"), col("high"), col("low"), col("close")),
          "field", "value")
        .orderBy("symbol", "trade_date", "field"),
      s"""WITH daily AS (${TickQueries.dailySql})
         |SELECT symbol, trade_date, field, value FROM (
         |  SELECT symbol, trade_date, 'open' AS field, open AS value FROM daily
         |  UNION ALL SELECT symbol, trade_date, 'high', high FROM daily
         |  UNION ALL SELECT symbol, trade_date, 'low', low FROM daily
         |  UNION ALL SELECT symbol, trade_date, 'close', close FROM daily)
         |ORDER BY symbol, trade_date, field"""
        .stripMargin.replace("\n", " ")),

    // Z-order (Morton) clustering key: bit-interleave of two bucketed
    // dimensions — the multi-dimensional layout key that gives min/max
    // file pruning on EITHER column (ZOrderSpec measures the written
    // layout; this query pins the key computation itself to the
    // oracle). Pure bitwise column expressions, one narrow map.
    Q("zorder_key",
      (s, dir) => {
        val ub = pmod(col("user_id"), lit(256L))
        val vb = pmod(col("event_id"), lit(256L))
        Tables.events(s, dir)
          .select(col("event_id"), ub.as("ub"), vb.as("vb"),
            graft.ops.LayoutOps.zValue(ub, vb, 8).as("zval"))
          .orderBy("event_id")
      },
      s"""SELECT event_id, user_id % 256 AS ub, event_id % 256 AS vb,
         |${graft.ops.LayoutOps.sqlZValue("user_id % 256", "event_id % 256", 8)} AS zval
         |FROM events ORDER BY event_id""".stripMargin.replace("\n", " ")),

    // Three-dimensional Morton key: user bucket × event bucket × hour of
    // day — the layout for a warehouse serving three predicate axes
    // (18 key bits = 3 dims × 6; nDims*bits <= 63 guard enforced).
    // ZOrderSpec measures the written 3-D layout's per-file pruning;
    // this pins the key arithmetic itself to the oracle.
    Q("zorder_key3",
      (s, dir) => {
        val ub = pmod(col("user_id"), lit(64L))
        val vb = pmod(col("event_id"), lit(64L))
        val hb = hour(col("ts"))
        Tables.events(s, dir)
          .select(col("event_id"), ub.as("ub"), vb.as("vb"), hb.as("hb"),
            graft.ops.LayoutOps.zValueN(Seq(ub, vb, hb), 6).as("zval"))
          .orderBy("event_id")
      },
      s"""SELECT event_id, user_id % 64 AS ub, event_id % 64 AS vb,
         |CAST(hour(ts) AS INT) AS hb,
         |${graft.ops.LayoutOps.sqlZValueN(
            Seq("user_id % 64", "event_id % 64", "hour(ts)"), 6)} AS zval
         |FROM events ORDER BY event_id""".stripMargin.replace("\n", " ")),

    // Scalar-subquery rewrite: orders above the global mean price —
    // Catalyst turns the scalar aggregate into a broadcast join against
    // one row. The mean is computed decimal-exact then rounded, so the
    // threshold is bit-identical in both engines.
    Q("orders_above_avg",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val thr = o.agg(
          round(Determinism.exactSum(col("o_totalprice")).cast("double")
            / count(lit(1)), 6).as("avg6"))
        o.join(broadcast(thr), col("o_totalprice") > col("avg6"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |WHERE o_totalprice > (
         |  SELECT round(CAST(${Determinism.sqlExactSum("o_totalprice")} AS DOUBLE)
         |    / count(*), 6) FROM orders)
         |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // Correlated-subquery shape, decorrelated: orders above their OWN
    // customer's mean order value. The textbook correlated scalar
    // subquery (the oracle SQL keeps that form) decorrelates to a
    // per-customer aggregate joined back on the key — one hash-agg and
    // one shuffle join on o_custkey, instead of a per-row subquery
    // execution. The threshold is decimal-exact then rounded, so the
    // comparison is bit-identical in both engines.
    Q("orders_above_cust_avg",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val avgs = o.groupBy(col("o_custkey"))
          .agg(round(Determinism.exactSum(col("o_totalprice"))
            / count(lit(1)), 6).as("cust_avg"))
        o.join(avgs, Seq("o_custkey"))
          .filter(col("o_totalprice") > col("cust_avg"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("cust_avg"))
          .orderBy("o_orderkey")
      },
      s"""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
         |(SELECT round(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |   / count(*), 6)
         | FROM orders i WHERE i.o_custkey = o.o_custkey) AS cust_avg
         |FROM orders o
         |WHERE o.o_totalprice > (
         |  SELECT round(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    / count(*), 6)
         |  FROM orders i WHERE i.o_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // Grouping sets: CUBE over status × priority.
    Q("orders_cube",
      (s, dir) => Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Determinism.exactSum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus", "o_orderpriority"),
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |${Determinism.sqlExactSum("o_totalprice")} AS total_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin.replace("\n", " ")),

    // F1-F3: the reference's day-folder ↔ bhavcopy filename plumbing
    // (regex extract, month-name map, filename build) as column exprs.
    Q("folder_name_roundtrip",
      (s, dir) => {
        val folderRe = "STOCK_TICK_(\\d{2})(\\d{2})(\\d{4})"
        val o = Tables.orders(s, dir).select(col("o_orderkey"),
          concat(lit("STOCK_TICK_"),
            date_format(col("o_orderdate"), "ddMMyyyy")).as("folder"))
        o.select(
            col("o_orderkey"), col("folder"),
            regexp_extract(col("folder"), folderRe, 1).cast("int").as("f_day"),
            regexp_extract(col("folder"), folderRe, 2).cast("int").as("f_month"),
            regexp_extract(col("folder"), folderRe, 3).cast("int").as("f_year"))
          .withColumn("bhav_name", concat(
            lit("cm"), lpad(col("f_day").cast("string"), 2, "0"),
            upper(date_format(make_date(col("f_year"), col("f_month"),
              col("f_day")), "MMM")),
            col("f_year").cast("string"), lit("bhav.csv")))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, folder,
        |CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 1) AS INT) AS f_day,
        |CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 2) AS INT) AS f_month,
        |CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 3) AS INT) AS f_year,
        |concat('cm',
        |  lpad(CAST(CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 1) AS INT) AS VARCHAR), 2, '0'),
        |  upper(strftime(make_date(
        |    CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 3) AS INT),
        |    CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 2) AS INT),
        |    CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 1) AS INT)), '%b')),
        |  CAST(CAST(regexp_extract(folder, 'STOCK_TICK_(\d{2})(\d{2})(\d{4})', 3) AS INT) AS VARCHAR),
        |  'bhav.csv') AS bhav_name
        |FROM (SELECT o_orderkey,
        |  concat('STOCK_TICK_', strftime(o_orderdate, '%d%m%Y')) AS folder
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // HLL++ approximate distinct — the 100 TB cardinality path. The raw
    // estimates are estimator-specific (no cross-engine oracle can
    // hash-match them), so the REGISTERED query emits what IS
    // deterministic and checkable: the group set, the exact row counts,
    // and booleans asserting each estimate sits within the 5% bound of
    // its exact twin — all of which DuckDB reproduces (`TRUE` on a
    // correct estimator). ApproxBoundSpec additionally bounds the raw
    // estimates at sf0.01 AND sf0.1 via [[orderStatsApproxRaw]]; a 100 TB
    // caller uses the raw form (no exact countDistinct alongside).
    Q("order_stats_approx",
      (s, dir) => orderStatsApproxRaw(s, dir)
        .join(
          Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
            countDistinct(col("l_orderkey")).as("exact_orders"),
            countDistinct(col("l_partkey")).as("exact_parts")),
          Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("n_rows"),
          (abs(col("approx_orders") / col("exact_orders") - 1) <= 0.05)
            .as("approx_orders_ok"),
          (abs(col("approx_parts") / col("exact_parts") - 1) <= 0.05)
            .as("approx_parts_ok"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |TRUE AS approx_orders_ok, TRUE AS approx_parts_ok
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""
        .stripMargin.replace("\n", " ")),

    // As-of join: last tick price at-or-before each hourly grid point —
    // the canonical financial lookup, via the shuffle-once union-window
    // composition. DuckDB's native ASOF JOIN is the oracle.
    Q("asof_join_prices",
      (s, dir) => {
        val ticks = TickOps.normalizeEvents(Tables.events(s, dir))
          .select(col("symbol"), col("event_ts"), col("price"))
        val probes = TickOps.ohlcBars(
            TickOps.normalizeEvents(Tables.events(s, dir)), "1 hour")
          .select(col("symbol"), col("bar_start").as("event_ts"))
        AsOfOps.asofJoin(ticks, probes, "symbol", "event_ts", "price")
          .orderBy("symbol", "event_ts")
      },
      s"""WITH ticks AS (
         |  SELECT replace(event_type, '.NSE', '') AS symbol, ts AS event_ts,
         |  CAST(value AS DOUBLE) AS price FROM events WHERE value IS NOT NULL),
         |probes AS (
         |  SELECT DISTINCT symbol,
         |  make_timestamp((epoch_us(event_ts) // 3600000000) * 3600000000) AS event_ts
         |  FROM ticks)
         |SELECT p.symbol, p.event_ts, t.price AS asof_value,
         |t.event_ts AS asof_ts
         |FROM probes p ASOF JOIN ticks t
         |ON p.symbol = t.symbol AND p.event_ts >= t.event_ts
         |ORDER BY p.symbol, p.event_ts""".stripMargin.replace("\n", " ")),

    // FULL OUTER reconcile: when BOTH sides of a derived-vs-official
    // compare can be missing rows (a symbol absent from the feed, a date
    // absent from the official file), inner/anti joins each show one
    // direction — the full outer shows both in one pass, with a status
    // column. Sides here are deterministic subsets of the daily bars
    // (derived drops symbol 'click', official drops 2024-01-02).
    Q("ohlc_full_outer",
      (s, dir) => {
        val daily = TickOps.dailyOhlc(
          TickOps.normalizeEvents(Tables.events(s, dir)))
        val derived = daily.filter(col("symbol") =!= "click")
          .select(col("symbol"), col("trade_date"),
            col("close").as("derived_close"))
        val official = daily.filter(col("trade_date") =!= lit("2024-01-02"))
          .select(col("symbol"), col("trade_date"),
            col("close").as("official_close"))
        derived.join(official, Seq("symbol", "trade_date"), "full_outer")
          .select(col("symbol"), col("trade_date"),
            col("derived_close"), col("official_close"),
            when(col("derived_close").isNull, lit("official_only"))
              .when(col("official_close").isNull, lit("derived_only"))
              .otherwise(lit("both")).as("status"))
          .orderBy("symbol", "trade_date")
      },
      s"""WITH daily AS (${TickQueries.dailySql}),
         |derived AS (SELECT symbol, trade_date, close AS derived_close
         |  FROM daily WHERE symbol <> 'click'),
         |official AS (SELECT symbol, trade_date, close AS official_close
         |  FROM daily WHERE trade_date <> DATE '2024-01-02')
         |SELECT coalesce(d.symbol, o.symbol) AS symbol,
         |coalesce(d.trade_date, o.trade_date) AS trade_date,
         |d.derived_close, o.official_close,
         |CASE WHEN d.derived_close IS NULL THEN 'official_only'
         |  WHEN o.official_close IS NULL THEN 'derived_only'
         |  ELSE 'both' END AS status
         |FROM derived d FULL OUTER JOIN official o
         |ON d.symbol = o.symbol AND d.trade_date = o.trade_date
         |ORDER BY symbol, trade_date""".stripMargin.replace("\n", " ")),

    // Forward as-of: each hourly grid point takes the FIRST tick at or
    // after it (next-fill). DuckDB's ASOF comparator flips to <=.
    Q("asof_join_forward",
      (s, dir) => {
        val ticks = TickOps.normalizeEvents(Tables.events(s, dir))
          .select(col("symbol"), col("event_ts"), col("price"))
        val probes = TickOps.ohlcBars(
            TickOps.normalizeEvents(Tables.events(s, dir)), "1 hour")
          .select(col("symbol"), col("bar_start").as("event_ts"))
        AsOfOps.asofJoinForward(ticks, probes, "symbol", "event_ts", "price")
          .orderBy("symbol", "event_ts")
      },
      s"""WITH ticks AS (
         |  SELECT replace(event_type, '.NSE', '') AS symbol, ts AS event_ts,
         |  CAST(value AS DOUBLE) AS price FROM events WHERE value IS NOT NULL),
         |probes AS (
         |  SELECT DISTINCT symbol,
         |  make_timestamp((epoch_us(event_ts) // 3600000000) * 3600000000) AS event_ts
         |  FROM ticks)
         |SELECT p.symbol, p.event_ts, t.price AS asof_value,
         |t.event_ts AS asof_ts
         |FROM probes p ASOF JOIN ticks t
         |ON p.symbol = t.symbol AND p.event_ts <= t.event_ts
         |ORDER BY p.symbol, p.event_ts""".stripMargin.replace("\n", " ")),

    // As-of with staleness tolerance (merge_asof's tolerance): a grid
    // point whose latest tick is older than 10 minutes gets no row.
    Q("asof_join_tolerance",
      (s, dir) => {
        val ticks = TickOps.normalizeEvents(Tables.events(s, dir))
          .select(col("symbol"), col("event_ts"), col("price"))
        val probes = TickOps.ohlcBars(
            TickOps.normalizeEvents(Tables.events(s, dir)), "1 hour")
          .select(col("symbol"), col("bar_start").as("event_ts"))
        AsOfOps.asofJoinTolerance(ticks, probes, "symbol", "event_ts",
            "price", 600L)
          .orderBy("symbol", "event_ts")
      },
      // Independent oracle: DuckDB's NATIVE ASOF JOIN + post-filter. The
      // MATERIALIZED CTE is an optimization fence — without it DuckDB
      // pushes the tolerance predicate into the ASOF join and rejects
      // the second inequality at bind time.
      s"""WITH ticks AS (
         |  SELECT replace(event_type, '.NSE', '') AS symbol, ts AS event_ts,
         |  CAST(value AS DOUBLE) AS price FROM events WHERE value IS NOT NULL),
         |probes AS (
         |  SELECT DISTINCT symbol,
         |  make_timestamp((epoch_us(event_ts) // 3600000000) * 3600000000) AS event_ts
         |  FROM ticks),
         |asof_result AS MATERIALIZED (
         |  SELECT p.symbol, p.event_ts, t.price AS asof_value,
         |  t.event_ts AS asof_ts
         |  FROM probes p ASOF JOIN ticks t
         |  ON p.symbol = t.symbol AND p.event_ts >= t.event_ts)
         |SELECT symbol, event_ts, asof_value, asof_ts FROM asof_result
         |WHERE asof_ts >= event_ts - INTERVAL 600 SECONDS
         |ORDER BY symbol, event_ts""".stripMargin.replace("\n", " ")),

    // The same as-of join through the custom whole-operator plan
    // (LogicalPlan + Strategy + physical merge exec) — one hash-cluster
    // exchange per side + linear merge, verified by the same oracle.
    Q("asof_join_native",
      (s, dir) => {
        val ticks = TickOps.normalizeEvents(Tables.events(s, dir))
          .select(col("symbol"), col("event_ts"), col("price"))
        val probes = TickOps.ohlcBars(
            TickOps.normalizeEvents(Tables.events(s, dir)), "1 hour")
          .select(col("symbol"), col("bar_start").as("event_ts"))
        AsOfOps.asofJoinNative(ticks, probes, "symbol", "event_ts", "price")
          .orderBy("symbol", "event_ts")
      },
      s"""WITH ticks AS (
         |  SELECT replace(event_type, '.NSE', '') AS symbol, ts AS event_ts,
         |  CAST(value AS DOUBLE) AS price FROM events WHERE value IS NOT NULL),
         |probes AS (
         |  SELECT DISTINCT symbol,
         |  make_timestamp((epoch_us(event_ts) // 3600000000) * 3600000000) AS event_ts
         |  FROM ticks)
         |SELECT p.symbol, p.event_ts, t.price AS asof_value,
         |t.event_ts AS asof_ts
         |FROM probes p ASOF JOIN ticks t
         |ON p.symbol = t.symbol AND p.event_ts >= t.event_ts
         |ORDER BY p.symbol, p.event_ts""".stripMargin.replace("\n", " ")),

    // Skew-safe salted aggregation — must be bit-identical to the direct
    // GROUP BY (decimal-exact partials), which this oracle computes.
    Q("salted_agg_events",
      (s, dir) => RelationalOps.saltedAgg(
          TickOps.normalizeEvents(Tables.events(s, dir)),
          "symbol", "price", nSalts = 16)
        .orderBy("symbol"),
      s"""SELECT replace(event_type, '.NSE', '') AS symbol,
         |${Determinism.sqlExactSum("value")} AS sum_value,
         |count(*) AS n_rows,
         |min(CAST(value AS DOUBLE)) AS min_value,
         |max(CAST(value AS DOUBLE)) AS max_value
         |FROM events GROUP BY 1 ORDER BY symbol"""
        .stripMargin.replace("\n", " ")),

    // SQL front-end surface: the hourly-OHLC capability driven entirely
    // through spark.sql over a registered view — same plan, same oracle
    // as the DataFrame form (the engine is API-complete across
    // DataFrame / typed Dataset / SQL / streaming).
    Q("sql_ohlc_hourly",
      (s, dir) => {
        TickOps.normalizeEvents(Tables.events(s, dir))
          .createOrReplaceTempView("graft_ticks")
        s.sql(
          """SELECT window.start AS bar_start, symbol,
            |min_by(price, event_ts) AS open, max(price) AS high,
            |min(price) AS low, max_by(price, event_ts) AS close,
            |count(1) AS n_ticks
            |FROM graft_ticks
            |GROUP BY window(event_ts, '1 hour'), symbol
            |ORDER BY bar_start, symbol""".stripMargin)
      },
      TickQueries.hourlyOracleSql),

    // SQL front-end over a REGISTERED CUSTOM expression: the native
    // one-pass simhash called from plain SQL (the extension surface a
    // SQL-only user gets via spark.sql.extensions=GraftExtensions).
    Q("sql_simhash",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
        s.sql(
          """SELECT doc_id, graft_simhash(text, 32) AS simhash
            |FROM graft_docs ORDER BY doc_id""".stripMargin)
      },
      s"${OracleFrags.simhashSql(32)} ORDER BY doc_id"),

    // IVF maintenance view: per-cell population — the balance histogram
    // an ANN operator watches at scale (skewed cells = the re-seed
    // trigger; a single agg over the assignment pass).
    Q("ivf_cell_stats",
      (s, dir) => graft.ops.SimilarityOps
        .assignCellsNorm(Staged.normCorpus(s, dir),
          Staged.ivfCentroids(s, dir, 16), 1)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
        .orderBy("cell"),
      s"""WITH corpus AS (${OracleFrags.normCorpus}),
         |cents AS (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.centroid_id AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${OracleFrags.dotCosine("e.n_emb", "c.c_emb")} DESC,
         |      c.centroid_id ASC) AS rn
         |    FROM corpus e CROSS JOIN cents c)
         |  WHERE rn = 1)
         |SELECT cell, count(*) AS n_vectors,
         |min(vec_id) AS min_vec, max(vec_id) AS max_vec
         |FROM assigned GROUP BY cell
         |ORDER BY cell""".stripMargin.replace("\n", " ")),

    // U3: the typed-Aggregator twin of ohlc_daily — must match the same
    // oracle as the untyped min_by/max_by plan.
    Q("ohlc_daily_typed",
      (s, dir) => TypedOhlc.dailyOhlcTyped(
          TickOps.normalizeEvents(Tables.events(s, dir)))
        .orderBy("trade_date", "symbol"),
      s"SELECT * FROM (${TickQueries.dailySql}) ORDER BY trade_date, symbol"),

    // Explicit GROUPING SETS (finer than CUBE/ROLLUP: an arbitrary set
    // list) with grouping() null-vs-group disambiguation — one SQL text
    // shared verbatim by Spark and the DuckDB oracle. Spark expands the
    // sets into a single Expand + hash-agg: one shuffle for all three
    // granularities.
    Q("sql_grouping_sets",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
        s.sql(GroupingSetsSql)
      },
      GroupingSetsSql),

    // Time-interval RANGE window frame (value-based, not row-count):
    // 30-minute trailing volume per symbol over the epoch-microsecond
    // ordering. RANGE includes timestamp peers, so the frame is
    // deterministic even under tied timestamps; the sum runs in exact
    // decimals. One shuffle on symbol.
    Q("rolling_volume_range",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = TickOps.normalizeEvents(Tables.events(s, dir))
          .withColumn("ts_us", unix_micros(col("event_ts")))
        val f = Window.partitionBy(col("symbol")).orderBy(col("ts_us"))
          .rangeBetween(-1800000000L, 0)
        t.select(col("symbol"), col("event_ts"), col("event_id"), col("qty"),
            sum(col("qty").cast("decimal(30,6)")).over(f).cast("double")
              .as("vol_30min"),
            count(col("qty")).over(f).as("n_30min"))
          .orderBy("symbol", "event_ts", "event_id")
      },
      s"""WITH t AS (SELECT symbol, event_ts, epoch_us(event_ts) AS ts_us,
         |  event_id, qty FROM (${TickQueries.normalizedSql}))
         |SELECT symbol, event_ts, event_id, qty,
         |CAST(SUM(CAST(qty AS DECIMAL(30,6))) OVER f AS DOUBLE) AS vol_30min,
         |CAST(COUNT(qty) OVER f AS BIGINT) AS n_30min
         |FROM t
         |WINDOW f AS (PARTITION BY symbol ORDER BY ts_us
         |  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
         |ORDER BY symbol, event_ts, event_id"""
        .stripMargin.replace("\n", " "))
  )
}
