package graft.queries

import graft.{Q, Tables}
import graft.ops.{QualityOps, TickOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity queries over the tick stand-in table `events`
  * (SURVEY.md §7 domain mapping: event_type→symbol, value→price).
  * Each mirrors a numbered operator from SURVEY.md §2.
  */
object TickQueries {

  private def ticks(s: SparkSession, dir: String): DataFrame =
    TickOps.normalizeEvents(Tables.events(s, dir))

  private val qcCols = Seq("price", "qty", "trader_id")

  /** DuckDB twin of TickOps.normalizeEvents. */
  private[queries] val normalizedSql =
    """SELECT replace(event_type, '.NSE', '') AS symbol, ts AS event_ts,
      |CAST(value AS DOUBLE) AS price, user_id AS trader_id,
      |CAST(json_extract_string(props, '$.k') AS DOUBLE) AS qty, event_id
      |FROM events""".stripMargin.replace("\n", " ")

  /** The open/close argmin/argmax twins on the (event_ts, event_id)
    * struct key — Determinism.sqlArgMinTs/sqlArgMaxTs, matching TickOps'
    * tsTieKey, so bars stay engine-deterministic when several ticks
    * share a timestamp. */
  private def argMinTs(v: String): String =
    graft.ops.Determinism.sqlArgMinTs(v, "event_ts", "event_id")
  private def argMaxTs(v: String): String =
    graft.ops.Determinism.sqlArgMaxTs(v, "event_ts", "event_id")

  private def ohlcSql(bucketUs: Long, where: String = ""): String =
    s"""SELECT make_timestamp((epoch_us(event_ts) // $bucketUs) * $bucketUs) AS bar_start,
       |symbol, ${argMinTs("price")} AS open, max(price) AS high,
       |min(price) AS low, ${argMaxTs("price")} AS close,
       |count(*) AS n_ticks
       |FROM ($normalizedSql) $where GROUP BY 1, 2""".stripMargin.replace("\n", " ")

  private[queries] val dailySql =
    s"""SELECT CAST(event_ts AS DATE) AS trade_date, symbol,
       |${argMinTs("price")} AS open, max(price) AS high,
       |min(price) AS low, ${argMaxTs("price")} AS close,
       |count(*) AS n_ticks
       |FROM ($normalizedSql) GROUP BY 1, 2""".stripMargin.replace("\n", " ")

  /** Shared with the streaming twin (PipelineQueries). */
  val hourlyOracleSql: String =
    s"SELECT * FROM (${ohlcSql(3600000000L)}) ORDER BY bar_start, symbol"

  val all: Seq[Q] = Seq(

    // P1-P5: ingest normalization (suffix strip, ts, coercion, renames).
    Q("normalize_events",
      (s, dir) => ticks(s, dir).orderBy("event_id"),
      s"SELECT * FROM ($normalizedSql) ORDER BY event_id"),

    // P6: invalid-row QC scan (null | negative across QC columns).
    Q("invalid_rows",
      (s, dir) => TickOps.invalidRows(ticks(s, dir), qcCols).orderBy("event_id"),
      s"""SELECT * FROM ($normalizedSql)
         |WHERE price IS NULL OR price < 0 OR qty IS NULL OR qty < 0
         |OR trader_id IS NULL OR trader_id < 0
         |ORDER BY event_id""".stripMargin.replace("\n", " ")),

    // A5 generalization: per-symbol QC summary report.
    Q("qc_invalid_summary",
      (s, dir) => QualityOps.invalidSummary(ticks(s, dir), qcCols, "symbol")
        .orderBy("symbol"),
      s"""SELECT symbol, count(*) AS n_rows,
         |CAST(SUM(CASE WHEN price IS NULL OR price < 0 OR qty IS NULL OR qty < 0
         |OR trader_id IS NULL OR trader_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid
         |FROM ($normalizedSql) GROUP BY symbol
         |ORDER BY symbol""".stripMargin.replace("\n", " ")),

    // A1: daily OHLC per symbol (deterministic min_by/max_by open/close).
    Q("ohlc_daily",
      (s, dir) => TickOps.dailyOhlc(ticks(s, dir)).orderBy("trade_date", "symbol"),
      s"SELECT * FROM ($dailySql) ORDER BY trade_date, symbol"),

    // W4 intent: hourly tumbling-window bars, single-shuffle groupBy form.
    Q("ohlc_hourly",
      (s, dir) => TickOps.ohlcBars(ticks(s, dir), "1 hour")
        .orderBy("bar_start", "symbol"),
      hourlyOracleSql),

    // F6/F10 intent: parameterized N-minute bars (the reference's invalid
    // date_trunc('5 minutes') — window() does it correctly).
    Q("ohlc_5min",
      (s, dir) => TickOps.ohlcBars(ticks(s, dir), "5 minutes")
        .orderBy("bar_start", "symbol"),
      s"SELECT * FROM (${ohlcSql(300000000L)}) ORDER BY bar_start, symbol"),

    // The reference's full dag_run.conf contract in one parameterized
    // entry: frequency + [from, to) time range + symbol-set pruning
    // composed with the bar aggregation (its `symbols` param is accepted
    // but unused upstream — applied here). The time predicate pushes to
    // the parquet scan (PlanQualitySpec asserts it).
    Q("ohlc_bars_filtered",
      (s, dir) => TickOps.ohlcBarsFiltered(ticks(s, dir), "15 minutes",
          Seq("click", "view"), "2024-01-10 00:00:00", "2024-01-20 00:00:00")
        .orderBy("bar_start", "symbol"),
      s"""SELECT * FROM (${ohlcSql(900000000L,
           """WHERE symbol IN ('click', 'view')
             |AND event_ts >= TIMESTAMP '2024-01-10 00:00:00'
             |AND event_ts < TIMESTAMP '2024-01-20 00:00:00'"""
             .stripMargin.replace("\n", " "))})
         |ORDER BY bar_start, symbol""".stripMargin.replace("\n", " ")),

    // W1-W3: the hourly-OHLC materialized view in its literal window-fn
    // shape (full-frame last per SURVEY.md W2 intent) + DISTINCT collapse.
    Q("hourly_ohlc_mv",
      (s, dir) => TickOps.hourlyOhlcMv(ticks(s, dir))
        .orderBy("symbol", "bar_hour"),
      s"""SELECT symbol, make_timestamp((epoch_us(event_ts) // 3600000000) * 3600000000) AS bar_hour,
         |${argMinTs("price")} AS open, max(price) AS high, min(price) AS low,
         |${argMaxTs("price")} AS close
         |FROM ($normalizedSql) GROUP BY 1, 2
         |ORDER BY symbol, bar_hour""".stripMargin.replace("\n", " ")),

    // Incremental materialized-view maintenance, PROVEN equivalent to
    // recompute: the hourly-bar MV is refreshed by merging the standing
    // partial state with a new batch's partial state — the split is
    // deliberately MID-hour ('2024-01-20 12:30'), so bars straddling
    // the boundary genuinely exercise the open/close re-derivation,
    // not just disjoint-group union. The Spark side runs the
    // incremental path (two partials + associative merge); the ORACLE
    // recomputes every bar from raw events — the hash match IS the
    // refresh-correctness proof. Per-refresh cost at 100 TB: the batch
    // scan + an aggregate over touched bars only (the MV state is
    // bar-keyed, so the merge shuffles MV rows for affected keys, not
    // history).
    Q("mv_incremental_refresh",
      (s, dir) => {
        val t = ticks(s, dir)
        val split = "2024-01-20 12:30:00"
        val base = t.filter(col("event_ts") < to_timestamp(lit(split)))
        val delta = t.filter(col("event_ts") >= to_timestamp(lit(split)))
        TickOps.ohlcMerge(
            TickOps.ohlcPartial(base, "1 hour")
              .unionByName(TickOps.ohlcPartial(delta, "1 hour")))
          .orderBy("bar_start", "symbol")
      },
      hourlyOracleSql),

    // A3+P8+P9+P11: day-over-day price-change screen, conditional-agg pivot.
    Q("price_change_pct",
      (s, dir) => TickOps.priceChangePct(ticks(s, dir),
          "2024-01-15", "2024-01-16", 0.1)
        .orderBy("symbol"),
      s"""SELECT * FROM (
         |SELECT symbol,
         |max(CASE WHEN CAST(event_ts AS DATE) = DATE '2024-01-15' THEN price END) AS price_d1,
         |max(CASE WHEN CAST(event_ts AS DATE) = DATE '2024-01-16' THEN price END) AS price_d2,
         |(max(CASE WHEN CAST(event_ts AS DATE) = DATE '2024-01-16' THEN price END)
         | - max(CASE WHEN CAST(event_ts AS DATE) = DATE '2024-01-15' THEN price END))
         | / max(CASE WHEN CAST(event_ts AS DATE) = DATE '2024-01-15' THEN price END) * 100 AS pct_change
         |FROM ($normalizedSql)
         |WHERE (CAST(event_ts AS DATE) = DATE '2024-01-15' OR CAST(event_ts AS DATE) = DATE '2024-01-16')
         |GROUP BY symbol)
         |WHERE abs(pct_change) > 0.1
         |ORDER BY symbol""".stripMargin.replace("\n", " ")),

    // §2.5 extension: lag-based day-over-day close change.
    Q("day_over_day_lag",
      (s, dir) => TickOps.dayOverDayLag(ticks(s, dir))
        .orderBy("symbol", "trade_date"),
      s"""SELECT trade_date, symbol, open, high, low, close, n_ticks,
         |lag(close, 1) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_close,
         |(close - lag(close, 1) OVER (PARTITION BY symbol ORDER BY trade_date))
         | / lag(close, 1) OVER (PARTITION BY symbol ORDER BY trade_date) * 100 AS close_change_pct
         |FROM ($dailySql)
         |ORDER BY symbol, trade_date""".stripMargin.replace("\n", " ")),

    // J2/SO1: missing-key referential check (customers without orders —
    // the bhavcopy-symbols-absent-from-ticks shape).
    Q("missing_keys",
      (s, dir) => QualityOps.missingKeys(
          Tables.customer(s, dir), "c_custkey",
          Tables.orders(s, dir), "o_custkey")
        .orderBy("c_custkey"),
      """SELECT c_custkey FROM (SELECT DISTINCT c_custkey FROM customer) u
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = u.c_custkey)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " ")),

    // A1+J1+P10: OHLC reconciliation — daily bars diffed against an
    // independently derived official table (hourly bars re-rolled to daily).
    Q("ohlc_reconcile",
      (s, dir) => {
        val daily = TickOps.dailyOhlc(ticks(s, dir))
        val hourly = TickOps.ohlcBars(ticks(s, dir), "1 hour")
        QualityOps.reconcile(daily, TickOps.dailyFromBars(hourly),
          Seq("trade_date", "symbol"))
          .orderBy("trade_date", "symbol")
      },
      s"""WITH hourly AS (${ohlcSql(3600000000L)}),
         |official AS (
         |  SELECT CAST(bar_start AS DATE) AS trade_date, symbol,
         |  arg_min(open, bar_start) AS open, max(high) AS high,
         |  min(low) AS low, arg_max(close, bar_start) AS close
         |  FROM hourly GROUP BY 1, 2),
         |daily AS ($dailySql)
         |SELECT d.trade_date, d.symbol, d.open - o.open AS open_diff,
         |d.high - o.high AS high_diff, d.low - o.low AS low_diff,
         |d.close - o.close AS close_diff
         |FROM daily d JOIN official o
         |ON d.trade_date = o.trade_date AND d.symbol = o.symbol
         |ORDER BY d.trade_date, d.symbol""".stripMargin.replace("\n", " "))
  )
}
