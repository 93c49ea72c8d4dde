package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Tick-table operators: the reference's ingest/clean/aggregate surface
  * re-expressed as pure `DataFrame => DataFrame` transforms.
  *
  * Reference semantics (cited into /root/reference/data_platform_final.py):
  *  - normalize: suffix strip `:79,225`, Date+Time→Timestamp `:80,226`,
  *    numeric coercion-to-null `:82-88,240-246`, projection `:90,248`,
  *    warehouse renames `:228-238`.
  *  - invalid-row QC predicate (null | negative, OR across cols) `:138-144`.
  *  - daily OHLC groupby-agg `:155-161` — pandas first/last depend on file
  *    row order; here `min_by`/`max_by` on the timestamp make open/close
  *    deterministic under Spark's shuffle (SURVEY.md A1).
  *  - hourly OHLC materialized view via window functions `:293-313` (W1-W4;
  *    we implement the *intent* of last_value with a full frame — the
  *    reference's default RANGE frame is a documented latent bug, W2).
  *  - N-minute bars `:326-340` (the reference's `date_trunc('5 minutes')`
  *    is invalid Postgres; `window(ts, dur)` expresses the intent).
  *  - day-over-day price change screen `:258-288` (conditional-agg pivot).
  *
  * Scale notes: every transform here is a narrow projection/filter or a
  * single hash-aggregate shuffle on (bucket, symbol) — the natural keys.
  * Nothing materializes on the driver; bar aggregation gets map-side
  * partial aggregation for free from HashAggregateExec, so 100 TB of ticks
  * reduce to |symbols|×|buckets| rows before the exchange.
  */
object TickOps {

  /** Strip an exchange suffix from the symbol column (P1, `:79`).
    * The reference's `str.replace('.NSE','')` replaces ALL occurrences —
    * mirrored here with a global literal regexp. */
  def stripSuffix(c: Column, suffix: String = ".NSE"): Column =
    regexp_replace(c, java.util.regex.Pattern.quote(suffix), "")

  /** Coerce-to-null numeric parse (P3, `:82-88`): try_cast gives null on
    * junk — identical to pandas `to_numeric(errors='coerce')`. (Spark 4 is
    * ANSI by default, so a plain cast would THROW on malformed input.) */
  def coerceDouble(c: Column): Column = c.try_cast(DoubleType)

  /** Normalize raw tick-like input (the `events` fixture plays the tick
    * table: event_type→symbol, value→price, ts→timestamp; SURVEY.md §7).
    * Covers P1-P5: suffix strip, coercion, projection, warehouse renames. */
  def normalizeEvents(events: DataFrame): DataFrame =
    events.select(
      stripSuffix(col("event_type")).as("symbol"),
      col("ts").as("event_ts"),
      coerceDouble(col("value")).as("price"),
      col("user_id").as("trader_id"),
      get_json_object(col("props"), "$.k").try_cast(DoubleType).as("qty"),
      col("event_id"))

  /** Invalid-row predicate (P6, `:138-144`): any listed column null or
    * negative. OR-reduce across columns, exactly the reference's 14-term OR. */
  def invalidPredicate(cols: Seq[Column]): Column =
    cols.map(c => c.isNull || c < 0).reduce(_ || _)

  def invalidRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(invalidPredicate(cols.map(col)))

  def validRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(!invalidPredicate(cols.map(col)))

  /** The open/close argmin/argmax key: the (ts, id) composite
    * (Determinism.tsTieKey) when the frame carries the unique id
    * column, else the bare timestamp. Same-timestamp ticks are real
    * (and the ×10 scale fixture proved a bare-ts key picks different
    * winners in different engines); id-less callers keep the old
    * semantics with ties documented as arbitrary. */
  private def tieKeyOrTs(ticks: DataFrame, ts: String, id: String): Column =
    if (ticks.columns.contains(id)) Determinism.tsTieKey(col(ts), col(id))
    else col(ts)

  /** Daily OHLC per symbol (A1, `:155-161`). One hash-agg shuffle on
    * (trade_date, symbol); min_by/max_by replace order-dependent
    * first/last, keyed on the (ts, id) composite so same-timestamp
    * ticks — real tick data has them; the ×10 fixture proved the bare
    * ts key diverges between engines — break ties deterministically. */
  def dailyOhlc(ticks: DataFrame, symbol: String = "symbol",
                ts: String = "event_ts", price: String = "price",
                qty: String = "qty", id: String = "event_id"): DataFrame = {
    val aggs = barAggs(ticks, ts, price, id)
    ticks.groupBy(to_date(col(ts)).as("trade_date"), col(symbol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The OHLC bar aggregate every bar shape shares: open/close by
    * min_by/max_by on [[tieKeyOrTs]], high/low, and the tick count. */
  private def barAggs(ticks: DataFrame, ts: String, price: String,
                      id: String): Seq[Column] = {
    val key = tieKeyOrTs(ticks, ts, id)
    Seq(
      min_by(col(price), key).as("open"),
      max(col(price)).as("high"),
      min(col(price)).as("low"),
      max_by(col(price), key).as("close"),
      count(lit(1)).as("n_ticks"))
  }

  /** N-duration OHLC bars (W4/`:326-340` intent): tumbling window +
    * min_by/max_by — ONE shuffle, vs the reference MV's window-sort +
    * DISTINCT (two wide exchanges). `window()` buckets are epoch-aligned. */
  def ohlcBars(ticks: DataFrame, duration: String,
               symbol: String = "symbol", ts: String = "event_ts",
               price: String = "price", id: String = "event_id"): DataFrame = {
    val aggs = barAggs(ticks, ts, price, id)
    ticks.groupBy(window(col(ts), duration).as("w"), col(symbol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("bar_start"), col(symbol),
        col("open"), col("high"), col("low"), col("close"), col("n_ticks"))
  }

  /** Bars rolled up to one row per (trade_date, symbol): open from the
    * earliest bar, close from the latest, high/low pointwise — the
    * official daily table the reconciliation diffs [[dailyOhlc]]
    * against. */
  def dailyFromBars(bars: DataFrame): DataFrame =
    bars.groupBy(to_date(col("bar_start")).as("trade_date"), col("symbol"))
      .agg(
        min_by(col("open"), col("bar_start")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("bar_start")).as("close"))

  /** Partial OHLC bar state: [[ohlcBars]]' aggregate plus the first/last
    * tick timestamps the MERGE needs to re-derive open/close across
    * partials — the decomposable-aggregate form of the bar (every field
    * is min/max/min_by/max_by/sum, all of which merge associatively). */
  def ohlcPartial(ticks: DataFrame, duration: String,
                  symbol: String = "symbol", ts: String = "event_ts",
                  price: String = "price", id: String = "event_id"): DataFrame = {
    val key = tieKeyOrTs(ticks, ts, id)
    val aggs = barAggs(ticks, ts, price, id) ++ Seq(
      // the MERGE's tie-break keys: composite (ts, id) extrema, so a
      // partial split that lands same-timestamp ticks in different
      // partials still re-derives the same open/close as recompute
      min(key).as("key_first"),
      max(key).as("key_last"))
    ticks.groupBy(window(col(ts), duration).as("w"), col(symbol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("bar_start"), col(symbol),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"), col("key_first"), col("key_last"))
  }

  /** Merge partial bar states into final bars: open follows the
    * earliest partial, close the latest, high/low/n_ticks combine
    * pointwise. Because every field merges associatively, refreshing a
    * materialized bar view with a new micro-batch is
    * merge(MV state, partial(batch)) — per-batch cost is the batch
    * scan plus a join-sized-by-touched-bars aggregate, NEVER a corpus
    * rescan; and any partial split (day files, late data, shuffled
    * batch boundaries) yields the identical final bars, which the
    * full-recompute oracle proves. */
  def ohlcMerge(partials: DataFrame, symbol: String = "symbol"): DataFrame =
    partials.groupBy(col("bar_start"), col(symbol))
      .agg(
        min_by(col("open"), col("key_first")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("key_last")).as("close"),
        sum(col("n_ticks")).as("n_ticks"))
      .select(col("bar_start"), col(symbol),
        col("open"), col("high"), col("low"), col("close"), col("n_ticks"))

  /** Runtime-parameterized bars — the reference's `aggregate_ticks_data`
    * dag_run.conf contract (`:326-347,416-419`): frequency + [from, to)
    * time range + symbol set (the reference accepts `symbols` but never
    * applies it; here it prunes). Filters run BEFORE the aggregation, so
    * on a date-partitioned warehouse they become partition pruning +
    * parquet row-group skipping (the timestamp predicate pushes to the
    * scan), and only the pruned slice is shuffled into bars. */
  def ohlcBarsFiltered(ticks: DataFrame, duration: String,
                       symbols: Seq[String], fromTs: String, toTs: String,
                       symbol: String = "symbol", ts: String = "event_ts",
                       price: String = "price"): DataFrame =
    ohlcBars(
      ticks.filter(
        col(symbol).isin(symbols: _*) &&
          col(ts) >= to_timestamp(lit(fromTs)) &&
          col(ts) < to_timestamp(lit(toTs))),
      duration, symbol, ts, price)

  /** Hourly OHLC via window functions — the reference MV's literal shape
    * (W1-W3 + SELECT DISTINCT, `:293-313`), with last_value given the full
    * frame the reference *intended* (W2 bug documented in SURVEY.md §2.5).
    * Kept alongside ohlcBars to prove plan equivalence; the groupBy twin is
    * the scale-preferred form (single shuffle, no sort). */
  def hourlyOhlcMv(ticks: DataFrame, symbol: String = "symbol",
                   ts: String = "event_ts", price: String = "price",
                   id: String = "event_id"): DataFrame = {
    val hour = date_trunc("hour", col(ts))
    val part = Window.partitionBy(col(symbol), hour)
    // (ts, id) ordering: same-timestamp ticks sort deterministically,
    // so first/last over the frame match the groupBy twin's tie-break
    val ordered =
      if (ticks.columns.contains(id)) part.orderBy(col(ts), col(id))
      else part.orderBy(col(ts))
    val full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ticks.select(
        col(symbol),
        hour.as("bar_hour"),
        first(col(price)).over(ordered).as("open"),
        max(col(price)).over(part).as("high"),
        min(col(price)).over(part).as("low"),
        last(col(price)).over(full).as("close"))
      .dropDuplicates(symbol, "bar_hour")
  }

  /** Day-over-day price change screen (`:258-288`): conditional-agg pivot
    * over two dates (A3), pct-change arithmetic (P11), HAVING-style filter
    * (P9). Null-safe: a symbol missing on either day yields null change and
    * is dropped by the threshold filter — the reference's semantics. */
  def priceChangePct(ticks: DataFrame, d1: String, d2: String,
                     thresholdPct: Double,
                     symbol: String = "symbol", ts: String = "event_ts",
                     price: String = "price"): DataFrame = {
    val day = to_date(col(ts))
    ticks
      .filter(day.isin(d1, d2))
      .groupBy(col(symbol))
      .agg(
        max(when(day === lit(d1), col(price))).as("price_d1"),
        max(when(day === lit(d2), col(price))).as("price_d2"))
      .withColumn("pct_change",
        (col("price_d2") - col("price_d1")) / col("price_d1") * 100)
      .filter(abs(col("pct_change")) > thresholdPct)
  }

  /** Day-over-day change via lag — the ranking/lag variant the reference
    * lacks (SURVEY.md §2.5 note): close-to-close change per symbol/day. */
  def dayOverDayLag(ticks: DataFrame, symbol: String = "symbol",
                    ts: String = "event_ts", price: String = "price"): DataFrame = {
    val daily = dailyOhlc(ticks, symbol, ts, price)
    val w = Window.partitionBy(col(symbol)).orderBy(col("trade_date"))
    daily.withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("close_change_pct",
        (col("close") - col("prev_close")) / col("prev_close") * 100)
  }
}
