package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** User-behavior analytics over the event stream: cohort retention and
  * ordered funnel conversion.
  *
  * The reference pipeline stops at per-instrument aggregates
  * (data_platform_final.py:319-344 hourly/daily rollups); these are the
  * user-axis twins a product/data team runs on the same events. Both are
  * built to scale on the user dimension:
  *
  *  - Retention reduces the stream to distinct (user, day) activity
  *    first — the widest shuffle is |users| × |days|, orders of magnitude
  *    below |events| — then joins the per-user cohort date on the user
  *    key. The |users|-row relations are NOT hint-broadcast (Spark caps
  *    broadcasts at 8 GB; billions of users must hash-join on the key,
  *    and AQE broadcasts them automatically when actually small); only
  *    the per-cohort-day size table, bounded by calendar days, carries
  *    a broadcast hint.
  *  - The funnel folds one filtered hash-aggregate per step into a
  *    single |users|-keyed lineage. No window over the full stream, no
  *    event-list collection per user, no forced broadcast.
  */
object BehaviorOps extends Serializable {

  /** Cohort retention matrix. Users are cohorted by the calendar day of
    * their first event; for every (cohort day, day offset) cell we report
    * how many of the cohort's users were active that day and the
    * retention rate vs the cohort size at offset 0.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), to_date(col("ts")).as("active_date"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("active_date")).as("cohort_date"))
    val sizes = cohorts.groupBy(col("cohort_date"))
      .agg(count(lit(1)).as("n_cohort"))
    activity.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_date"),
        datediff(col("active_date"), col("cohort_date")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_date"))
      .select(col("cohort_date"), col("day_offset"), col("n_active"),
        col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6)
          .as("retention"))
  }

  /** Strictly-ordered funnel conversion. `steps` is the ordered list of
    * event types; a user converts through step i only with an event of
    * that type STRICTLY AFTER their step i-1 conversion time (earliest
    * such event wins). Returns one row per step with the converted user
    * count and the rate vs step 1.
    *
    * ONE lineage: a per-user frame accumulates a conversion-time column
    * per step (null = never converted), then a single global aggregate
    * counts every step's non-null column at once and `stack` unpivots it
    * to step rows. The event stream is scanned once per step TOTAL — the
    * per-step union form re-evaluates each prefix chain, scanning events
    * O(S²) times.
    *
    * Each stage's event contact is an INNER join of the (user, prev-time)
    * projection against that step's filtered slice, min-aggregated, then
    * left-joined back onto the |users| frame (the inner-join-then-join-
    * back shape also keeps the heavy side append-only: no left-outer
    * against the raw events). The join back is |users|×|users|,
    * key-partitioned (AQE broadcasts it at small scale; at billions of
    * users no side is broadcast-able and a forced hint would fail).
    *
    * HOT-KEY (Zipf) POSTURE — `salts`: with a hot user owning a large
    * share of events, the user-keyed join serializes that user's whole
    * event mass through ONE task, and AQE cannot help (its skew split
    * only matches joins whose children are raw shuffle stages; these
    * children are aggregates reusing the join's partitioning, with or
    * without forceOptimizeSkewedJoin). `salts > 1` spreads each user's
    * events over `salts` deterministic sub-keys (xxhash64 of the event
    * time) and replicates the |users|-row probe side per salt: per-task
    * work drops to |hot events|/salts, at the cost of one extra
    * |users|-row exchange per step (the post-join min regroups by bare
    * user). Results are bit-identical for any salts value —
    * HotKeySpec pins both the spread and the equality. */
  def funnel(events: DataFrame, steps: Seq[String],
             salts: Int = 1): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val e = events.select(col("user_id"), col("ts"), col("event_type"))
    val conv = steps.zipWithIndex.foldLeft(Option.empty[DataFrame]) {
      case (None, (step, i)) =>
        Some(e.filter(col("event_type") === step)
          .groupBy(col("user_id")).agg(min(col("ts")).as(s"__t$i")))
      case (Some(acc), (step, i)) =>
        val prev = s"__t${i - 1}"
        val stepMin =
          if (salts == 1)
            acc.select(col("user_id"), col(prev))
              .join(e.filter(col("event_type") === step), Seq("user_id"))
              .filter(col("ts") > col(prev))
              .groupBy(col("user_id"))
              .agg(min(col("ts")).as(s"__t$i"))
          else {
            val probes = acc.select(col("user_id"), col(prev))
              .withColumn("__salt",
                explode(lit((0 until salts).toArray)))
            val salted = e.filter(col("event_type") === step)
              .withColumn("__salt",
                pmod(xxhash64(col("ts")), lit(salts.toLong)).cast("int"))
            probes.join(salted, Seq("user_id", "__salt"))
              .filter(col("ts") > col(prev))
              .groupBy(col("user_id"))
              .agg(min(col("ts")).as(s"__t$i"))
          }
        Some(acc.join(stepMin, Seq("user_id"), "left"))
    }.get
    val perStep = steps.indices.map(i => count(col(s"__t$i")).as(s"__n$i"))
    // backslashes must be escaped BEFORE quotes, or a step name ending in
    // a backslash swallows the closing quote of the SQL string literal
    val stackArgs = steps.zipWithIndex.map { case (step, i) =>
      s"${i + 1}, '${step.replace("\\", "\\\\").replace("'", "\\'")}', __n$i"
    }.mkString(", ")
    val counts = conv.agg(perStep.head, perStep.tail: _*)
      .selectExpr(
        s"stack(${steps.length}, $stackArgs) AS (step, event_type, n_users)",
        "__n0 AS n_base")
    conversionRates(counts)
  }

  /** Final conversion-rate projection over (step, event_type, n_users,
    * n_base): one place owns the null-guard and 6-dp rounding policy for
    * every funnel variant (batch and streaming). */
  def conversionRates(countsWithBase: DataFrame): DataFrame =
    countsWithBase.select(col("step"), col("event_type"), col("n_users"),
      round(col("n_users").cast("double") /
        nullif(col("n_base").cast("double"), lit(0d)), 6)
        .as("conversion"))

  /** One emitted funnel advance: `user_id` reached `step` at `conv_us`. */
  final case class StepConv(user_id: Long, step: Int, conv_us: Long)

  /** Per-user machine state: next step index awaited + the previous
    * step's conversion time (MinValue before step 1 — the uniform
    * strict-after guard). */
  final case class FunnelSt(step: Int, last_us: Long)

  /** Watermark-buffered state: machine position + not-yet-settled
    * events (ts_us, stepIdx). */
  final case class FunnelBuf(step: Int, last_us: Long,
                             pending: Seq[(Long, Int)])

  private def advance(userId: Long, st: FunnelSt, nSteps: Int,
                      evs: Seq[(Long, Int)],
                      out: collection.mutable.Builder[StepConv, Seq[StepConv]]): FunnelSt = {
    var s = st
    evs.foreach { case (ts, idx) =>
      if (s.step < nSteps && idx == s.step && ts > s.last_us) {
        s = FunnelSt(s.step + 1, ts)
        out += StepConv(userId, s.step, ts)
      }
    }
    s
  }

  /** Streaming funnel: the [[funnel]] state machine per user in
    * `flatMapGroupsWithState` — a conversion row is emitted the moment a
    * user advances a step. Identical semantics to the batch form
    * (earliest event strictly after the previous step's conversion
    * wins): greedily advancing over events in event-time order IS the
    * batch min-chain, and the strict-inequality guard makes same-ts ties
    * order-insensitive.
    *
    * ORDERING ASSUMPTION (same contract as
    * [[SessionOps.sessionizeStream]]): per-user event-time order must
    * hold ACROSS micro-batches (within a batch events are sorted here);
    * for genuinely out-of-order sources use
    * [[funnelStreamWatermarked]]. Per-user state is two scalars —
    * bounded regardless of stream length.
    *
    * `events` carries (user_id, ts_us, step_idx), pre-mapped so only
    * funnel-relevant events reach the state machine. */
  def funnelStream(events: Dataset[(Long, Long, Int)],
                   nSteps: Int): Dataset[StepConv] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fn(userId: Long, batch: Iterator[(Long, Long, Int)],
           state: GroupState[FunnelSt]): Iterator[StepConv] = {
      val st = state.getOption.getOrElse(FunnelSt(0, Long.MinValue))
      val out = Seq.newBuilder[StepConv]
      val next = advance(userId, st, nSteps,
        batch.map(e => (e._2, e._3)).toSeq.sortBy(e => (e._1, e._2)), out)
      // state persists even when fully converted: dropping it would let
      // a later batch re-run the machine from step 0 and re-emit
      state.update(next)
      out.result().iterator
    }
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
  }

  /** Out-of-order-tolerant streaming funnel: events buffer in state
    * until the watermark proves nothing earlier can still arrive, then
    * fold through the machine in event-time order — cross-batch
    * disorder within the delay cannot reorder conversions (the same
    * buffer-and-settle skeleton as
    * [[SessionOps.sessionizeStreamWatermarked]]). Events later than the
    * watermark allows are dropped, matching watermarked-aggregation
    * policy. Per-user state is the two machine scalars plus the pending
    * buffer, which drains on every watermark advance — bounded by
    * arrival rate × delay.
    *
    * `events` carries (user_id, ts_us, step_idx, event_ts); the
    * timestamp column must already carry the stream's watermark. */
  def funnelStreamWatermarked(events: Dataset[(Long, Long, Int, java.sql.Timestamp)],
                              nSteps: Int): Dataset[StepConv] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fn(userId: Long, batch: Iterator[(Long, Long, Int, java.sql.Timestamp)],
           state: GroupState[FunnelBuf]): Iterator[StepConv] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val st = state.getOption.getOrElse(FunnelBuf(0, Long.MinValue, Nil))
      val incoming = batch.map(e => (e._2, e._3)).filter(_._1 >= wmUs).toSeq
      val (settled, pending) =
        (st.pending ++ incoming).sortBy(e => (e._1, e._2))
          .partition(_._1 <= wmUs)
      val out = Seq.newBuilder[StepConv]
      val next = advance(userId, FunnelSt(st.step, st.last_us), nSteps,
        settled, out)
      if (next.step == nSteps) {
        // fully converted: the terminal state persists (pending events
        // can no longer advance anything and are dropped) — removing it
        // would let a later batch re-run the machine from step 0 and
        // re-emit conversions, the exact bug the in-order sibling's
        // state-keep comment guards against. Two scalars + Nil: bounded.
        state.update(FunnelBuf(next.step, next.last_us, Nil))
      } else {
        state.update(FunnelBuf(next.step, next.last_us, pending))
        pending.headOption.foreach { case (firstUs, _) =>
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs() + 1, firstUs / 1000L + 1))
        }
      }
      out.result().iterator
    }
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Map raw events to the funnel-stream input: only `steps` types
    * survive, as (user_id, ts_us, step_idx). An event whose type appears
    * at SEVERAL step positions (steps = view, click, view) emits one row
    * per matching index — the machine advances on whichever index it is
    * currently awaiting, so repeated step types match batch semantics
    * instead of silently mapping to a single position. Shared by the
    * streaming entry points and specs so the mapping can't drift. */
  def toStepEvents(events: DataFrame, steps: Seq[String]): DataFrame = {
    val matches = array(steps.zipWithIndex.map { case (s, i) =>
      when(col("event_type") === s, lit(i)) }: _*)
    events
      .withColumn("step_idx",
        explode(filter(matches, c => c.isNotNull)))
  }

  /** Run the in-order streaming funnel to completion over the events
    * parquet (AvailableNow, memory sink) and return the conversion rows. */
  def funnelStreamAvailableNow(spark: org.apache.spark.sql.SparkSession,
                               dir: String, steps: Seq[String],
                               queryName: String = "stream_funnel"): DataFrame = {
    import spark.implicits._
    // schema comes from the shared footer-derived stream (Tables'
    // single source of truth), not a hard-coded copy that could drift
    val raw = graft.streaming.StreamingConf.tableStream(spark, dir, "events")
    val stepEvents = toStepEvents(raw, steps)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("step_idx"))
      .as[(Long, Long, Int)]
    graft.streaming.StreamingConf.runAvailableNow(
      funnelStream(stepEvents, steps.length).toDF(), queryName, "append")
  }
}
