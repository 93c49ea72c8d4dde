package org.apache.spark.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Runs one benchmark workload in one JVM and writes what it measured as
  * JSON. `perfbench/run.py` builds this, generates the inputs, starts it,
  * checks the outputs and turns the JSON into metrics.
  *
  * A run is: session start and one warm-up pass over the ops (set-up),
  * then timed passes until `seconds` have elapsed (at least `minPasses`),
  * then an untimed output dump. Every pass runs the ops in
  * a permutation drawn from `seed`. Each op is `SparkEntry.queries(op)`
  * (construct) followed by a write to the sink (noop, or parquet under
  * the work dir for the ETL workload).
  *
  * With `trace` on, Spark's SparkListener, QueryExecutionListener and
  * StreamingQueryListener record events on alternate timed passes, and
  * every event is attributed to the op whose time window holds it. The
  * other passes run with no listener, so the traced and untraced pass
  * times give the tracing overhead. Spans (run > setup/warmup/pass > op
  * > construct/plan/execute > job > stage) are kept in memory and
  * written with the result.
  *
  * The class lives under `org.apache.spark` only to wait for the
  * listener bus to drain (`listenerBus` is package-private).
  */
object Harness {

  final case class Conf(
      ops: Seq[String], input: String, work: String, out: String,
      seed: Long, seconds: Double, trace: Boolean, minPasses: Int,
      sink: String, cores: Int, canary: String)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("ops").split(',').toSeq, m("input"), m("work"), m("out"),
      m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("min-passes").toInt, m("sink"), m("cores").toInt, m("canary"))
  }

  // One wall clock for harness spans and Spark's event times (epoch ms).
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        start: Double, end: Double)

  /** One op execution inside a pass. */
  final class OpRun(val op: String, val start: Double) {
    var end = 0.0
    var constructEnd = 0.0
    var error: Option[String] = None
    var codegen = 0L
    var spanId = -1
    def wall: Double = (end - start) / 1e3
  }

  final class PassRun(val kind: String, val index: Int, val traced: Boolean,
                      val start: Double) {
    var end = 0.0
    val ops = mutable.ArrayBuffer.empty[OpRun]
    def wall: Double = (end - start) / 1e3
  }

  // ---- listener event records (filled on the listener bus thread) ----
  final case class StageEv(id: Int, submit: Double, end: Double, numTasks: Int,
                           runMs: Double, cpuNs: Double,
                           gcMs: Double, shW: Double, shR: Double, spill: Double,
                           inB: Double, inRows: Double, resB: Double,
                           outB: Double, outRows: Double)
  final case class TaskEv(stage: Int, launch: Double, runMs: Double, failed: Boolean)
  final case class QeEv(start: Double, analysis: Double, optimizer: Double,
                        planning: Double, planEnd: Double, nodes: Int,
                        exchanges: Int, broadcasts: Int)
  final case class StreamEv(ts: Double, durations: Map[String, Double])

  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobStarts = new ConcurrentLinkedQueue[(Int, Double, Seq[Int])]()
    val jobEnds = new ConcurrentLinkedQueue[(Int, Double)]()
    val stages = new ConcurrentLinkedQueue[StageEv]()
    val tasks = new ConcurrentLinkedQueue[TaskEv]()
    val qes = new ConcurrentLinkedQueue[QeEv]()
    val streams = new ConcurrentLinkedQueue[StreamEv]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.add((e.jobId, e.time.toDouble, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(TaskEv(e.stageId, e.taskInfo.launchTime.toDouble,
        if (m == null) e.taskInfo.duration.toDouble else m.executorRunTime.toDouble,
        e.taskInfo.failed))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      def d(x: Long) = x.toDouble
      stages.add(StageEv(i.stageId, d(i.submissionTime.getOrElse(0L)),
        d(i.completionTime.getOrElse(0L)), i.numTasks,
        d(m.executorRunTime), d(m.executorCpuTime), d(m.jvmGCTime),
        d(m.shuffleWriteMetrics.bytesWritten), d(m.shuffleReadMetrics.totalBytesRead),
        d(m.memoryBytesSpilled + m.diskBytesSpilled), d(m.inputMetrics.bytesRead),
        d(m.inputMetrics.recordsRead), d(m.resultSize),
        d(m.outputMetrics.bytesWritten), d(m.outputMetrics.recordsWritten)))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def dur(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      val planEnd = ph.values.map(_.endTimeMs).maxOption.getOrElse(0L).toDouble
      val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
      val nodes = plan.map(allNodes).getOrElse(Nil)
      qes.add(QeEv(start, dur("analysis"), dur("optimization"), dur("planning"),
        planEnd, nodes.size,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike])))
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ts = try java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
                 catch { case _: Throwable => nowMs }
        streams.add(StreamEv(ts,
          p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }.toMap))
      }
    }
  }

  /** Every physical node, looking through AQE wrappers, query stages and
    * subqueries. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    val self = p match {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec => Nil
      case other => Seq(other)
    }
    self ++ inner.flatMap(allNodes)
  }

  // ------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val rng = new scala.util.Random(c.seed)
    val work = Paths.get(c.work)
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, kind: String, name: String, s: Double, e: Double): Int = {
      spans += Span(spans.size, parent, kind, name, s, e); spans.size - 1
    }
    val runStart = nowMs
    val runSpan = span(-1, "run", c.ops.size.toString, runStart, 0)
    val recorder = new Recorder
    val passes = mutable.ArrayBuffer.empty[PassRun]
    var listening = false

    val t0 = nowMs
    val spark = SparkSession.builder()
        .master(s"local[${c.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", c.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def listen(on: Boolean): Unit = if (on != listening) {
      spark.sparkContext.listenerBus.waitUntilEmpty()
      if (on) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
        spark.streams.addListener(recorder.streamListener)
      } else {
        spark.sparkContext.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
        spark.streams.removeListener(recorder.streamListener)
      }
      listening = on
    }
    def dropTempViews(): Unit =
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))

    def sinkWrite(op: String, df: DataFrame): Unit = c.sink match {
      case "noop" => df.write.format("noop").mode("overwrite").save()
      case "parquet" => df.write.mode("overwrite").parquet(work.resolve("out").resolve(op).toString)
    }

    def runOp(parent: Int, op: String): OpRun = {
      val r = new OpRun(op, nowMs)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.sparkContext.setLocalProperty("perfbench.op", op)
      try {
        val df = graft.SparkEntry.queries(op)(spark, c.input)
        r.constructEnd = nowMs
        sinkWrite(op, df)
      } catch {
        case e: Throwable =>
          if (r.constructEnd == 0) r.constructEnd = nowMs
          r.error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
          System.err.println(s"[perfbench] $op failed: ${r.error.get}")
      }
      r.end = nowMs
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      r.codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      dropTempViews()
      r.spanId = span(parent, "op", op, r.start, r.end)
      span(r.spanId, "construct", op, r.start, r.constructEnd)
      r
    }

    def runPass(kind: String, index: Int, traced: Boolean): PassRun = {
      listen(traced)
      val order = rng.shuffle(c.ops)
      val p = new PassRun(kind, index, traced, nowMs)
      val sid = span(runSpan, kind, index.toString, p.start, 0)
      order.foreach { op =>
        val r = runOp(sid, op)
        System.err.println(f"[perfbench] $kind $index $op ${r.wall}%.3f s")
        p.ops += r
      }
      p.end = nowMs
      spans(sid) = spans(sid).copy(end = p.end)
      passes += p
      p
    }

    def timeCanary(): Double = {
      val t0 = nowMs
      graft.SparkEntry.queries(c.canary)(spark, c.input)
        .write.format("noop").mode("overwrite").save()
      dropTempViews()
      (nowMs - t0) / 1e3
    }

    // ---- set-up: session start (above), canary, warm-up pass ----
    // the first canary run pays the JVM's first-query costs; the second
    // is the reference the end-of-run canary is compared with
    timeCanary()
    val canaryBefore = timeCanary()
    span(runSpan, "setup", "0", t0, nowMs)
    val warm = runPass("warmup", 0, traced = c.trace)
    val setupS = (warm.end - t0) / 1e3
    val cachedAfterSetup = cachedBytes(spark)

    // ---- timed passes ----
    val tStart = nowMs
    var p = 0
    while (p < c.minPasses || (nowMs - tStart) / 1e3 < c.seconds) {
      runPass("pass", p, traced = c.trace && p % 2 == 0)
      p += 1
    }
    listen(false)
    val canaryAfter = timeCanary()
    spans(runSpan) = spans(runSpan).copy(end = nowMs)

    // ---- end-of-run state, before the output dump ----
    System.gc(); Thread.sleep(200); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val cached = cachedBytes(spark)
    val disk = Seq("tmp", "local", "warehouse", "out").map(d => dirBytes(work.resolve(d))).sum

    // ---- untimed output dump for the correctness check ----
    val check = work.resolve(if (c.sink == "parquet") "out" else "check")
    if (c.sink != "parquet") c.ops.foreach { op =>
      try graft.SparkEntry.queries(op)(spark, c.input).coalesce(1)
        .write.mode("overwrite").parquet(check.resolve(op).toString)
      catch { case e: Throwable => System.err.println(s"[perfbench] $op dump failed: $e") }
      dropTempViews()
    }
    val oracle = graft.SparkEntry.oracleSql

    val json = new StringBuilder
    val attrib = attribute(passes.toSeq, recorder, spans)
    json ++= "{"
    json ++= s""""cores":${c.cores},"heap_cap_bytes":${Runtime.getRuntime.maxMemory},"""
    json ++= s""""canary_before_s":$canaryBefore,"canary_after_s":$canaryAfter,"""
    json ++= s""""heap_bytes":$heap,"cached_bytes":$cached,"cached_after_setup_bytes":$cachedAfterSetup,"disk_bytes":$disk,"""
    json ++= s""""check_dir":${js(check.toString)},"""
    json ++= s""""setup_s":$setupS,"""
    json ++= "\"oracle\":" + c.ops.map(o => js(o) + ":" + oracle.get(o).map(js).getOrElse("null"))
      .mkString("{", ",", "}") + ","
    json ++= "\"passes\":" + passes.map { p =>
      s"""{"kind":${js(p.kind)},"index":${p.index},"traced":${p.traced},"wall_s":${p.wall},"ops":""" +
        p.ops.map(o => opJson(o, attrib.get(o))).mkString("[", ",", "]") + "}"
    }.mkString("[", ",", "]") + ","
    json ++= "\"spans\":" + (if (c.trace) spans.map(s =>
      s"""[${s.id},${s.parent},${js(s.kind)},${js(s.name)},${s.start},${s.end}]""")
      .mkString("[", ",", "]") else "[]")
    json ++= "}"
    Files.writeString(Paths.get(c.out), json.toString)
    spark.stop()
  }

  private def cachedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def dirBytes(root: Path): Long = {
    if (!Files.exists(root)) return 0L
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => try Files.size(p) catch { case _: Throwable => 0L }).sum
    finally walk.close()
  }

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  /** Per-op sums of the listener events whose time falls in that op. */
  final class OpStats {
    val v = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, x: Double): Unit = v(k) += x
  }

  private def attribute(passes: Seq[PassRun], rec: Recorder,
                        spans: mutable.ArrayBuffer[Span]): Map[OpRun, OpStats] = {
    val traced = passes.filter(_.traced).flatMap(_.ops).sortBy(_.start).toArray
    if (traced.isEmpty) return Map.empty
    val starts = traced.map(_.start)
    // the op whose [start, end] holds t (ops run one after another)
    def find(t: Double): Option[OpRun] = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val j = if (i >= 0) i else -i - 2
      if (j >= 0 && t <= traced(j).end + 1) Some(traced(j)) else None
    }
    val out = traced.map(_ -> new OpStats).toMap
    def add(o: OpRun, k: String, x: Double): Unit = out(o).add(k, x)
    def inConstruct(o: OpRun, t: Double) = t < o.constructEnd

    // Catalyst phases; the last plan phase inside the sink call is the plan span
    val sinkPlanEnd = mutable.Map.empty[OpRun, (Double, Double)]
    rec.qes.asScala.foreach { q =>
      find(q.start).foreach { o =>
        add(o, "analysis_s", q.analysis); add(o, "optimizer_s", q.optimizer)
        add(o, "planning_s", q.planning); add(o, "plan_nodes", q.nodes)
        add(o, "exchanges", q.exchanges); add(o, "broadcasts", q.broadcasts)
        if (!inConstruct(o, q.start) && !sinkPlanEnd.contains(o))
          sinkPlanEnd(o) = (math.max(q.start, o.constructEnd), math.min(q.planEnd, o.end))
      }
    }
    // plan + execute spans under each op's sink call
    traced.foreach { o =>
      val (ps, pe) = sinkPlanEnd.getOrElse(o, (o.constructEnd, o.constructEnd))
      spans += Span(spans.size, o.spanId, "plan", o.op, ps, pe)
      spans += Span(spans.size, o.spanId, "execute", o.op, pe, o.end)
      add(o, "plan_s", (pe - ps) / 1e3)
      add(o, "execute_s", (o.end - pe) / 1e3)
      add(o, "construct_s", (o.constructEnd - o.start) / 1e3)
      add(o, "codegen_compiles", o.codegen.toDouble)
    }
    // phase span (construct or execute) of an op that holds time t
    val phaseSpan: Map[OpRun, Seq[Span]] = traced.map { o =>
      o -> spans.filter(s => s.parent == o.spanId &&
        (s.kind == "construct" || s.kind == "execute" || s.kind == "plan")).toSeq
    }.toMap
    def phaseOf(o: OpRun, t: Double): Int =
      phaseSpan(o).find(s => t >= s.start && t <= s.end).map(_.id).getOrElse(o.spanId)

    // jobs
    val jobEnd = rec.jobEnds.asScala.toMap
    val stageJob = mutable.Map.empty[Int, (OpRun, Int)]
    rec.jobStarts.asScala.foreach { case (id, t, stageIds) =>
      find(t).foreach { o =>
        add(o, "jobs", 1)
        if (inConstruct(o, t)) add(o, "construct_jobs", 1)
        val end = jobEnd.getOrElse(id, t)
        val sid = spans.size
        spans += Span(sid, phaseOf(o, t), "job", id.toString, t, end)
        stageIds.foreach(s => stageJob.getOrElseUpdate(s, (o, sid)))
      }
    }
    // tasks, grouped by stage
    val tasksBy = rec.tasks.asScala.groupBy(_.stage)
    rec.stages.asScala.foreach { s =>
      stageJob.get(s.id).foreach { case (o, jobSpan) =>
        add(o, "stages", 1)
        add(o, "tasks", s.numTasks)
        add(o, "task_s", s.runMs / 1e3); add(o, "task_cpu_s", s.cpuNs / 1e9)
        add(o, "gc_s", s.gcMs / 1e3)
        add(o, "shuffle_write_mb", s.shW / 1e6); add(o, "shuffle_read_mb", s.shR / 1e6)
        add(o, "spill_mb", s.spill / 1e6); add(o, "input_mb", s.inB / 1e6)
        add(o, "input_rows", s.inRows); add(o, "result_mb", s.resB / 1e6)
        add(o, "output_mb", s.outB / 1e6); add(o, "output_rows", s.outRows)
        val ts = tasksBy.getOrElse(s.id, Nil).toSeq
        add(o, "failed_tasks", ts.count(_.failed))
        add(o, "task_wait_s", ts.map(t => math.max(0.0, t.launch - s.submit)).sum / 1e3)
        if (ts.nonEmpty) {
          val run = ts.map(_.runMs).sorted
          add(o, "straggler_s", (run.last - run(run.size / 2)) / 1e3)
        }
        spans += Span(spans.size, jobSpan, "stage", s.id.toString, s.submit, s.end)
      }
    }
    // streaming micro-batches
    rec.streams.asScala.foreach { e =>
      find(e.ts).foreach { o =>
        val d = e.durations.withDefaultValue(0.0)
        add(o, "stream_batches", 1)
        add(o, "stream_trigger_s", d("triggerExecution"))
        add(o, "stream_addbatch_s", d("addBatch"))
        add(o, "stream_commit_s", d("walCommit") + d("commitOffsets"))
        add(o, "stream_planning_s", d("queryPlanning"))
        add(o, "stream_offsets_s", d("latestOffset") + d("getBatch") + d("getOffset"))
      }
    }
    out
  }

  private def opJson(o: OpRun, stats: Option[OpStats]): String = {
    val base = Seq(
      "op" -> js(o.op), "wall_s" -> o.wall.toString,
      "construct_wall_s" -> ((o.constructEnd - o.start) / 1e3).toString,
      "error" -> o.error.map(js).getOrElse("null"))
    val extra = stats.toSeq.flatMap(_.v.toSeq.map { case (k, x) => k -> x.toString })
    (base ++ extra).map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
  }
}
