package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for NAMED queries into plan files —
  * the per-wave before/after evidence OPTIMIZATION_r*.md references.
  *
  *   sbt "runMain graft.tools.PlanDump plans/r15 before bm25_capped_eval ..."
  *
  * args(0) = output dir, args(1) = tag (before/after), rest = query
  * names. Runs under Bench's conditions (local[SPARK_GRAFT_CPUS] with
  * as many shuffle partitions, default 4) so Exchange counts match what
  * Bench executes.
  * Queries with construction-time side effects (streaming runs,
  * pipeline writes) dump the plan of their final read-back frame —
  * that is what their registered fn returns. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query>...")
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val plan =
        try SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      val p = Paths.get(outDir, s"${n}_$tag.txt")
      Files.writeString(p, plan)
      println(s"[plandump] wrote $p (${plan.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
