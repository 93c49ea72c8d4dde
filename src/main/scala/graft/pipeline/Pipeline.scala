package graft.pipeline

import graft.Tables
import graft.ops.{QualityOps, TickOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's DAG (E1 ingest → E2 quality → E3 warehouse/analytics)
  * as one lazy Spark program — SURVEY.md §3. No Airflow, no Postgres:
  * task boundaries become plan stages, the warehouse is a date-partitioned
  * parquet table (partition pruning replaces the B-tree indexes, §4), and
  * the per-file loops become input splits.
  *
  * E1 also exercises the CSV surface (S2/S7): the cleaned ticks round-trip
  * through header CSV with an explicit schema (no inference — S2's schema
  * discipline), mirroring the reference's csv→parquet conversion.
  */
object Pipeline {

  final case class Result(
      warehouseRows: Long, csvRoundtripRows: Long, invalidRows: Long,
      missingSymbols: Long, reconcileRows: Long, hourlyBars: Long,
      partitions: Long)

  private val tickCsvSchema = StructType(Seq(
    StructField("symbol", StringType),
    StructField("event_ts", TimestampType),
    StructField("price", DoubleType),
    StructField("trader_id", LongType),
    StructField("qty", DoubleType),
    StructField("event_id", LongType)))

  /** Run the full daily pipeline against a fixture dir; artifacts land
    * under `workDir`. Returns per-stage row counts (the QC report).
    *
    * Stage counts that correspond to a write ride that write as
    * `Observation` metrics — collected by the executors DURING the job,
    * so they cost zero extra actions/scans; only count-of-something-
    * never-written (csv read-back, missing keys, MV read-back,
    * partitions) goes through the one union-of-aggregates job. */
  def runDaily(spark: SparkSession, fixtureDir: String, workDir: String): Result = {
    // Independent stage writes are submitted from a small driver thread
    // pool so the next job's tasks back-fill executors freed by the
    // current job's tail (guide §2.6 — actions are only sequential
    // because the driver calls them sequentially). Dependencies are
    // explicit: the CSV export needs only `ticks`; the three QC/MV
    // writes need only the written warehouse; the final counts job
    // needs everything. Results are bit-identical — only the wall-clock
    // interleaving changes (measured r15: the e2e row barely
    // parallelized, c8/c32 ratio 1.16, because six tiny jobs ran back
    // to back on a 32-core box).
    //
    // Failure path: every overlapped stage's jobs carry one job tag (a
    // tag, not a job group, so the caller's group and local properties
    // stay as they were). The first failed stage cancels its tagged
    // siblings, and the run waits for every sibling before it rethrows,
    // so no job of the run outlives the call.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val stages = new Stages(spark.sparkContext,
      s"graft-pipeline-${java.util.UUID.randomUUID()}",
      scala.concurrent.ExecutionContext.fromExecutor(pool))
    try runDailyPhases(spark, fixtureDir, workDir, stages)
    finally pool.shutdown()
  }

  /** The overlapped stages of one run, their jobs under the tag `tag`. */
  private final class Stages(sc: org.apache.spark.SparkContext, tag: String,
                             pool: scala.concurrent.ExecutionContext) {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration

    def submit(body: => Unit): Future[Unit] = Future {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
    }(pool)

    /** Wait for `fs`. On the first failure cancel the run's tagged jobs,
      * wait for every sibling to finish, then rethrow that failure. */
    def awaitAll(fs: Future[Unit]*): Unit = {
      implicit val callbacks: ExecutionContext = ExecutionContext.parasitic
      try Await.result(Future.sequence(fs), Duration.Inf) // fails fast
      catch { case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        fs.foreach(Await.ready(_, Duration.Inf))
        throw e
      }
    }
  }

  private def runDailyPhases(spark: SparkSession, fixtureDir: String,
                             workDir: String, stages: Stages): Result = {
    // E1: ingest + normalize + day-partitioned parquet warehouse
    val obsWh = new org.apache.spark.sql.Observation("wh_rows")
    val ticks = TickOps.normalizeEvents(Tables.events(spark, fixtureDir))
      .withColumn("trade_date", to_date(col("event_ts")))
    // cluster rows by the partition column before the partitioned write:
    // one file per date instead of (#tasks × #dates) small files — the
    // standard small-files discipline for a partitioned warehouse
    val fWh = stages.submit {
      ticks.observe(obsWh, count(lit(1)).as("n"))
        .repartition(col("trade_date"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("trade_date")
        .parquet(s"$workDir/warehouse/ticks")
    }
    // E1b: CSV round-trip with explicit schema (S2/S7 surface) —
    // independent of the warehouse write, overlapped with it
    val fCsv = stages.submit {
      ticks.drop("trade_date").limit(1000)
        .write.mode(SaveMode.Overwrite).option("header", "true")
        .csv(s"$workDir/export/ticks_csv")
    }
    stages.awaitAll(fWh, fCsv) // read-back lists files at resolution
    val warehouse = spark.read.parquet(s"$workDir/warehouse/ticks")
    val csvBack = spark.read.option("header", "true")
      .schema(tickCsvSchema).csv(s"$workDir/export/ticks_csv")

    // E2: quality checks — three report branches off ONE cached scan
    // (the reference re-reads the raw files per check; here the warehouse
    // scan is shared and cached across the QC branches)
    warehouse.cache()
    try {
      val qcCols = Seq("price", "qty", "trader_id")
      val invalid = TickOps.invalidRows(warehouse, qcCols)
      // reference universe = observed symbols + a planted absent one, so the
      // bhavcopy-style missing-symbol report provably fires (expect 1)
      val universe = warehouse.select("symbol").distinct()
        .unionByName(spark.sql("SELECT 'GHOST' AS symbol"))
      val missing = QualityOps.missingKeys(
        universe, "symbol", warehouse.select("symbol"), "symbol")
      val daily = TickOps.dailyOhlc(warehouse)
      val hourly = TickOps.ohlcBars(warehouse, "1 hour")
      val official = TickOps.dailyFromBars(hourly)
      val recon = QualityOps.reconcile(daily, official, Seq("trade_date", "symbol"))
      // E2/E3 writes all read the one cached warehouse scan and are
      // mutually independent — overlapped (§2.6); block-level cache locks
      // make the concurrent first materialization compute-once
      val obsInvalid = new org.apache.spark.sql.Observation("invalid_rows")
      val fInvalid = stages.submit {
        invalid.observe(obsInvalid, count(lit(1)).as("n"))
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .option("header", "true").csv(s"$workDir/reports/invalid")
      }
      val obsRecon = new org.apache.spark.sql.Observation("recon_rows")
      val fRecon = stages.submit {
        recon.observe(obsRecon, count(lit(1)).as("n"))
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .option("header", "true").csv(s"$workDir/reports/reconcile")
      }
      // E3: analytics materialization (the reference's MV → parquet table)
      val fMv = stages.submit {
        hourly.write.mode(SaveMode.Overwrite)
          .parquet(s"$workDir/warehouse/hourly_ohlc")
      }
      stages.awaitAll(fInvalid, fRecon, fMv)

      // Remaining counts (nothing wrote them): ONE union-of-aggregates job
      // — each branch collapses to a single row before the union, so the
      // driver fires one collect over four tiny partial aggregates (the
      // warehouse scan is still shared via the cache above)
      def labeled(df: DataFrame, label: String): DataFrame =
        df.agg(count(lit(1)).as("n")).select(lit(label).as("k"), col("n"))
      val counts = labeled(csvBack, "csv")
        .unionByName(labeled(missing, "missing"))
        .unionByName(labeled(spark.read.parquet(s"$workDir/warehouse/hourly_ohlc"), "hourly"))
        .unionByName(warehouse.agg(countDistinct(col("trade_date")).as("n"))
          .select(lit("partitions").as("k"), col("n")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Result(
        warehouseRows = obsWh.get("n").asInstanceOf[Long],
        csvRoundtripRows = counts("csv"),
        invalidRows = obsInvalid.get("n").asInstanceOf[Long],
        missingSymbols = counts("missing"),
        reconcileRows = obsRecon.get("n").asInstanceOf[Long],
        hourlyBars = counts("hourly"),
        partitions = counts("partitions"))
    } finally warehouse.unpersist()
  }

  /** The pipeline result as a one-row DataFrame (driver-contract shape). */
  def runDailyAsDf(spark: SparkSession, fixtureDir: String, workDir: String): DataFrame = {
    val r = runDaily(spark, fixtureDir, workDir)
    import spark.implicits._
    Seq(r).toDF()
  }
}
