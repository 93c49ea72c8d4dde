package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * All tables are columnar parquet; Spark's vectorized reader + Catalyst
  * column pruning / filter pushdown make these scans scale-ready: at 100 TB
  * the same code reads a partitioned table and prunes partitions/row-groups.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events fixture stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark 4 refuses by default. Read nanos as long (session conf, set at
    * runtime so this works under any driver-created session) and truncate
    * to microseconds — the same truncation DuckDB applies, so oracle
    * timestamps match exactly. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, dir, "events"))
  }

  /** Fixture-drift shim shared by the batch and streaming events readers.
    * The driver has shipped `ts` as parquet TIMESTAMP(NANOS) (read as a
    * nanos long under nanosAsLong) and as TIMESTAMP(MICROS) without
    * timezone (read by Spark 4 as TIMESTAMP_NTZ). Normalize both to a
    * session-TZ TimestampType so every consumer (unix_micros, watermarks,
    * window()) sees one type. All our sessions pin
    * spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast preserves the
    * exact microsecond value DuckDB reads from the same file. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  /** The events fixture's on-disk schema, read from the parquet footer —
    * the ONE source of truth for streaming readers (which must pass an
    * explicit schema; hard-coding it would silently yield nulls if the
    * fixture schema drifted). Read through the plain table path: a glob
    * here makes Spark probe it as a literal streaming-sink metadata path
    * and log a FileNotFoundException stack trace per call. */
  def eventsOnDiskSchema(spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(spark, dir, "events").schema
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
