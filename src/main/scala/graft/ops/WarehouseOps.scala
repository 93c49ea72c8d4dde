package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, max, struct}

/** Partitioned-warehouse maintenance: the incremental write path for the
  * reference's daily cadence (`data_platform_final.py:49` `@daily`) on a
  * date-partitioned table.
  *
  * A naive `mode(Overwrite)` on a partitioned path drops EVERY partition
  * before writing — a daily refresh would rewrite the whole history.
  * Dynamic partition overwrite replaces only the partitions present in
  * the incoming frame: the day's data rewrites the day's directory,
  * untouched dates keep their files byte-for-byte (spec-asserted). At
  * 100 TB this is the difference between a bounded daily job and
  * rewriting the warehouse; it also keeps concurrent readers of other
  * partitions valid.
  */
object WarehouseOps {

  /** Catalog-managed warehouse refresh: the reference's S8-S11 surface
    * (CREATE TABLE IF NOT EXISTS + indexed layout + incremental load)
    * as a session-catalog table. First call creates the table
    * partitioned by `partitionCol` and bucketed by `bucketCol` — the
    * B-tree-indexes-as-layout design BucketingSpec proves (co-bucketed
    * symbol joins run with NO shuffle exchange; `warehouse_catalog`
    * carries that assertion on a real query plan). Subsequent calls
    * land `updates` with DYNAMIC partition overwrite through
    * `insertInto`: only the partitions present in `updates` rewrite,
    * bucketing preserved — the bounded daily job at 100 TB.
    * (`insertInto` is positional: columns are re-ordered to the table's
    * schema first.) */
  def refreshCatalogTable(updates: DataFrame, table: String,
                          partitionCol: String = "trade_date",
                          bucketCol: String = "symbol",
                          nBuckets: Int = 8): Unit = {
    val spark = updates.sparkSession
    if (!spark.catalog.tableExists(table)) {
      updates.write
        .partitionBy(partitionCol)
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(table)
    } else {
      // session toggle: Spark 4.1.2's InsertIntoStatement has no options
      graft.streaming.StreamingConf.withConf(spark,
          "spark.sql.sources.partitionOverwriteMode", "dynamic") {
        updates.select(spark.table(table).columns.map(col): _*)
          .write.mode(SaveMode.Overwrite).insertInto(table)
      }
    }
  }

  /** Literal external-warehouse sink — the reference's SQLAlchemy
    * `to_sql(..., if_exists='append')` (data_platform_final.py:249-250)
    * as a JDBC append. The managed-table path above is the in-engine
    * mapping of S8; this is the code path for a user pointing the
    * engine at an actual external database.
    *
    * Scale discipline: each partition opens one connection and streams
    * batched INSERTs, so the upstream frame is coalesced to
    * `maxConnections` first — the external DB's connection pool, not
    * the cluster's task count, is the constraint a 1000-executor job
    * must respect. Append-only (the reference's if_exists='append'):
    * idempotence belongs to the caller's keys, same as the managed
    * twin's append-mode spec. */
  def appendJdbc(df: DataFrame, url: String, table: String,
                 properties: java.util.Properties = new java.util.Properties(),
                 maxConnections: Int = 8): Unit =
    df.coalesce(maxConnections).write.mode(SaveMode.Append)
      .jdbc(url, table, properties)

  /** Small bucketed dimension table (co-bucketed with the tick
    * warehouse on `bucketCol` so joins stay exchange-free). */
  def saveBucketedDim(dim: DataFrame, table: String,
                      bucketCol: String = "symbol",
                      nBuckets: Int = 8): Unit =
    dim.write.bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .mode(SaveMode.Overwrite).saveAsTable(table)

  /** Per-file row counts of a parquet table via the `_metadata` hidden
    * column — the health check that decides when compaction runs. Pure
    * metadata + one count aggregation; no data columns are read. */
  def fileStats(spark: org.apache.spark.sql.SparkSession,
                path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("_metadata.file_path").as("file"))
      .groupBy(col("file"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"))

  /** [[fileStats]] plus on-disk bytes per file (`_metadata.file_size`
    * is a per-row constant within a file, so `max` reads it for free).
    * Feeds [[compactPartitionsToBytes]]' row-width estimate. */
  def fileSizeStats(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.file_size").as("size"))
      .groupBy(col("file"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        max(col("size")).as("bytes"))

  /** The pre-write frame compaction writes: one task per partition
    * value. Exposed so the plan-shape test pins the PRODUCTION read+
    * repartition, not a hand-built lookalike. */
  def compactionPlan(spark: org.apache.spark.sql.SparkSession,
                     srcPath: String,
                     partitionCol: String = "trade_date"): DataFrame =
    spark.read.parquet(srcPath).repartition(col(partitionCol))

  /** Small-files compaction: rewrite a partitioned table with one task
    * per partition value and `maxRecordsPerFile` as the split bound, so
    * each partition lands as ceil(rows / max) right-sized files. The
    * streaming-ingest failure mode at 100 TB is thousands of KB-scale
    * files per partition (one per micro-batch per task) — scan cost
    * becomes file-open cost. Compaction writes to a NEW location and
    * leaves the source intact: the swap (rename or metastore location
    * flip) stays atomic and concurrent readers of the old location
    * remain valid for their whole scan. */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession,
                        srcPath: String, destPath: String,
                        partitionCol: String = "trade_date",
                        maxRecordsPerFile: Long = 1000000L): Unit =
    compactionPlan(spark, srcPath, partitionCol)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .mode(SaveMode.Overwrite)
      .parquet(destPath)

  /** Byte-size-targeted compaction: like [[compactPartitions]] but the
    * split bound is a TARGET FILE SIZE, not a record count. Production
    * compaction is byte-bound — row width drifts as schemas evolve and
    * text columns grow, so a fixed records/file bound yields 10 MB files
    * on one table and 10 GB files on another. One metadata-only
    * aggregation over the source footprint (`_metadata.file_size` +
    * count; no data columns read) estimates the table's on-disk
    * bytes/row, and the record bound becomes
    * `max(1, targetBytesPerFile / avgRowBytes)`.
    *
    * The estimate is from the SOURCE's encoding: if the source is
    * pathologically fragmented, tiny files carry fixed parquet footer
    * overhead, so avgRowBytes over-estimates and output files land
    * UNDER target — the safe direction (never produces an
    * over-target file from width drift alone; dictionary/RLE gains on
    * consolidated files also only shrink output). Returns the record
    * bound used, so callers can log/audit the decision. */
  def compactPartitionsToBytes(spark: org.apache.spark.sql.SparkSession,
                               srcPath: String, destPath: String,
                               partitionCol: String = "trade_date",
                               targetBytesPerFile: Long = 128L << 20): Long = {
    require(targetBytesPerFile > 0, "targetBytesPerFile must be positive")
    val agg = spark.read.parquet(srcPath)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.file_size").as("size"))
      .groupBy(col("file")).agg(max(col("size")).as("bytes"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"))
      .agg(org.apache.spark.sql.functions.sum(col("bytes")).as("b"),
        org.apache.spark.sql.functions.sum(col("n_rows")).as("r"))
      .head()
    // sum() over zero rows is NULL (schema-only parquet): fail with a
    // named precondition, not an opaque NPE from getLong
    require(!agg.isNullAt(0) && !agg.isNullAt(1),
      s"compactPartitionsToBytes: source table at $srcPath is empty — " +
        "no rows to derive a per-file record bound from")
    val totalBytes = agg.getLong(0)
    val totalRows = agg.getLong(1)
    val avgRowBytes = math.max(1.0, totalBytes.toDouble / math.max(1L, totalRows))
    val recordBound = math.max(1L, (targetBytesPerFile / avgRowBytes).toLong)
    compactPartitions(spark, srcPath, destPath, partitionCol, recordBound)
    recordBound
  }

  /** Overwrite only the `partitionCol` values present in `updates`;
    * rows are clustered per partition first (one file per partition —
    * the small-files discipline). */
  def refreshPartitions(updates: DataFrame, path: String,
                        partitionCol: String = "trade_date"): Unit = {
    updates
      .repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** MERGE-style upsert as a relational transform: `updates` rows win on
    * key collision, base rows without a matching update survive, update
    * rows without a base match insert. This is the engine-side MERGE
    * INTO emulation for plain-parquet warehouses (no transactional table
    * format in scope): compute the merged state, then swap it in with
    * [[refreshPartitions]]'s atomic-location discipline.
    *
    * One shuffle on the key (full outer join); at scale the join is
    * key-partitioned on both sides, and when the base table is bucketed
    * on the key ([[refreshCatalogTable]]) the base side's exchange
    * disappears. Every non-key column resolves as
    * `coalesce(update, base)`; `__src` reports kept/updated/inserted for
    * audit queries. null-safe: a null non-key update value on a matched
    * key falls back to base (MERGE WHEN MATCHED THEN UPDATE SET col =
    * coalesce semantics, documented).
    *
    * Duplicate keys in `updates`: SQL MERGE raises on multiple source
    * matches; raising from a distributed plan would cost an extra
    * counting action, so instead the update side is deterministically
    * collapsed to one row per key — greatest (field-by-field) non-key
    * tuple wins — BEFORE the join. Without this a duplicated key fans
    * out through the full-outer join into duplicate output rows
    * (silently, and order-nondeterministically). The collapse rides the
    * same key exchange the join needs on that side, so it adds a
    * hash-agg but no extra shuffle; it requires non-key columns to be
    * orderable types (true of any columnar warehouse schema). */
  /** SCD Type-2 dimension history from a change log: one row per
    * (key, attribute-run) with `[effective_from, effective_to)` validity
    * and an `is_current` flag — the warehouse op a user reaches for
    * right after [[upsert]] when the dimension's history must survive
    * (the reference's warehouse is append-only,
    * data_platform_final.py:249-250; this is the versioned-dimension
    * uplift).
    *
    * PRECONDITION: `changes` has at most one row per (key, ts) — dedupe
    * upstream (e.g. max_by on a change-sequence column) so run-collapse
    * is deterministic. Within a key, consecutive rows with identical
    * `attrs` collapse into the earlier row's run (null-safe struct
    * compare); `effective_to` is the NEXT change's timestamp (half-open
    * interval, the standard as-of-probe-friendly encoding), null on the
    * current row.
    *
    * Scale shape: one shuffle on the key; the run-collapse lag and the
    * validity lead share the same (key, ts) sort order, so Catalyst
    * reuses one exchange for both window passes — cost is a sort within
    * key partitions, never a join. */
  def scd2FromChangeLog(changes: DataFrame, key: String, ts: String,
                        attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "scd2FromChangeLog needs tracked attributes")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lag, lead, not, struct => fstruct}
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    val attrStruct = fstruct(attrs.map(col): _*)
    changes
      .select((col(key) +: col(ts) +: attrs.map(col)): _*)
      .withColumn("__prev", lag(attrStruct, 1).over(w))
      .filter(col("__prev").isNull || not(col("__prev") <=> attrStruct))
      .drop("__prev")
      .withColumn("effective_from", col(ts))
      .withColumn("effective_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
      .drop(ts)
  }

  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    require(base.columns.sameElements(updates.columns),
      s"upsert requires identical schemas, got ${base.columns.toSeq} vs " +
        s"${updates.columns.toSeq}")
    val dataCols = base.columns.filter(_ != key).toSeq
    val b = base.select(col(key).as("__bk") +:
      dataCols.map(c => col(c).as(s"__b_$c")): _*)
    val u = updates.select(col(key).as("__uk") +:
        dataCols.map(c => col(c).as(s"__u_$c")): _*)
      .groupBy(col("__uk"))
      .agg(max(struct(dataCols.map(c => col(s"__u_$c")): _*)).as("__urow"))
      .select(col("__uk") +:
        dataCols.map(c => col("__urow").getField(s"__u_$c")
          .as(s"__u_$c")): _*)
    b.join(u, col("__bk") === col("__uk"), "full_outer")
      .select(
        org.apache.spark.sql.functions.coalesce(col("__bk"), col("__uk"))
          .as(key) +:
        (dataCols.map(c =>
          org.apache.spark.sql.functions.coalesce(
            col(s"__u_$c"), col(s"__b_$c")).as(c)) :+
          org.apache.spark.sql.functions.when(col("__bk").isNull, "inserted")
            .when(col("__uk").isNull, "kept")
            .otherwise("updated").as("__src")): _*)
  }
}
