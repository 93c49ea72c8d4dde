package graft

import graft.streaming.StreamingQuota
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming per-domain quota admission: the admitted sample must be
  * IDENTICAL under every micro-batch slicing of the same in-order
  * stream (the IncrementalDedupSpec discipline), quotas must persist
  * across batches (never overshoot on a later batch), and the result
  * must equal the batch first-come rank.
  */
class StreamingQuotaSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  // 3 domains × uneven volumes; doc_ids interleaved across domains the
  // way a crawl actually lands (domain is NOT contiguous in the stream)
  private val docs: Seq[(String, Long)] =
    (0L until 40L).map(id => (s"d${id % 3}", id))

  private val quota = 4

  private def expected: Set[StreamingQuota.Admit] =
    docs.groupBy(_._1).toSeq.flatMap { case (dom, rows) =>
      rows.map(_._2).sorted.take(quota).zipWithIndex
        .map { case (id, i) => StreamingQuota.Admit(dom, id, i + 1) }
    }.toSet

  private def runSliced(name: String, slices: Seq[Seq[(String, Long)]]):
      Set[StreamingQuota.Admit] =
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val input = MemoryStream[(String, Long)]
      val q = StreamingQuota.quotaStream(input.toDS(), quota)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        slices.foreach { s =>
          if (s.nonEmpty) { input.addData(s: _*); q.processAllAvailable() }
        }
        spark.table(name).as[StreamingQuota.Admit].collect().toSet
      } finally q.stop()
    }

  test("every micro-batch slicing admits the identical sample") {
    val oneBatch = runSliced("quota_one", Seq(docs))
    val threeBatches = runSliced("quota_three",
      Seq(docs.slice(0, 7), docs.slice(7, 23), docs.slice(23, 40)))
    val perDoc = runSliced("quota_per_doc", docs.map(Seq(_)))
    assert(oneBatch == expected, "single-batch run diverged from batch rank")
    assert(threeBatches == expected, "3-slice run diverged")
    assert(perDoc == expected, "per-doc slicing diverged")
  }

  test("quota persists across batches: a later batch cannot overshoot") {
    val got = runSliced("quota_persist",
      Seq(docs.slice(0, 12), docs.slice(12, 40)))
    assert(got == expected)
    got.groupBy(_.domain).foreach { case (d, rows) =>
      assert(rows.size == quota, s"domain $d admitted ${rows.size}")
      assert(rows.map(_.samp_rank).toSeq.sorted == (1 to quota),
        s"domain $d ranks not contiguous")
    }
  }

  test("AvailableNow over the fixture equals the batch first-come rank") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("streaming_domain_quota")(spark, dir)
      .collect().toSeq
    val w = Window.partitionBy(col("domain")).orderBy(col("doc_id").asc)
    val want = graft.queries.WebQueries
      .urlize(Tables.documents(spark, dir))
      .select(col("domain"), col("doc_id"))
      .withColumn("samp_rank", row_number().over(w).cast("int"))
      .filter(col("samp_rank") <= graft.queries.WebQueries.DomainQuota)
      .orderBy("domain", "samp_rank")
      .collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }
}
