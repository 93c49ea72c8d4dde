package graft

import graft.streaming.StreamingJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LEFT OUTER stream-stream join semantics: a matched pair emits like
  * the inner join; an unmatched left row emits null-padded only after
  * the watermark proves no partner can still arrive (state stays
  * bounded by the same time-interval condition as the inner form).
  */
class LeftOuterStreamJoinSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val baseUs = 1700000000000000L
  private def tsOf(seconds: Long): java.sql.Timestamp =
    new java.sql.Timestamp(baseUs / 1000L + seconds * 1000L)

  test("unmatched left rows emit null-padded once the watermark passes") {
    graft.streaming.StreamingConf.withStatePartitions(spark, 8) {
      val inA = MemoryStream[(String, java.sql.Timestamp, Long)]
      val inB = MemoryStream[(String, java.sql.Timestamp, Long)]
      val a = inA.toDF().toDF("symbol", "a_ts", "a_id")
        .withWatermark("a_ts", "10 seconds")
      val b = inB.toDF().toDF("symbol_b", "b_ts", "b_id")
        .withWatermark("b_ts", "10 seconds")
      val q = StreamingJoin.followersLeftOuter(a, b, windowSec = 60)
        .writeStream.format("memory").queryName("lo_join")
        .outputMode("append").start()
      try {
        // trade 1 gets a follower 5s later; trade 2 never does
        inA.addData(("AAA", tsOf(0), 1L), ("BBB", tsOf(0), 2L))
        inB.addData(("AAA", tsOf(5), 10L))
        q.processAllAvailable()
        // push both watermarks far past trade 2's join window so the
        // engine can prove no partner is coming
        inA.addData(("ZZZ", tsOf(1000), 99L))
        inB.addData(("ZZZ", tsOf(1000), 98L))
        q.processAllAvailable()
        inA.addData(("ZZZ", tsOf(2000), 97L))
        inB.addData(("ZZZ", tsOf(2000), 96L))
        q.processAllAvailable()

        val got = spark.table("lo_join")
          .filter(col("a_id").isin(1L, 2L))
          .select(col("a_id"), col("b_id"), col("gap_us"))
          .collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))
          .toSet
        assert(got == Set(
          (1L, Some(10L), Some(5000000L)), // matched within the window
          (2L, None, None)),               // proven partnerless -> null row
          s"left-outer emissions wrong: $got")
      } finally q.stop()
    }
  }
}
