package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.runDaily`'s failure path: the first failed stage cancels its
  * sibling jobs, the run waits for them, frees its warehouse cache and
  * leaves the caller's job group and tags as they were. */
class PipelineFailureSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("a failed overlapped write cancels its siblings and frees the warehouse cache") {
    val sc = spark.sparkContext
    val work = Files.createTempDirectory("graft_pipe_fail").toString
    // a plain file where the reports directory goes: the invalid-rows and
    // reconcile writes fail (an overwrite would just replace a file at
    // `reports/invalid`), while their sibling, the hourly MV write, runs
    Files.write(Paths.get(work, "reports"), "not a directory".getBytes)
    val persisted = sc.getPersistentRDDs.keySet
    sc.setJobGroup("caller", "the caller's own group")
    try {
      intercept[Exception](pipeline.Pipeline.runDaily(spark, sf, work))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
      assert(sc.getJobTags().isEmpty)
    } finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${sc.statusTracker.getActiveJobIds.mkString(",")}")
    assert(spark.read.parquet(s"$work/warehouse/ticks").storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE, "the warehouse scan is still cached")
    assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty,
      s"the run left persisted RDDs: ${(sc.getPersistentRDDs -- persisted).values.mkString(", ")}")
  }
}
