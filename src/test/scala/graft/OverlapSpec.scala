package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.{JobExecutionStatus, SparkException}
import org.apache.spark.scheduler.SpecScheduler

import graft.core.Overlap

/** The overlap contract: every branch is joined before a failure is
 *  rethrown, branches run under the caller's job group (so cancelling
 *  the group cancels them), jobs are labelled, and nesting is safe. */
class OverlapSpec extends SparkTestBase {

  private def sc = spark.sparkContext

  private def noJobActive(): Boolean = SpecScheduler.activeJobs(sc) == 0

  /** A Spark job whose two tasks each sleep `ms`. */
  private def slowJob(ms: Long): Unit =
    spark.range(0, 2, 1, 2).rdd.foreach(_ => Thread.sleep(ms))

  test("a failing caller-thread branch returns only after the slow background job finished; first failure rethrown, the rest suppressed") {
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.all[Unit](spark, "spec")(Seq(
        "fail" -> (() => throw new IllegalStateException("caller branch")),
        "slow" -> (() => { slowJob(1500); finished.set(true) }),
        "fail2" -> (() => throw new IllegalArgumentException("second"))))
    }
    assert(finished.get, "returned before the background job finished")
    assert(noJobActive())
    assert(e.getMessage === "caller branch")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  test("a job group set by the caller is visible inside a branch, and branch jobs are labelled") {
    sc.setJobGroup("overlap-spec-group", "outer", interruptOnCancel = true)
    try {
      val got = Overlap.all(spark, "spec")(Seq(
        "caller" -> (() => sc.getLocalProperty("spark.job.description")),
        "branch" -> { () =>
          spark.range(10).count()
          Seq("spark.jobGroup.id", "spark.job.description")
            .map(sc.getLocalProperty).mkString("|")
        }))
      assert(got === Seq("graft:spec:caller",
        "overlap-spec-group|graft:spec:branch"))
      assert(sc.getLocalProperty("spark.job.description") === "outer",
        "the caller's own description is restored")
      SpecScheduler.drainEvents(sc)
      assert(sc.statusTracker.getJobIdsForGroup("overlap-spec-group")
        .nonEmpty, "the branch's job ran under the caller's group")
    } finally sc.clearJobGroup()
  }

  test("cancelJobGroup on the caller's group cancels the background branch's running job") {
    val group = "overlap-spec-cancel"
    def running: Boolean = sc.statusTracker.getJobIdsForGroup(group)
      .exists(id => sc.statusTracker.getJobInfo(id)
        .exists(_.status == JobExecutionStatus.RUNNING))
    sc.setJobGroup(group, "cancel", interruptOnCancel = true)
    val t0 = System.nanoTime()
    try {
      val e = intercept[SparkException] {
        Overlap.all[Unit](spark, "spec")(Seq(
          "cancel" -> { () =>
            val deadline = System.nanoTime() + 30e9.toLong
            while (!running && System.nanoTime() < deadline) Thread.sleep(50)
            assert(running, "the background job never showed up in the group")
            sc.cancelJobGroup(group)
          },
          "slow" -> (() => slowJob(60000))))
      }
      assert(e.getMessage.contains("cancelled"), e.getMessage)
    } finally sc.clearJobGroup()
    assert((System.nanoTime() - t0) / 1e9 < 30,
      "the call waited the sleeping job out instead of cancelling it")
    assert(noJobActive())
  }

  test("a nested Overlap call completes") {
    val done = new java.util.concurrent.atomic.AtomicReference[Seq[Long]]()
    val t = new Thread(() => done.set(
      Overlap.all(spark, "outer")((0 until 3).map(i => s"o$i" -> (() =>
        Overlap.all(spark, "inner")((0 until 3).map(j => s"i$j" -> (() =>
          spark.range(10L * i + j).count()))).sum)))))
    t.start()
    t.join(120000)
    assert(done.get === Seq(3L, 33L, 63L))
  }
}
