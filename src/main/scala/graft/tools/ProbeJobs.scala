package graft.tools
import graft.SparkEntry
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev probe: per-query Spark job/stage/task counts and task-time
 *  totals — finds rows whose wall-clock is fixed job overhead rather
 *  than compute (the streaming folds' suspected shape).
 *  Usage: runMain graft.tools.ProbeJobs <sfDir> <cpus> q1,q2,... */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = args(1).toInt
    val names = args(2).split(',').toSeq
    // read once, before any Spark work: a malformed threshold fails
    // here instead of throwing inside the listener on every stage
    val stageLogMs = sys.env.get("PROBE_STAGES_MS").fold(500L)(raw =>
      raw.toLongOption.getOrElse(sys.error(
        s"PROBE_STAGES_MS must be whole milliseconds, got '$raw'")))
    val logStages = sys.env.contains("PROBE_STAGES")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        val ms = s.stageInfo.taskMetrics.executorRunTime
        if (logStages && ms > stageLogMs)
          System.err.println(f"  [stage ${s.stageInfo.stageId}%d] " +
            f"tasks=${s.stageInfo.numTasks}%d taskTime=${ms / 1000.0}%.1fs " +
            s"name=${s.stageInfo.name.take(60)}")
        ()
      }
    })
    def exhaust(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup (classload/codegen)
    try exhaust(SparkEntry.queries("q1_sum_fields")(spark, sfDir).limit(1000))
    catch { case e: Throwable => System.err.println(s"warmup: ${e.getMessage}") }
    Thread.sleep(500)
    for (name <- names) {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      val t0 = System.nanoTime()
      try {
        exhaust(SparkEntry.queries(name)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener drain
        println(f"PROBE $name%s wall=${dt}%.2fs jobs=${jobs.get}%d " +
          f"stages=${stages.get}%d tasks=${tasks.get}%d " +
          f"taskTime=${taskMs.get / 1000.0}%.1fs")
      } catch { case e: Throwable =>
        println(s"PROBE $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
