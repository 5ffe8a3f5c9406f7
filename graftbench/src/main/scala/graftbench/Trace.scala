package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a setup phase, a pass, a drain, a query, a
 *  micro-batch. Times are `System.nanoTime`; [[Clock.ms]] maps them to
 *  the epoch milliseconds Spark stamps on its listener events. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def ns(ms: Double): Long = baseNs + ((ms - baseMs) * 1e6).toLong
}

/** In-memory span store; written out once, at the end of a run. */
final class Spans(val runId: String) {
  private val buf = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String, kind: String)(f: => T): T = {
    val (id, parent, t0) = synchronized {
      val id = nextId()
      val p = open.headOption.getOrElse(0)
      open = id :: open
      (id, p, System.nanoTime())
    }
    try f finally synchronized {
      buf += Span(id, name, kind, parent, t0, System.nanoTime())
      open = open.tail
    }
  }

  /** A span measured elsewhere (a micro-batch from its progress). */
  def add(name: String, kind: String, startNs: Long, endNs: Long): Span =
    synchronized {
      val s = Span(nextId(), name, kind, open.headOption.getOrElse(0),
        startNs, endNs)
      buf += s
      s
    }

  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }

  /** The innermost span open right now (0 outside every span). */
  def currentId: Int = synchronized(open.headOption.getOrElse(0))

  /** `s` and every span nested under it. */
  def subtree(s: Span): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).map(_.id).toSet.flatMap(go) + id
    go(s.id)
  }

  def all: Seq[Span] = synchronized(buf.toList.sortBy(_.startNs))
  def ofKind(kind: String): Seq[Span] = all.filter(_.kind == kind)
  def within(outer: Span, kind: String): Seq[Span] =
    all.filter(s => s.kind == kind && s.startNs >= outer.startNs &&
      s.endNs <= outer.endNs)

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    var covered = 0L
    var reach = s.startNs
    children.sortBy(_.startNs).foreach { c =>
      val a = math.max(c.startNs, reach)
      val b = math.min(c.endNs, s.endNs)
      if (b > a) { covered += b - a; reach = b }
    }
    s.seconds - covered / 1e9
  }

  def writeJsonl(path: String, extra: Span => Map[String, Double]): Unit = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val fields = Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "parent" -> s.parent.toString,
        "start_ms" -> Json.num(Clock.ms(s.startNs)),
        "end_ms" -> Json.num(Clock.ms(s.endNs)),
        "self_ms" -> Json.num(selfSeconds(s, kids.getOrElse(s.id, Nil)) * 1e3)) ++
        extra(s).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
      w.println(fields.map { case (k, v) => s"${Json.str(k)}:$v" }
        .mkString("{", ",", "}"))
    } finally w.close()
  }
}

/** Spark work attributed to one span by event time. */
final case class SparkCounts(jobs: Int, stages: Int, tasks: Int,
    runS: Double, cpuS: Double, gcS: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, input: Long, wallS: Double,
    driverGapS: Double, scans: Int, exchangesReused: Int) {
  def slotUtilization(slots: Int): Double =
    if (wallS <= 0) 0.0 else runS / (wallS * slots)
  def asMap(slots: Int): Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble, "spark.executor_run_s" -> runS,
    "spark.executor_cpu_s" -> cpuS, "spark.gc_s" -> gcS,
    "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.spill_bytes" -> spill.toDouble,
    "spark.input_bytes" -> input.toDouble,
    "spark.driver_gap_s" -> driverGapS,
    "spark.slot_utilization" -> slotUtilization(slots))
}

/** The traced run's three listeners: Spark scheduler events, executed
 *  SQL plans, and streaming progress. Each records into memory; the
 *  benchmark drains the listener bus before it reads them. */
final class Recorder(spark: SparkSession, spans: Spans) {
  private final case class Task(launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shR: Long, shW: Long, spill: Long, in: Long)
  private final case class Stage(submit: Long, complete: Long)
  private final case class Plan(span: Int, scans: Int, reused: Int)

  private val jobs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[Plan]
  @volatile var onProgress: StreamingQueryListener.QueryProgressEvent => Unit =
    _ => ()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Recorder.this.synchronized(jobs += e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        Recorder.this.synchronized(stages += Stage(s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Recorder.this.synchronized(tasks += Task(
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val (scans, reused) = PlanShape(qe.executedPlan)
      Recorder.this.synchronized(
        plans += Plan(spans.currentId, scans, reused))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      onProgress(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Everything that started inside `s`, and its driver gap: wall time
   *  minus the union of stage-active intervals. Jobs, stages and tasks
   *  carry their own event times; an executed plan belongs to the span
   *  open when its callback ran, so a traced span drains the bus before
   *  it closes. */
  def counts(s: Span): SparkCounts = {
    val tree = spans.subtree(s)
    countsIn(s, tree)
  }

  private def countsIn(s: Span, tree: Set[Int]): SparkCounts = synchronized {
    val lo = Clock.ms(s.startNs) - 1
    val hi = Clock.ms(s.endNs) + 1
    val ts = tasks.filter(t => t.launch >= lo && t.launch <= hi)
    val st = stages.filter(x => x.submit >= lo && x.submit <= hi)
    val active = union(st.toSeq.map(x =>
      (math.max(x.submit.toDouble, lo), math.min(x.complete.toDouble, hi))))
    val ps = plans.filter(p => tree.contains(p.span))
    SparkCounts(
      jobs = jobs.count(t => t >= lo && t <= hi), stages = st.size,
      tasks = ts.size, runS = ts.map(_.runMs).sum / 1e3,
      cpuS = ts.map(_.cpuNs).sum / 1e9, gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleRead = ts.map(_.shR).sum, shuffleWrite = ts.map(_.shW).sum,
      spill = ts.map(_.spill).sum, input = ts.map(_.in).sum,
      wallS = s.seconds,
      driverGapS = math.max(0.0, s.seconds - active / 1e3),
      scans = ps.map(_.scans).sum, exchangesReused = ps.map(_.reused).sum)
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (curLo.isNaN || a > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }
}

/** Scan leaves and reused exchanges of an executed plan, looking
 *  through adaptive query stages and subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val leaves = collectWithSubqueries(plan) {
      case p if p.children.isEmpty && !p.isInstanceOf[ReusedExchangeExec] &&
          !p.isInstanceOf[Exchange] => p
    }
    val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
    (leaves.size, reused.size)
  }
}

/** State written by a streaming fold, from snapshots of its state
 *  directory taken at every micro-batch progress and at drain end.
 *  A segment is a directory holding data files; a compaction is a
 *  snapshot in which a segment seen before is gone. Files created and
 *  deleted between two snapshots are not seen. */
final class StateWatch(dir: String) {
  private val sizes = scala.collection.mutable.Map.empty[String, Long]
  private var lastSegs = Set.empty[String]
  private var compactions = 0
  private var rewritten = 0L

  def snapshot(): Unit = synchronized {
    val files = listData(new java.io.File(dir))
    val fresh = files.filterNot { case (p, _) => sizes.contains(p) }
    files.foreach { case (p, n) =>
      sizes(p) = math.max(n, sizes.getOrElse(p, 0L)) }
    val segs = files.map { case (p, _) => new java.io.File(p).getParent }.toSet
    if ((lastSegs -- segs).nonEmpty) {
      compactions += 1
      rewritten += fresh.map(_._2).sum
    }
    lastSegs = segs
  }

  def filesWritten: Int = synchronized(sizes.size)
  def bytesWritten: Long = synchronized(sizes.values.sum)
  def liveSegments: Int = synchronized(lastSegs.size)
  def compactionCount: Int = synchronized(compactions)
  def compactionBytes: Long = synchronized(rewritten)

  private def listData(f: java.io.File): Seq[(String, Long)] =
    Option(f.listFiles()).toSeq.flatten.flatMap { c =>
      if (c.isDirectory) listData(c)
      else if (c.getName.startsWith(".") || c.getName.startsWith("_")) Nil
      else Seq(c.getPath -> c.length())
    }
}

object Dirs {
  /** Bytes of the non-hidden files under `dir`. */
  def bytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      Option(f.listFiles()).toSeq.flatten.map { c =>
        if (c.isDirectory) walk(c)
        else if (c.getName.startsWith(".") || c.getName.startsWith("_")) 0L
        else c.length()
      }.sum
    walk(new java.io.File(dir))
  }

  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
}
