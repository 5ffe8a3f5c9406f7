package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark run in a fresh JVM: set up (session, inputs, seeded
 *  state, a fixed number of warm passes), run closed-loop passes for at
 *  least the requested seconds, check outputs (untimed), and print one
 *  result line. A traced run
 *  additionally attaches the listeners of [[Recorder]] on alternate
 *  passes, writes spans, and reports per-layer metrics. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1,
      seconds: Double = 10, trace: Boolean = false, work: String = "",
      cores: Int = 3, tiny: Boolean = false, breakExpected: Boolean = false,
      spansOut: String = "", warmPasses: Int = 2, minPasses: Int = 3)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--tiny" :: t => parse(t, o.copy(tiny = true))
    case "--break-expected" :: t => parse(t, o.copy(breakExpected = true))
    case "--spans" :: v :: t => parse(t, o.copy(spansOut = v))
    case "--min-passes" :: v :: t => parse(t, o.copy(minPasses = v.toInt))
    case "--warm-passes" :: v :: t => parse(t, o.copy(warmPasses = v.toInt))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(o: Opts, cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** (steal, total) jiffies of the host, when the kernel reports them. */
  private def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val preMainS = math.max(0.0, (Clock.ms(entryNs) - jvmStart) / 1e3)
    val o = parse(argv.toList)
    require(o.work.nonEmpty, "--work <dir> is required")
    val spans = new Spans(
      s"${o.workload}-seed${o.seed}${if (o.trace) "-traced" else ""}")
    val spark0 = spans("setup/session", "setup")(session(o, o.cores))
    val ctx = new Ctx(spark0, spans, None, o.work, o.seed, o.tiny,
      o.breakExpected)
    val rec = if (o.trace) Some(new Recorder(spark0, spans)) else None
    rec.foreach { r => r.attach(); ctx.recorder = Some(r) }

    val wl: Workload = o.workload match {
      case "fold_stream" => new FoldStream(ctx)
      case "corpus_batch" => new CorpusBatch(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    var passNo = 0
    def runPass(kind: String): Span = {
      val i = passNo
      passNo += 1
      wl.beforePass(i)
      spans(s"pass-$i", kind)(wl.pass(i))
      val s = spans.ofKind(kind).last
      wl.afterPass(i)
      System.err.println(f"[graftbench] ${o.workload} $kind $i: ${s.seconds}%.3f s")
      s
    }

    spans("setup/stage_inputs", "setup")(wl.stageInputs())
    spans("setup/seed_state", "setup")(wl.seedState())
    // a fixed warm count per workload keeps set-up the same work in
    // every run; the count is where pass-to-pass drift settles
    val warm = spans("setup/warm_passes", "setup") {
      (0 until o.warmPasses).map(_ => runPass("warm").seconds)
    }
    val setupS = preMainS + (System.nanoTime() - entryNs) / 1e9
    System.err.println(s"[graftbench] setup ${setupS}s: jvm $preMainS " +
      spans.ofKind("setup").map(s => f"${s.name}=${s.seconds}%.2f").mkString(" "))
    val jitS = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

    // Closed loop: the next pass starts when the previous one ends. A
    // traced run interleaves untraced and traced passes U T T U, at
    // least two of each, so warm-up drift favours neither side.
    val minPasses = if (o.trace) math.max(4, o.minPasses + 1) else o.minPasses
    val gc0 = gcMillis()
    val cpu0 = cpuJiffies()
    val loop0 = System.nanoTime()
    val timed = ArrayBuffer.empty[(Span, Boolean)]
    while (timed.size < minPasses || (System.nanoTime() - loop0) / 1e9 < o.seconds) {
      val traced = o.trace && (timed.size % 4 == 1 || timed.size % 4 == 2)
      rec.foreach { r => if (traced) r.attach() else r.detach() }
      ctx.recorder = if (traced) rec else None
      timed += runPass("pass") -> traced
    }
    val gcPerPassS = (gcMillis() - gc0) / 1e3 / timed.size
    val cpu1 = cpuJiffies()
    rec.foreach(_.detach())
    ctx.recorder = None

    val checked = spans("check", "check")(wl.check(passNo - 1))
    System.err.println(f"[graftbench] check: ${spans.ofKind("check").last.seconds}%.2f s")
    val units = timed.flatMap { case (p, _) => spans.within(p, wl.unitKind) }
    val attempted = units.size + checked.attempted

    val metrics = LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      // each unit (a micro-batch, a row) at its median over the timed
      // passes, then the geometric mean over units: heterogeneous
      // latencies weigh alike, and one slow pass cannot move it
      val perUnit = units.groupBy(_.name).values
        .map(us => Stats.median(us.map(_.seconds * 1e3).toSeq))
      metrics("setup_s") = setupS -> "s"
      metrics("pass_s") = Stats.median(timed.map(_._1.seconds).toSeq) -> "s"
      metrics("batch_geomean_ms") = Stats.geomean(perUnit.toSeq) -> "ms"
    } else {
      val layers = new Layers(o, ctx, wl, rec.get, timed.toSeq, spans)
      val extra = Map(
        "setup.session_s" -> setupSpan(spans, "setup/session"),
        "setup.stage_inputs_s" -> setupSpan(spans, "setup/stage_inputs"),
        "setup.seed_state_s" -> setupSpan(spans, "setup/seed_state"),
        "setup.warm_passes_s" -> setupSpan(spans, "setup/warm_passes"),
        "jvm.jit_compile_s" -> jitS, "jvm.gc_pause_s" -> gcPerPassS,
        "host.steal_share" -> (if (cpu1._2 > cpu0._2)
          (cpu1._1 - cpu0._1).toDouble / (cpu1._2 - cpu0._2) else 0.0),
        "host.loadavg" -> math.max(0.0,
          ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage))
      layers.compute(extra).foreach { case (k, v) => metrics(k) = v }
      if (o.spansOut.nonEmpty) spans.writeJsonl(o.spansOut, s =>
        if (Set("pass", "drain", "unit", "batch", "setup")(s.kind))
          rec.get.counts(s).asMap(o.cores) else Map.empty)
    }
    ctx.spark.stop()

    val fields = Seq(
      "workload" -> Json.str(o.workload),
      "attempted" -> attempted.toString,
      "failed" -> checked.failed.toString,
      "notes" -> checked.notes.map(Json.str).mkString("[", ",", "]"),
      "oracle_dir" -> wl.oracleDir.map(Json.str).getOrElse("null"),
      "warm_passes" -> warm.size.toString,
      "timed_passes" -> timed.size.toString,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}"))
    println("GRAFTBENCH_RESULT " +
      fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
  }

  private def setupSpan(spans: Spans, name: String): Double =
    spans.ofKind("setup").find(_.name == name).map(_.seconds).getOrElse(0.0)
}
