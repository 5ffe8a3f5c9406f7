package graftbench

import scala.collection.mutable.LinkedHashMap

/** The traced run's per-layer metrics. Every workload prints every
 *  name; a layer a workload does not exercise reads 0. Values are
 *  medians over the traced timed passes unless stated otherwise. */
object Layers {
  val folds: Seq[String] = Seq("curate", "cdc")
  val families: Seq[String] = Seq("wire", "text", "dedup", "similarity",
    "retrieval", "bpe", "curation", "layout", "media")

  private val sparkNames = Seq("spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.driver_gap_s" -> "s",
    "spark.slot_utilization" -> "ratio")

  private val foldNames = Seq("jobs_per_batch" -> "count",
    "driver_gap_ms_per_batch" -> "ms", "task_ms_per_batch" -> "ms",
    "state_files_written_per_batch" -> "count",
    "state_bytes_written_per_batch" -> "bytes", "live_segments" -> "count",
    "compactions" -> "count", "compaction_bytes_rewritten" -> "bytes",
    "rows_in" -> "count", "rows_out" -> "count")

  private val familyNames = Seq("wall_s" -> "s", "executor_cpu_s" -> "s",
    "shuffle_bytes" -> "bytes", "jobs" -> "count", "driver_gap_s" -> "s",
    "slot_utilization" -> "ratio", "exchanges_reused" -> "count")

  /** (name, unit) of every per-layer metric, in print order. */
  val names: Seq[(String, String)] =
    Seq("sources.decode_s" -> "s", "sources.events_decoded" -> "count",
      "core.math_self_s" -> "s", "core.source_scans_per_pass" -> "count") ++
    sparkNames ++
    folds.flatMap(f => foldNames.map { case (n, u) => s"streaming.$f.$n" -> u }) ++
    Seq("streaming.state_bytes_per_input_byte" -> "ratio") ++
    families.flatMap(f => familyNames.map { case (n, u) => s"ops.$f.$n" -> u }) ++
    Seq("setup.session_s" -> "s", "setup.stage_inputs_s" -> "s",
      "setup.seed_state_s" -> "s", "setup.warm_passes_s" -> "s",
      "jvm.jit_compile_s" -> "s", "jvm.gc_pause_s" -> "s",
      "host.steal_share" -> "ratio", "host.loadavg" -> "count",
      "parallel_speedup" -> "ratio", "trace.overhead_share" -> "ratio")
}

final class Layers(o: Main.Opts, ctx: Ctx, wl: Workload, rec: Recorder,
    timed: Seq[(Span, Boolean)], spans: Spans) {

  private val traced = timed.filter(_._2).map(_._1)
  private val plain = timed.filterNot(_._2).map(_._1)
  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def passIndex(p: Span): Int = p.name.stripPrefix("pass-").toInt

  def compute(extra: Map[String, Double]): LinkedHashMap[String, (Double, String)] = {
    val v = LinkedHashMap.empty[String, Double]
    Layers.names.foreach { case (n, _) => v(n) = 0.0 }
    extra.foreach { case (k, x) => v(k) = x }

    val plainS = med(plain.map(_.seconds))
    val tracedS = med(traced.map(_.seconds))
    v("trace.overhead_share") = if (plainS > 0) tracedS / plainS - 1 else 0.0

    val perPass = traced.map(rec.counts)
    perPass.headOption.foreach { _ =>
      Layers.names.map(_._1).filter(_.startsWith("spark.")).foreach { n =>
        v(n) = med(perPass.map(_.asMap(o.cores)(n)))
      }
      v("core.source_scans_per_pass") = med(perPass.map(_.scans.toDouble))
    }

    wl match {
      case f: FoldStream => foldLayers(f, v)
      case c: CorpusBatch =>
        familyLayers(c, v)
        // the wire row alone, outside the timed loop: a decode-only
        // drain of its chunks against the full fanout drain
        val decode = med((0 until 3).map(_ => c.wire.decodeSeconds()))
        val fanout = med((0 until 3).map(_ => c.wire.fanoutSeconds()))
        v("sources.decode_s") = decode
        v("sources.events_decoded") = c.wire.events.toDouble
        v("core.math_self_s") = fanout - decode
      case _ =>
    }

    v("parallel_speedup") = baselineSeconds() / plainS
    val units = Layers.names.toMap
    v.map { case (k, x) => k -> (x, units(k)) }
  }

  private def foldLayers(f: FoldStream, v: LinkedHashMap[String, Double]): Unit = {
    Layers.folds.foreach { fold =>
      val rows = traced.flatMap { p =>
        val i = passIndex(p)
        spans.within(p, "drain").find(_.name == fold).map { d =>
          val n = math.max(1, spans.within(d, "batch").size).toDouble
          val c = rec.counts(d)
          val w = f.watches.get((i, fold))
          Map(
            "jobs_per_batch" -> c.jobs / n,
            "driver_gap_ms_per_batch" -> c.driverGapS * 1e3 / n,
            "task_ms_per_batch" -> c.runS * 1e3 / n,
            "state_files_written_per_batch" -> w.map(_.filesWritten / n).getOrElse(0.0),
            "state_bytes_written_per_batch" -> w.map(_.bytesWritten / n).getOrElse(0.0),
            "live_segments" -> w.map(_.liveSegments.toDouble).getOrElse(0.0),
            "compactions" -> w.map(_.compactionCount.toDouble).getOrElse(0.0),
            "compaction_bytes_rewritten" -> w.map(_.compactionBytes.toDouble).getOrElse(0.0),
            "rows_in" -> f.rowsIn.getOrElse((i, fold), 0L).toDouble,
            "rows_out" -> f.rowsOut.getOrElse((i, fold), 0L).toDouble)
        }
      }
      rows.headOption.foreach(_.keys.foreach { k =>
        v(s"streaming.$fold.$k") = med(rows.map(_(k)))
      })
    }
    v("streaming.state_bytes_per_input_byte") = med(traced.map { p =>
      val i = passIndex(p)
      Layers.folds.map(fd => f.stateBytes.getOrElse((i, fd), 0L)).sum.toDouble /
        f.inputBytes
    })
  }

  private def familyLayers(c: CorpusBatch, v: LinkedHashMap[String, Double]): Unit = {
    val rows = traced.map { p =>
      spans.within(p, "unit").groupBy(s => c.familyOfSpan(s).getOrElse("?"))
        .map { case (fam, qs) =>
          val cs = qs.map(rec.counts)
          val wall = qs.map(_.seconds).sum
          val run = cs.map(_.runS).sum
          fam -> Map(
            "wall_s" -> wall, "executor_cpu_s" -> cs.map(_.cpuS).sum,
            "shuffle_bytes" -> cs.map(x => (x.shuffleRead + x.shuffleWrite).toDouble).sum,
            "jobs" -> cs.map(_.jobs.toDouble).sum,
            "driver_gap_s" -> cs.map(_.driverGapS).sum,
            "slot_utilization" -> (if (wall > 0) run / (wall * o.cores) else 0.0),
            "exchanges_reused" -> cs.map(_.exchangesReused.toDouble).sum)
        }
    }
    for (fam <- Layers.families; row <- rows.headOption; m <- row.get(fam);
         k <- m.keys)
      v(s"ops.$fam.$k") = med(rows.flatMap(_.get(fam)).map(_(k)))
  }

  /** One warm and one measured pass on a fresh `local[1]` session: the
   *  single-thread baseline. */
  private def baselineSeconds(): Double = {
    ctx.spark.stop()
    ctx.spark = Main.session(o, 1)
    var last = 0.0
    for (k <- 0 until 2) {
      val i = 1000 + k
      wl.beforePass(i)
      val t0 = System.nanoTime()
      spans(s"baseline-$k", "baseline")(wl.pass(i))
      last = (System.nanoTime() - t0) / 1e9
      wl.afterPass(i)
      System.err.println(f"[graftbench] ${o.workload} local[1] pass $k: $last%.3f s")
    }
    last
  }
}
