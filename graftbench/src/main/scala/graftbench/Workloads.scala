package graftbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.SparkEntry
import graft.core.{FieldRef, MathCompiler, MathOp, Pipelines}
import graft.operators.{Cdc, Curation}
import graft.sources.Sources
import graft.streaming.Streams

/** What every workload shares: the session (replaced for the
 *  single-thread baseline), spans, the optional recorder, its work
 *  directory, seed and input scale. */
final class Ctx(var spark: SparkSession, val spans: Spans,
    var recorder: Option[Recorder], val work: String, val seed: Long,
    val tiny: Boolean, val breakExpected: Boolean) {
  def size(full: Int, small: Int): Int = if (tiny) small else full
  /** Inside a traced span: deliver pending listener events before the
   *  span closes, so executed plans land in the span that ran them. */
  def settle(): Unit = recorder.foreach(_.drain())
}

/** One untimed correctness comparison per checked unit. */
final case class Checked(attempted: Int, failed: Int, notes: Seq[String])

trait Workload {
  /** Write the seeded inputs under the work directory. */
  def stageInputs(): Unit
  /** Build the state every pass starts from. */
  def seedState(): Unit = ()
  /** Untimed preparation of pass `i`. */
  def beforePass(i: Int): Unit = ()
  /** One closed-loop pass over the whole input. */
  def pass(i: Int): Unit
  /** Untimed clean-up after pass `i`. */
  def afterPass(i: Int): Unit = ()
  /** Span kind of the units a pass submits: "batch" for micro-batches,
   *  "unit" for rows. */
  def unitKind: String = "unit"
  /** The untimed correctness check; `lastPass` is the last timed pass. */
  def check(lastPass: Int): Checked
  /** Where `check` left results for the launcher's DuckDB oracle. */
  def oracleDir: Option[String] = None
}

// ------------------------------------------------------------------ wire

/** The reference's own path, as one `corpus_batch` row: fluent-bit
 *  msgpack chunks decoded by `Sources.msgpackEvents` into the four
 *  `test.sh` filter branches of `Pipelines.fanout`, exhausted into a
 *  no-op sink in one job. */
final class WireRow(ctx: Ctx) {
  private def spark = ctx.spark
  private val nEvents = ctx.size(20000, 3000)
  private var dir = ""
  private var evs: Array[Inputs.Event] = Array.empty

  val branches: Seq[(String, MathOp)] = Seq(
    "sum" -> MathOp("Operation" -> "sum", "Field" -> "Mem.used",
      "Field" -> "Mem.free", "Output_field" -> "out"),
    "sub" -> MathOp("Operation" -> "sub", "Field" -> "Mem.total",
      "Constant" -> "1024", "Output_field" -> "out"),
    "mul" -> MathOp("Operation" -> "mul", "Field" -> "cpu_p",
      "Field" -> "Mem.used", "Output_field" -> "out", "cast_to_int" -> "true"),
    "div" -> MathOp("Operation" -> "div", "Field" -> "Mem.used",
      "Field" -> "Swap.free", "Output_field" -> "out"))

  private val keys: Seq[String] = "seq" +: branches.flatMap(_._2.operands
    .collect { case FieldRef(f) => f }).distinct

  def stage(): Unit = {
    evs = Inputs.events(ctx.seed, nEvents)
    dir = Inputs.writeChunks(evs, s"${ctx.work}/wire", files = 6,
      perChunk = 200)
  }

  private def decoded: DataFrame = {
    val s = spark
    import s.implicits._
    Sources.msgpackEvents(s.read.parquet(dir).as[Array[Byte]])
  }

  /** Map payload → the flat columns the branches name (map-mode
   *  resolution), then the struct-mode `test.sh` fanout. */
  private def pipeline: DataFrame = {
    val flat = decoded.select(keys.map(k =>
      MathCompiler.resolveInMap(col("payload"), k).as(k)): _*)
    Pipelines.fanout(flat, branches, Seq("tag", "seq", "out"))
  }

  private def exhaust(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(): Unit = exhaust(pipeline)

  /** Seconds of one decode-only drain: the same chunks, no branches. */
  def decodeSeconds(): Double = {
    val t0 = System.nanoTime()
    exhaust(decoded)
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds of one full drain, outside the timed loop. */
  def fanoutSeconds(): Double = {
    val t0 = System.nanoTime()
    run()
    (System.nanoTime() - t0) / 1e9
  }

  def events: Int = nEvents

  /** The output rows equal, as a multiset, one row per event and
   *  branch of `MathOp.referenceEval` over that event. */
  def check(): Option[String] = {
    type Row = (String, Long, Double)
    val order = Ordering.Tuple3(Ordering.String, Ordering.Long,
      Ordering.Double.TotalOrdering)
    val got: Seq[Row] = pipeline.select(col("tag"), col("seq").cast("long"),
        col("out").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted(order)
    val want0: Seq[Row] = for (e <- evs.toSeq; (tag, op) <- branches)
      yield (tag, e.seq, expected(op, e))
    // a wrong expectation: one event's row listed twice
    val want = (if (ctx.breakExpected) want0 :+ want0.head else want0)
      .sorted(order)
    val same = (a: Row, b: Row) => a._1 == b._1 && a._2 == b._2 &&
      java.lang.Double.compare(a._3, b._3) == 0
    val diff = got.zip(want).find { case (g, w) => !same(g, w) }
    if (got.size == want.size && diff.isEmpty) None
    else Some(s"wire_fanout: ${got.size} rows, ${want.size} expected" +
      diff.map { case (g, w) => s"; first difference: got $g, want $w" }
        .getOrElse(""))
  }

  private def expected(op: MathOp, e: Inputs.Event): Double = {
    def resolve(f: String): Double = e.fields.collectFirst {
      case (k, v: Int) if k.equalsIgnoreCase(f) => v.toDouble
      case (k, v: Long) if k.equalsIgnoreCase(f) => v.toDouble
      case (k, v: Double) if k.equalsIgnoreCase(f) => v
    }.getOrElse(0.0)
    val v = op.referenceEval(resolve)
    if (op.castToInt) v.toLong.toDouble else v
  }
}

// ------------------------------------------------------------------ folds

/** Two streaming folds drained one after another per pass, the
 *  curation fold from empty state and the CDC fold from a freshly
 *  seeded version chain, each over one small file per micro-batch
 *  (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`). */
final class FoldStream(ctx: Ctx) extends Workload {
  override def unitKind: String = "batch"
  private def spark = ctx.spark
  private val nDocs = ctx.size(300, 90)
  private val batches = 2
  private val keys = ctx.size(2000, 100)
  private val perBatch = ctx.size(200, 20)
  private val in = s"${ctx.work}/fold-in"
  private val template = s"${ctx.work}/fold-cdc-template"
  val folds: Seq[String] = Seq("curate", "cdc")
  private val qualityMin = 0.3
  private val shards = 8
  private val salt = "graftbench"

  /** Per-pass state watches (traced runs only), by fold. */
  val watches = scala.collection.mutable.Map.empty[(Int, String), StateWatch]
  /** Per-pass live state bytes and sink rows (traced runs only). */
  val stateBytes = scala.collection.mutable.Map.empty[(Int, String), Long]
  val rowsOut = scala.collection.mutable.Map.empty[(Int, String), Long]
  val rowsIn = scala.collection.mutable.Map.empty[(Int, String), Long]

  private def root(i: Int) = s"${ctx.work}/fold/p$i"

  def stageInputs(): Unit = Inputs.writeFoldInputs(in,
    Inputs.foldDocs(ctx.seed, nDocs),
    Inputs.cdcChanges(ctx.seed, keys, batches, perBatch),
    Inputs.cdcBase(ctx.seed, keys))

  private def allDocs: DataFrame = spark.read.parquet(s"$in/docs")
  private def base: DataFrame = spark.read.parquet(s"$in/base")

  /** The CDC version chain every pass starts from. */
  override def seedState(): Unit = {
    Dirs.delete(template)
    Streams.seedCdcState(base, template, "k", 8)
  }

  override def beforePass(i: Int): Unit = {
    Dirs.delete(root(i))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(template), new java.io.File(s"${root(i)}/cdc/state"))
    if (ctx.recorder.isDefined) folds.foreach(f =>
      watches((i, f)) = new StateWatch(s"${root(i)}/$f/state"))
  }

  private def stream(dir: String): DataFrame = spark.readStream
    .schema(spark.read.parquet(dir).schema)
    .option("maxFilesPerTrigger", "1").parquet(dir)

  private def drain(i: Int, fold: String, w: DataStreamWriter[_]): Unit = {
    val dir = s"${root(i)}/$fold"
    val watch = watches.get((i, fold))
    ctx.recorder.foreach(_.onProgress = e =>
      if (e.progress.name == fold) watch.foreach(_.snapshot()))
    val q = w.queryName(fold).option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    progress.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.get("triggerExecution").toDouble
      ctx.spans.add(s"$fold/batch-${p.batchId}", "batch",
        Clock.ns(t0), Clock.ns(t0 + d))
    }
    rowsIn((i, fold)) = progress.map(_.numInputRows).sum
    System.err.println(s"[graftbench] $fold pass $i batches(ms): " +
      progress.map(_.durationMs.get("triggerExecution")).mkString(" "))
    ctx.settle()
    watch.foreach(_.snapshot())
  }

  def pass(i: Int): Unit = {
    val r = root(i)
    ctx.spans("curate", "drain") {
      drain(i, "curate", Streams.curateIngest(stream(s"$in/docs"),
          s"$r/curate/state", "doc_id", "text", qualityMin, 0L, shards, salt,
          compactAfterSegments = 0) { (survivors, batchId) =>
        survivors.write.mode("overwrite").parquet(s"$r/curate/data/batch=$batchId")
      })
    }
    ctx.spans("cdc", "drain") {
      drain(i, "cdc", Streams.applyChangesStream(stream(s"$in/changes"),
        s"$r/cdc/state", "k", "seq", "op", retainVersions = 2))
    }
  }

  override def afterPass(i: Int): Unit = {
    if (ctx.recorder.isDefined) {
      val r = root(i)
      folds.foreach(f => stateBytes((i, f)) = Dirs.bytes(s"$r/$f/state"))
      rowsOut((i, "curate")) = spark.read.parquet(s"$r/curate/data").count()
      rowsOut((i, "cdc")) = Streams.readCdcState(spark, s"$r/cdc/state").count()
    }
    if (i > 0) Dirs.delete(root(i - 1))
  }

  def inputBytes: Long = Dirs.bytes(s"$in/docs") + Dirs.bytes(s"$in/changes")

  /** Each drained result equals its one-shot batch twin. */
  def check(lastPass: Int): Checked = {
    val r = root(lastPass)
    val all = allDocs
    val curated = Seq("doc_id", "quality", "n_bigrams", "shard")
    val curateGot = spark.read.parquet(s"$r/curate/data").select(curated.map(col): _*)
    val curateWant = Curation.curationPipeline(all, "doc_id", "text",
      qualityMin, 0L, shards, salt).select(curated.map(col): _*)
    val changesAll = spark.read.parquet(s"$in/changes")
    val cdcWant = Cdc.applyChanges(base, changesAll, "k", "seq", "op")
    val cdcGot = Streams.readCdcState(spark, s"$r/cdc/state")
      .select(cdcWant.columns.map(col): _*)
    val pairs = Seq(("curate", curateGot, curateWant), ("cdc", cdcGot, cdcWant))
    // small results: compare as sorted row multisets on the driver
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val notes = pairs.flatMap { case (fold, got, want) =>
      val g = rows(got)
      val w0 = rows(want)
      val w = if (ctx.breakExpected) w0.drop(1) else w0
      if (w.nonEmpty && g == w) None
      else Some(s"fold_stream $fold: drained ${g.size} rows, " +
        s"batch twin ${w.size} rows, ${g.diff(w).size} unmatched")
    }
    Checked(pairs.size, notes.size, notes)
  }
}

// ------------------------------------------------------------------ corpus

/** A fixed list of rows, one or more per operator family, each
 *  exhausted into a no-op sink: nine `SparkEntry.queries` rows and the
 *  reference's msgpack filter path ([[WireRow]]). */
final class CorpusBatch(ctx: Ctx) extends Workload {
  private def spark = ctx.spark
  val dir = s"${ctx.work}/corpus"
  val wire = new WireRow(ctx)
  val wireRow = "wire_fanout"

  /** (row, family). q58/q144 gained from the `fanWide` fan and q109
   *  lost from it on the committed sf0.1 data; at these input sizes
   *  the fan wins on neither (README, "Where corpus_batch time goes"). */
  val rows: Seq[(String, String)] = Seq(
    wireRow -> "wire", "q58_chunk_tokens" -> "text",
    "q18_simhash" -> "dedup", "q19_knn_brute" -> "similarity",
    "q82_bm25_topk" -> "retrieval", "q126_bpe_encode" -> "bpe",
    "q144_gopher_rules" -> "curation", "q109_c4_line_clean" -> "curation",
    "q131_zorder_zonemaps" -> "layout", "q22_media_features" -> "media")
  private val familyOf = rows.toMap
  private val oracleRows = rows.map(_._1).filter(_ != wireRow)

  /** Row order: a permutation drawn from the benchmark seed. */
  val order: Seq[String] =
    new scala.util.Random(ctx.seed).shuffle(rows.map(_._1))

  def familyOfSpan(s: Span): Option[String] = familyOf.get(s.name)

  def stageInputs(): Unit = {
    Inputs.writeCorpus(dir, docs = ctx.size(300, 150),
      vecs = ctx.size(300, 150), lines = ctx.size(10000, 2000))
    wire.stage()
  }

  /** Runs one row into the no-op sink. */
  private def exhaust(q: String): Unit =
    if (q == wireRow) wire.run()
    else try SparkEntry.queries(q)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    finally spark.catalog.clearCache()

  def pass(i: Int): Unit = {
    val took = order.map { q =>
      val t0 = System.nanoTime()
      ctx.spans(q, "unit") {
        exhaust(q)
        ctx.settle()
      }
      f"$q=${(System.nanoTime() - t0) / 1e9}%.2f"
    }
    System.err.println(s"[graftbench] corpus_batch pass $i rows: ${took.mkString(" ")}")
  }

  override def oracleDir: Option[String] = Some(s"${ctx.work}/oracle")

  /** The wire row against `MathOp.referenceEval`. Every other row
   *  runs once more, after the timed passes, into parquet under
   *  [[oracleDir]] with the same plan the passes exhaust; the launcher
   *  compares each result with its `SparkEntry.oracleSql` twin using
   *  the engine's local verifier. `--break-expected` leaves the last
   *  row out of the first result. */
  def check(lastPass: Int): Checked = {
    val out = oracleDir.get
    // the rows are independent queries: run them on a few driver
    // threads so their fixed cost per job overlaps
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(oracleRows) { q => Future {
      val df = SparkEntry.queries(q)(spark, dir)
      val kept = if (ctx.breakExpected && q == oracleRows.head)
        df.limit(math.max(0, df.count().toInt - 1)) else df
      kept.write.mode("overwrite").parquet(s"$out/$q")
    } }, Duration.Inf)
    finally { pool.shutdown(); spark.catalog.clearCache() }
    val json = oracleRows.map(q =>
      s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
    val notes = wire.check().toSeq
    Checked(1, notes.size, notes)
  }
}
