package graft

import java.io.File

import org.apache.spark.scheduler.SpecScheduler
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.multimodal.{Media, MediaRecord}
import graft.operators.{Bpe, Dedup, Retrieval, Similarity}
import graft.streaming.Streams

/** Failure paths of the folds that overlap their writes. One branch of
 *  a fold's overlap fails while the other is still writing; the fold
 *  must not return (or throw) before that write has finished, so a
 *  redelivery of the same batch cannot race it, and the redelivery
 *  must rebuild exactly the state a clean run writes. Faults are
 *  injected at file creation through [[FaultFileSystem]]: the failing
 *  branch's output directory throws, the other branch's output
 *  directory stalls for [[slowMs]]. */
class FoldFaultSpec extends SparkTestBase {

  import spark.implicits._

  private val slowMs = 4000L

  private val goodA = "the cat sat on the mat with a hat and a bat in the sun"
  private val goodB = "a dog ran to the tree and the bird flew over the wall"
  private val goodC = "it was the best of times and it was the worst of times"
  private val goodD = "she sells sea shells by the sea shore and the shells are fine"

  private def faultDir(prefix: String): String = {
    FaultFileSystem.register(spark)
    s"fault:${Streams.scratchDir(prefix)}"
  }

  private def noJobActive(): Boolean =
    SpecScheduler.activeJobs(spark.sparkContext) == 0

  private def causes(e: Throwable): Seq[Throwable] =
    if (e == null) Seq.empty
    else e +: (causes(e.getCause) ++ e.getSuppressed.toSeq.flatMap(causes))

  /** Run `fold` with `fail` armed to throw and `slow` armed to stall:
   *  the fold must fail with the injected fault, and only after the
   *  stalled write has finished. */
  private def faulted(fail: Option[String], slow: String)(fold: => Unit): Unit = {
    fail.foreach(FaultFileSystem.failUnder)
    FaultFileSystem.slowUnder(slow, slowMs)
    try {
      val e = intercept[Throwable](fold)
      assert(noJobActive(), "a write of the failed fold is still running")
      assert(FaultFileSystem.slowed.get > 0, "the stalled branch never wrote")
      assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains("injected")), e)
    } finally FaultFileSystem.reset()
  }

  /** Every parquet table under `root` as sorted JSON rows, keyed by its
   *  path below `root`, plus the text of every other file. */
  private def snapshot(root: String): Map[String, Seq[String]] = {
    val base = new File(new org.apache.hadoop.fs.Path(root).toUri.getPath)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def rel(f: File): String = base.toPath.relativize(f.toPath).toString
    val (parquet, other) = walk(base).partition(_.getName.endsWith(".parquet"))
    val tables = parquet.map(_.getParentFile).distinct.map(d =>
      rel(d) -> spark.read.parquet(d.getPath).toJSON.collect().toSeq.sorted)
    val files = other.map(f =>
      rel(f) -> Seq(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
    (tables ++ files).toMap
  }

  private def assertSameState(got: String, clean: String): Unit = {
    val (g, c) = (snapshot(got), snapshot(clean))
    assert(g.keySet === c.keySet)
    c.keys.foreach(k => assert(g(k) === c(k), s"state differs at $k"))
  }

  test("curation fold: a failed count write waits for the survivor write, and the redelivery rebuilds the clean state") {
    val b0 = Seq((1L, goodA), (2L, goodB)).toDF("doc_id", "text")
    val b1 = Seq((3L, goodC), (4L, goodA), (5L, goodD)).toDF("doc_id", "text")
    def fold(b: DataFrame, id: Long, dir: String): Unit =
      Streams.curateFoldBatch(b, id, s"$dir/state", "doc_id", "text",
        0.35, 1L, 8, "s") { (df, bid) =>
        df.write.mode("overwrite").parquet(s"$dir/out/b$bid")
      }
    val clean = faultDir("graft_fault_cur_clean_")
    fold(b0, 0L, clean); fold(b1, 1L, clean)
    val dir = faultDir("graft_fault_cur_")
    fold(b0, 0L, dir)
    faulted(Some(s"$dir/state/lm/grams/b1"), s"$dir/state/survivors/b1")(
      fold(b1, 1L, dir))
    fold(b1, 1L, dir)
    assertSameState(dir, clean)
  }

  test("pack fold: a throwing sink waits for the carry write, and the redelivery rebuilds the clean state") {
    val docs = (1L to 40L).map(i =>
      (i, s"the quick brown fox $i jumps over the lazy dog number $i"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 8)
    val b0 = docs.filter(col("doc_id") <= 20)
    val b1 = docs.filter(col("doc_id") > 20)
    def fold(b: DataFrame, id: Long, dir: String,
        sinkFails: Boolean = false): Unit =
      Streams.packFoldBatch(b, id, s"$dir/state", "doc_id", "text",
        merges, 16, 0) { (df, bid) =>
        if (sinkFails) {
          df.count() // the carry write starts meanwhile
          throw new IllegalStateException("injected sink fault")
        }
        df.write.mode("overwrite").parquet(s"$dir/out/b$bid")
      }
    val clean = faultDir("graft_fault_pack_clean_")
    fold(b0, 0L, clean); fold(b1, 1L, clean)
    val dir = faultDir("graft_fault_pack_")
    fold(b0, 0L, dir)
    faulted(None, s"$dir/state/b1/carry")(
      fold(b1, 1L, dir, sinkFails = true))
    fold(b1, 1L, dir)
    assertSameState(dir, clean)
  }

  test("CDC fold: a failed bucket write waits for the journal write, and the redelivery rebuilds the clean state") {
    val base = spark.range(1, 41)
      .select(col("id").as("k"), concat(lit("s"), col("id")).as("s"))
    val b0 = Seq((5L, 100L, "u", "x"), (6L, 101L, "d", ""))
      .toDF("k", "seq", "op", "s")
    val b1 = Seq((7L, 200L, "u", "y"), (5L, 201L, "u", "z"),
      (50L, 202L, "u", "new")).toDF("k", "seq", "op", "s")
    def fold(b: DataFrame, id: Long, dir: String): Unit =
      Streams.foldCdcBatch(b, id, s"$dir/state", "k", "seq", "op")
    def seeded(prefix: String): String = {
      val d = faultDir(prefix)
      Streams.seedCdcState(base, s"$d/state", "k", 4)
      fold(b0, 0L, d)
      d
    }
    val clean = seeded("graft_fault_cdc_clean_")
    fold(b1, 1L, clean)
    val dir = seeded("graft_fault_cdc_")
    faulted(Some(s"$dir/state/v1/data"), s"$dir/state/changes/b1")(
      fold(b1, 1L, dir))
    fold(b1, 1L, dir)
    assertSameState(dir, clean)
  }

  test("postings append: a failed posts write waits for the other stores, and the redelivery rebuilds the clean index") {
    val b0 = Seq((1L, "alpha bravo charlie"), (2L, "delta echo alpha"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "foxtrot golf alpha"), (4L, "hotel bravo bravo"))
      .toDF("doc_id", "text")
    def append(b: DataFrame, seg: String, dir: String): Unit =
      Retrieval.appendToPostingsIndex(s"$dir/ix", b, "text", "doc_id", seg)
    def started(prefix: String): String = {
      val d = faultDir(prefix)
      Retrieval.initPostingsIndexDir(s"$d/ix", "fp-test")
      append(b0, "b0", d)
      d
    }
    val clean = started("graft_fault_post_clean_")
    append(b1, "b1", clean)
    val dir = started("graft_fault_post_")
    faulted(Some(s"$dir/ix/posts/b1"), s"$dir/ix/terms/b1")(
      append(b1, "b1", dir))
    append(b1, "b1", dir)
    assertSameState(dir, clean)
  }

  /** Drain a screen over `batches` (one file each, in order) twice: a
   *  clean run, and a run whose batch-1 index append fails while its
   *  sink write stalls, restarted on the same checkpoint so batch 1 is
   *  redelivered. Both runs must end in the same index and sink rows. */
  private def screenCase(prefix: String, batches: Seq[DataFrame],
      init: String => Unit, appendDir: String => String)(
      start: (String, DataFrame, (DataFrame, Long) => Unit) =>
        DataStreamWriter[Row]): Unit = {
    val streamDir = Streams.scratchDir(s"${prefix}in_")
    batches.zipWithIndex.foreach { case (b, i) =>
      Streams.writeSinglePartFile(b, streamDir, s"b$i.parquet",
        1600000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$streamDir/b0.parquet").schema
    def drain(dir: String, ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
      start(s"$dir/ix", stream, (df, bid) =>
          df.write.mode("overwrite").parquet(s"$dir/out/b$bid"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val clean = faultDir(s"${prefix}clean_")
    init(s"$clean/ix")
    drain(clean, Streams.scratchDir(s"${prefix}ck_"))
    val dir = faultDir(prefix)
    init(s"$dir/ix")
    val ckpt = Streams.scratchDir(s"${prefix}ck_")
    faulted(Some(appendDir(s"$dir/ix")), s"$dir/out/b1")(drain(dir, ckpt))
    drain(dir, ckpt)
    assertSameState(dir, clean)
  }

  private def doc(tag: String) =
    s"unique content $tag alpha bravo charlie delta echo foxtrot golf hotel india juliet"

  test("LSH screen: a failed index append waits for the sink, and the redelivered batch rebuilds the clean state") {
    val corpus = (0L until 8L).map(i => (i, doc(s"corpus$i")))
      .toDF("doc_id", "text")
    screenCase("graft_fault_lsh_",
      Seq(Seq(100L -> doc("novelA"), 101L -> doc("corpus3")),
        Seq(200L -> (doc("novelA") + " tail"), 201L -> doc("novelB")))
        .map(_.toDF("doc_id", "text")),
      ix => Dedup.initLshIndexDir(corpus, "text", "doc_id", 3, 16, 4, ix,
        "fp-test"),
      ix => s"$ix/shingles/b1") { (ix, stream, sink) =>
      Streams.screenIngestEvolving(stream, ix, "text", "doc_id", 0.8)(sink)
    }
  }

  test("ANN screen: a failed index append waits for the sink, and the redelivered batch rebuilds the clean state") {
    val dim = 16
    def vecs(ids: Range, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      ids.map(i => (i.toLong, s"l${i % 5}",
        Seq.fill(dim)(rnd.nextDouble() * 2 - 1)))
        .toDF("vec_id", "label", "embedding")
    }
    val corpus = vecs(0 until 30, 42)
    screenCase("graft_fault_ann_",
      Seq(vecs(100 until 104, 7), vecs(200 until 204, 8)),
      ix => Similarity.materializeAnnIndex(corpus, dim, ix, "fp-test"),
      ix => s"$ix/data-g0/b1") { (ix, stream, sink) =>
      Streams.screenIngestSemantic(stream, ix, 0.999)(sink)
    }
  }

  test("Hamming screen: a failed index append waits for the sink, and the redelivered batch rebuilds the clean state") {
    def pngs(variants: Seq[(Long, Long, Boolean, Boolean)]): DataFrame =
      Media.blockPngsFor(variants.toDS()).toDF()
    screenCase("graft_fault_ham_",
      Seq(pngs(Seq((100L, 1000L, false, false), (101L, 3L, true, false))),
        pngs(Seq((200L, 1000L, true, false), (202L, 2000L, false, false)))),
      ix => Dedup.materializeHammingIndex(
        Media.dhash63(pngs(Seq(1L, 2L, 3L).map(f => (f, f, false, false)))
          .as[MediaRecord]), "doc_id", "dh", ix, 63, 2, "fp-test"),
      ix => s"$ix/data/b1") { (ix, stream, sink) =>
      Streams.screenIngestPerceptual(stream, ix, "doc_id",
        df => Media.dhash63(df.as[MediaRecord])
          .select(col("doc_id"), col("dh").as("h")))(sink)
    }
  }

  test("stopping curateIngest during an overlapped state write leaves no job of its run active") {
    val dir = faultDir("graft_fault_stop_")
    val streamDir = Streams.scratchDir("graft_fault_stop_in_")
    val b0 = Seq((1L, goodA), (2L, goodB)).toDF("doc_id", "text")
    Streams.writeSinglePartFile(b0, streamDir, "b0.parquet", 1600000000000L)
    FaultFileSystem.slowUnder(s"$dir/state/survivors/b0", 120000L)
    try {
      val stream = spark.readStream.schema(b0.schema).parquet(streamDir)
      val q = Streams.curateIngest(stream, s"$dir/state", "doc_id", "text",
          0.35, 1L, 8, "s") { (df, _) => df.count(); () }
        .option("checkpointLocation", Streams.scratchDir("graft_fault_stop_ck_"))
        .start()
      // stop once the fold's own branch (the count write) has landed and
      // only the stalled background survivor write is left running
      def stalled = FaultFileSystem.slowed.get > 0 &&
        graft.core.StoreFs.exists(s"$dir/state/lm/grams/b0/_SUCCESS")
      val deadline = System.nanoTime() + 60e9.toLong
      while (!stalled && q.isActive && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(stalled, s"the overlapped survivor write never stalled: ${q.exception}")
      val t0 = System.nanoTime()
      q.stop()
      assert(noJobActive(), "a job of the stopped run is still active")
      assert((System.nanoTime() - t0) / 1e9 < 60,
        "stop waited the stalled write out instead of cancelling it")
    } finally FaultFileSystem.reset()
  }
}
