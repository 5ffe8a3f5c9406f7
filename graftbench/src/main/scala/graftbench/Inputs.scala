package graftbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.sources.Msgpack

/** Seeded input synthesis. Every generator draws from its own
 *  `java.util.Random`, so the same seed always yields byte-identical
 *  rows. Files are written straight from the driver with the parquet
 *  library, not by Spark jobs, so staging costs the same in every run
 *  and warms nothing the timed passes use. */
object Inputs {

  /** The vocabulary and length range of the engine's synthetic
   *  documents table: short English-like tokens, 8 to 90 per doc. */
  val vocab: Array[String] = ("row the query stream fast spark line small " +
    "customer group value hash batch sort data big filter dup key agg " +
    "scan slow table part a merge window order column join vector").split(" ")
  private val langs = Array("en", "en", "en", "zh", "de", "es", "fr")

  def words(rnd: java.util.Random, lo: Int, hi: Int): String =
    Iterator.fill(lo + rnd.nextInt(hi - lo + 1))(vocab(rnd.nextInt(vocab.length)))
      .mkString(" ")

  /** Write one parquet file of `rows`, each filling a fresh record of
   *  `schema` (parquet message syntax). A positive `mtime` is set on the
   *  file: file-stream sources order their input by it. */
  def write[T](path: String, schema: String, rows: Iterable[T],
      mtime: Long = 0L)(fill: (Group, T) => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val conf = new Configuration()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withType(t).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(t)
    try rows.foreach { r =>
      val g = f.newGroup()
      fill(g, r)
      w.write(g)
    } finally w.close()
    val file = new File(path)
    // the local filesystem's checksum sidecar is not part of the table
    new File(file.getParentFile, s".${file.getName}.crc").delete()
    if (mtime > 0) file.setLastModified(mtime)
  }

  // ------------------------------------------------------------ wire

  /** One fluent-bit `mem`-input style event: flat dotted keys, int and
   *  double values, a non-numeric field, and optional fields. */
  final case class Event(seq: Long, tsNanos: Long,
      fields: Seq[(String, Any)])

  def events(seed: Long, n: Int): Array[Event] = {
    val rnd = new java.util.Random(seed)
    Array.tabulate(n) { i =>
      val total = 2048 + rnd.nextInt(1 << 20)
      val used = rnd.nextInt(total)
      val b = Seq.newBuilder[(String, Any)]
      b += "seq" -> i.toLong
      b += "Mem.total" -> total
      b += "Mem.used" -> used
      if (rnd.nextInt(10) != 0) b += "Mem.free" -> (total - used)
      b += "cpu_p" -> (rnd.nextInt(40000) / 100.0)
      if (rnd.nextInt(4) == 0) b += "Swap.used" -> rnd.nextInt(4096)
      b += "host" -> s"node-${rnd.nextInt(16)}"
      // a case-variant duplicate key: the first numeric match wins
      if (rnd.nextInt(20) == 0) b += "MEM.USED" -> -1
      Event(i.toLong, 1700000000000000000L + i * 1000000L, b.result())
    }
  }

  /** Encode `evs` as fluent-bit chunks (concatenated msgpack events,
   *  `perChunk` each) into `files` parquet files under `dir`: the
   *  backlog one drain reads. */
  def writeChunks(evs: Array[Event], dir: String, files: Int,
      perChunk: Int): String = {
    val chunks = evs.grouped(perChunk).map { g =>
      val o = new java.io.ByteArrayOutputStream()
      g.foreach(e => o.write(Msgpack.encodeEvent(e.tsNanos, e.fields)))
      o.toByteArray
    }.toSeq
    val per = (chunks.size + files - 1) / files
    chunks.grouped(per).zipWithIndex.foreach { case (cs, i) =>
      write(f"$dir/part-$i%05d.parquet", "message m { optional binary chunk; }",
        cs) { (g, c) => g.append("chunk",
          org.apache.parquet.io.api.Binary.fromConstantByteArray(c)) }
    }
    dir
  }

  // ------------------------------------------------------------ folds

  /** Documents for the curation fold: vocabulary text with exact
   *  duplicates of earlier docs (so dedup drops rows) and punctuation
   *  junk (so the quality gate drops rows). */
  def foldDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val texts = new Array[String](n)
    for (i <- 0 until n) texts(i) =
      if (i >= 5 && i % 9 == 0) texts(i - 5 - rnd.nextInt(i - 4))
      else if (i % 13 == 0) "!!! ;;; ### @@@ %%% ^^^ &&& *** ((( )))"
      else words(rnd, 12, 60)
    texts.indices.map(i => (i.toLong, texts(i)))
  }

  /** The CDC base table: (k, s, v). */
  def cdcBase(seed: Long, keys: Int): Seq[(Long, String, Double)] = {
    val rnd = new java.util.Random(seed ^ 0xba5eL)
    (0 until keys).map(k => (k.toLong, s"s$k", rnd.nextInt(100000) / 100.0))
  }

  /** CDC change batches: (k, seq, op, s, v). Sequence numbers rise
   *  across batches but some changes arrive late (lower seq than
   *  state), updates dominate, and a tenth are deletes. */
  def cdcChanges(seed: Long, keys: Int, batches: Int, perBatch: Int):
      Seq[Seq[(Long, Long, String, String, Double)]] = {
    val rnd = new java.util.Random(seed ^ 0xcdcL)
    var seq = 0L
    (0 until batches).map { _ =>
      (0 until perBatch).map { _ =>
        seq += 1 + rnd.nextInt(3)
        val late = rnd.nextInt(8) == 0
        val s = if (late) math.max(1L, seq - 40 - rnd.nextInt(40)) else seq
        val k = rnd.nextInt(keys + keys / 10).toLong
        val op = if (rnd.nextInt(10) == 0) "d" else "u"
        (k, s, op, if (op == "d") null else s"c$s", rnd.nextInt(100000) / 100.0)
      }
    }
  }

  /** Fold inputs under `in`: one docs file and one change file per
   *  micro-batch (`maxFilesPerTrigger=1` replays them in mtime order),
   *  and the CDC base table. */
  def writeFoldInputs(in: String, docs: Seq[(Long, String)],
      changes: Seq[Seq[(Long, Long, String, String, Double)]],
      base: Seq[(Long, String, Double)]): Unit = {
    val per = (docs.size + changes.size - 1) / changes.size
    docs.grouped(per).zipWithIndex.foreach { case (b, i) =>
      write(f"$in/docs/b$i%03d.parquet",
        "message d { optional int64 doc_id; optional binary text (STRING); }",
        b, 1600000000000L + i * 60000L) { case (g, (id, t)) =>
          g.append("doc_id", id).append("text", t); () }
    }
    changes.zipWithIndex.foreach { case (b, i) =>
      write(f"$in/changes/b$i%03d.parquet",
        "message c { optional int64 k; optional int64 seq; " +
          "optional binary op (STRING); optional binary s (STRING); " +
          "optional double v; }",
        b, 1600000000000L + i * 60000L) { case (g, (k, seq, op, s, v)) =>
          g.append("k", k).append("seq", seq).append("op", op)
          if (s != null) g.append("s", s)
          g.append("v", v); () }
    }
    write(s"$in/base/part-00000.parquet",
      "message b { optional int64 k; optional binary s (STRING); optional double v; }",
      base) { case (g, (k, s, v)) =>
        g.append("k", k).append("s", s).append("v", v); () }
  }

  // ------------------------------------------------------------ corpus

  /** The corpus tables the `corpus_batch` rows read, in the engine's
   *  testdata schema (documents, embeddings, lineitem), one file each.
   *  Fixed seed: the benchmark seed only permutes row order. */
  def writeCorpus(dir: String, docs: Int, vecs: Int, lines: Int): Unit = {
    val rnd = new java.util.Random(42L)
    write(s"$dir/documents.parquet",
      "message documents { optional int64 doc_id; optional binary text (STRING); " +
        "optional binary lang (STRING); optional binary source (STRING); " +
        "optional int64 n_chars; }", 0 until docs) { (g, i) =>
      val t = words(rnd, 8, 90)
      g.append("doc_id", i.toLong).append("text", t)
        .append("lang", langs(rnd.nextInt(langs.length)))
        .append("source", s"src${rnd.nextInt(20)}")
        .append("n_chars", t.length.toLong)
      ()
    }
    write(s"$dir/embeddings.parquet",
      "message embeddings { optional int64 vec_id; optional group embedding (LIST) " +
        "{ repeated group list { optional float element; } } optional int32 label; }",
      0 until vecs) { (g, i) =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      g.append("vec_id", i.toLong)
      val l = g.addGroup("embedding")
      v.foreach(x => l.addGroup("list").append("element", (x / norm).toFloat))
      g.append("label", rnd.nextInt(10))
      ()
    }
    val orders = lines / 4
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    write(s"$dir/lineitem.parquet",
      "message lineitem { optional int64 l_orderkey; optional int64 l_partkey; " +
        "optional int64 l_suppkey; optional int32 l_linenumber; " +
        "optional double l_quantity; optional double l_extendedprice; " +
        "optional double l_discount; optional double l_tax; " +
        "optional binary l_returnflag (STRING); optional binary l_linestatus (STRING); " +
        "optional int64 l_shipdate (TIMESTAMP(MICROS,false)); }",
      0 until lines) { (g, _) =>
      val q = 1 + rnd.nextInt(50)
      g.append("l_orderkey", rnd.nextInt(orders).toLong)
        .append("l_partkey", rnd.nextInt(2000).toLong)
        .append("l_suppkey", rnd.nextInt(100).toLong)
        .append("l_linenumber", 1 + rnd.nextInt(7))
        .append("l_quantity", q.toDouble)
        .append("l_extendedprice", q * (900 + rnd.nextInt(100000) / 100.0))
        .append("l_discount", rnd.nextInt(11) / 100.0)
        .append("l_tax", rnd.nextInt(9) / 100.0)
        .append("l_returnflag", "ANR".charAt(rnd.nextInt(3)).toString)
        .append("l_linestatus", "FO".charAt(rnd.nextInt(2)).toString)
        .append("l_shipdate", (day0 + rnd.nextInt(2500)) * 86400000000L)
      ()
    }
  }
}
