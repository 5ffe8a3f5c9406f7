package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, TextFunctions}

/**
 * Corpus-curation operators for pretraining pipelines — the
 * Gopher/C4-rule family plus the sequence-assembly steps that sit
 * between "filtered corpus" and "training batches".
 *
 * Everything here is a narrow projection or a bounded two-pass
 * primitive; nothing buffers a group, nothing windows over the whole
 * corpus on one reducer.
 */
object Curation {

  // ------------------------------------------------- repetition stats

  /** Gopher-style repetition signals per document, one narrow pass:
   *   - `dup_token_frac`: 1 − |distinct tokens| / |tokens| — the
   *     "repeated words" rule;
   *   - `dup_2gram_frac`: 1 − |distinct word-2-grams| / |word-2-grams|
   *     (0.0 when the doc has fewer than 2 tokens) — the "repeated
   *     phrases" rule.
   *  Distinct counts ride the fused [[HashExpressions.shingleHashes]]
   *  kernel (k=1 tokens, k=2 bigrams — distinct sorted h60s in one
   *  codegen pass, no string arrays); totals come off the same
   *  tokenization. Thresholding on these columns IS the filter —
   *  composable with the q33 quality gates. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = TextFunctions.lowerTokens(col(textCol))
    val tot1 = size(toks).cast("double")
    val tot2 = greatest(size(toks) - lit(1), lit(0)).cast("double")
    val d1 = size(HashExpressions.shingleHashes(col(textCol), 1)).cast("double")
    val d2 = size(HashExpressions.shingleHashes(col(textCol), 2)).cast("double")
    df.select(col(idCol),
      (lit(1.0) - d1 / tot1).as("dup_token_frac"),
      when(tot2 === 0.0, lit(0.0))
        .otherwise(lit(1.0) - d2 / tot2).as("dup_2gram_frac"))
  }

  /** DuckDB mirror: distinct SHINGLE STRINGS stand in for distinct
   *  h60s (q16's oracle already cross-checks that equivalence). */
  def repetitionStatsSql(table: String, textCol: String, idCol: String): String = {
    val toks = TextFunctions.lowerTokensSql(textCol)
    s"""SELECT $idCol,
       |  1.0 - CAST(length(list_distinct(toks)) AS DOUBLE)
       |      / CAST(length(toks) AS DOUBLE) AS dup_token_frac,
       |  CASE WHEN length(toks) - 1 <= 0 THEN 0.0
       |       ELSE 1.0 - CAST(length(list_distinct(grams)) AS DOUBLE)
       |            / CAST(length(toks) - 1 AS DOUBLE) END AS dup_2gram_frac
       |FROM (SELECT $idCol, toks,
       |        list_transform(range(1, greatest(length(toks), 1)),
       |          i -> toks[i] || ' ' || toks[i + 1]) AS grams
       |      FROM (SELECT $idCol, $toks AS toks FROM $table))""".stripMargin
  }

  // --------------------------------------- distributed running totals

  /** Exclusive running total of `valueCol` in `orderCol` order — the
   *  distributed prefix sum. A window (`ORDER BY id ROWS UNBOUNDED
   *  PRECEDING`) computes this on ONE reducer because a global order
   *  has a single partition; this primitive never does:
   *   1. range-exchange on `orderCol` + partition-local sort;
   *   2. per-partition value totals collect to the driver (one long
   *      per partition) and prefix-sum into partition offsets;
   *   3. a second narrow pass adds the offset to a partition-local
   *      running sum.
   *  Exact (long arithmetic), partitioning-invariant, two scans of a
   *  persisted frame — the same shape as
   *  [[Percentiles.exactByGroup]]'s selection. `orderCol` must be
   *  UNIQUE (ids): tied order keys would make the running total
   *  between the tied rows order-ambiguous — in the window
   *  formulation too. */
  def withRunningTotal(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p0 = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(p0, col(orderCol))
      .sortWithinPartitions(orderCol)
      .persist(MEMORY_AND_DISK)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val partTotals: Array[(Int, Long)] = sorted.rdd.mapPartitionsWithIndex {
      (pid, it) =>
        var s = 0L
        it.foreach(r => s += r.getLong(vIdx))
        Iterator.single((pid, s))
    }.collect()
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partTotals.sortBy(_._1).map { case (pid, s) =>
        val o = pid -> acc; acc += s; o
      }.toMap
    }
    val bOff = spark.sparkContext.broadcast(offsets)
    val outSchema = sorted.schema.add(outCol,
      org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = bOff.value.getOrElse(pid, 0L)
      it.map { r =>
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ run)
        run += r.getLong(vIdx)
        out
      }
    }
    // Materialize the second pass BEFORE unpersisting `sorted` —
    // returning lazily and unpersisting here would silently recompute
    // pass 2 from the shuffle (correct only by determinism, and it
    // repeats the partition-local sort). localCheckpoint pins the
    // result on the executors; at cluster scale with executor churn a
    // lake write (the sharedLshPairs pattern) is the durable variant.
    val result = spark.createDataFrame(rdd, outSchema)
      .localCheckpoint(eager = true)
    sorted.unpersist(blocking = false)
    result
  }

  // --------------------------------------------------- sequence packing

  /** Capacity packing: assign documents (in `idCol` order) to training
   *  sequences of `budget` tokens — `seq_id = exclusive-prefix-sum of
   *  token counts ÷ budget` (integer division), the deterministic
   *  fixed-order packing contract. Token counts come from the fused
   *  [[graft.functions.TokenCounts]] kernel. Output
   *  (id, n_tok, seq_id). */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      budget: Long): DataFrame = {
    val counted = df.select(col(idCol),
      graft.functions.TokenCounts(col(textCol)).getField("tok_ws").as("n_tok"))
    withRunningTotal(counted, idCol, "n_tok", "__cum")
      .select(col(idCol), col("n_tok"),
        // integer floor division on longs (`div`), matching the
        // oracle's `//` exactly — `/` is double division and loses
        // exactness past 2^53 cumulative tokens
        expr(s"__cum div $budget").as("seq_id"))
  }

  def packSequencesSql(table: String, textCol: String, idCol: String,
      budget: Long): String =
    s"""SELECT $idCol, n_tok,
       |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY $idCol
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $budget
       |    AS BIGINT) AS seq_id
       |FROM (SELECT $idCol,
       |        CAST(length(regexp_split_to_array(trim($textCol), '${graft.functions.TextFunctions.wsClassSql}+')) AS BIGINT)
       |          AS n_tok FROM $table)""".stripMargin

  // -------------------------------------------------- token chunking

  /** Sliding token-window chunking: split each document into windows
   *  of `width` whitespace tokens advancing by `stride` (overlap =
   *  width − stride), the standard context-window preparation step.
   *  1→N explode; chunk count = 1 + ⌈max(n−width, 0) / stride⌉, so
   *  every token is covered and short docs yield exactly one chunk.
   *  Output (id, chunk_idx, chunk_text). */
  def chunkByTokens(df: DataFrame, textCol: String, idCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width,
      "chunkByTokens needs 1 <= stride <= width")
    val toks = split(trim(col(textCol)), "\\s+")
    val nChunks = (lit(1) +
      ceil(greatest(size(toks) - lit(width), lit(0)).cast("double")
        / lit(stride.toDouble)).cast("int"))
    df.select(col(idCol), toks.as("__toks"),
        posexplode(sequence(lit(0), nChunks - lit(1))))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("__toks"),
          col("pos") * lit(stride) + lit(1), lit(width))).as("chunk_text"))
  }

  // ------------------------------------------------- URL/domain stats

  /** URL matcher, Java∩RE2 common subset (no lookaround, no
   *  backrefs): scheme + one run of host/path characters. Terminates
   *  at whitespace/quotes/brackets like real crawl pipelines. */
  val urlPattern = "https?://[A-Za-z0-9./_-]+"

  /** Host capture out of a matched URL. */
  val hostPattern = "https?://([A-Za-z0-9.-]+)"

  /** Registered domain = the last two dot-labels of the host
   *  (`www.a.example.com` → `example.com`). */
  val domainPattern = "[A-Za-z0-9-]+\\.[A-Za-z0-9-]+$"

  /** Per-domain URL statistics with a blocklist screen (X60) — the
   *  crawl-curation primitive: which registered domains does the
   *  corpus cite, how often, in how many documents, minus the domains
   *  policy removes. Common Crawl-style pipelines run exactly this
   *  to build domain-level quality/spam priors.
   *
   *  Shape at 100 TB: URL extraction is a narrow 1→few
   *  `regexp_extract_all` + explode (no shuffle), the blocklist —
   *  small by definition — broadcasts into a LEFT ANTI join (never a
   *  row-multiplying join), and the only exchange is the final
   *  hash aggregation on `domain`. Domain keys are naturally skewed
   *  (a few giant domains); the count/count-distinct agg is
   *  partial-aggregated map-side so hot domains cost one merged row
   *  per task, and the X24 salted-agg tools apply unchanged if a
   *  single domain ever dominates a task. */
  def domainStats(df: DataFrame, textCol: String, idCol: String,
      blocklist: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val urls = df.select(col(idCol),
        explode(expr(s"regexp_extract_all(`$textCol`, '$urlPattern', 0)")).as("url"))
      .select(col(idCol),
        regexp_extract(regexp_extract(col("url"), hostPattern, 1),
          domainPattern, 0).as("domain"))
    val block = spark.createDataFrame(
      blocklist.map(Tuple1(_))).toDF("domain")
    urls.join(broadcast(block), Seq("domain"), "left_anti")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col(idCol)).as("n_docs"))
  }

  /** DuckDB oracle twin: same extraction patterns (RE2 interprets
   *  them identically), blocklist as NOT IN, same aggregation. */
  def domainStatsSql(table: String, textExpr: String, idCol: String,
      blocklist: Seq[String]): String = {
    val blockList = blocklist.map(b => s"'$b'").mkString(", ")
    s"""SELECT domain, count(*) AS n_urls,
       |  count(DISTINCT $idCol) AS n_docs FROM (
       |  SELECT $idCol, regexp_extract(regexp_extract(u.url, '$hostPattern', 1),
       |    '$domainPattern', 0) AS domain
       |  FROM (SELECT $idCol, unnest(regexp_extract_all($textExpr, '$urlPattern'))
       |          AS url FROM $table) u
       |) WHERE domain NOT IN ($blockList)
       |GROUP BY domain""".stripMargin
  }

  // ----------------------------------------------- C4 line-level clean

  /** Terminal-punctuation rule: a kept line must end in `.`, `!`,
   *  `?`, or a closing quote, allowing a trailing SPACE run (the
   *  exact tolerance `trim` — which strips spaces only in both
   *  engines — would give). Anchored with `\z`, NOT `$`: Java's `$`
   *  matches before a final `\r`/` ` where RE2's matches
   *  end-of-text only, so `$` would silently diverge the engines on
   *  CRLF corpora; `\z` is end-of-text in BOTH. */
  val terminalPunctPattern = "[.!?\"] *\\z"

  /** C4-style line-level cleaning (Raffel et al. 2020, the famous
   *  "Colossal Clean Crawled Corpus" rules, line-scoped): keep a line
   *  iff it (a) has ≥ `minWords` whitespace words, (b) ends in
   *  terminal punctuation, (c) does not contain "lorem ipsum"
   *  (case-insensitive), (d) does not contain `{` (code/markup
   *  leak). Dropped lines vanish; survivors reassemble in order —
   *  the page-level nav/footer/code shrapnel filter that sits
   *  between [[graft.functions.TextFunctions.htmlToText]] and the
   *  document-level gates (X2/X66/X74).
   *
   *  One narrow builtin HOF chain (split → filter lambda →
   *  array_join) — per-doc bounded, no shuffle, applies to a stream
   *  verbatim. Both engines keep trailing empty splits (the q92
   *  contract) and count words by the non-empty-token model. No
   *  `trim` in any rule: the word count drops empty split tokens
   *  anyway, `contains` is position-independent, and the punct
   *  anchor tolerates a trailing space run directly — each line is
   *  examined in ONE pass per predicate instead of re-trimming per
   *  rule. */
  def c4LineClean(text: Column, minWords: Int): Column = {
    val kept = filter(split(text, "\n", -1), l =>
      size(filter(split(l, "\\s+"), w => w =!= "")) >= minWords &&
        l.rlike(terminalPunctPattern) &&
        !contains(lower(l), lit("lorem ipsum")) &&
        !contains(l, lit("{")))
    array_join(kept, "\n")
  }

  /** DuckDB oracle twin — same split/word model, same rules. */
  def c4LineCleanSql(textExpr: String, minWords: Int): String =
    s"""array_to_string(list_filter(string_split($textExpr, chr(10)), l ->
       |  length(list_filter(regexp_split_to_array(l, '${graft.functions.TextFunctions.wsClassSql}+'),
       |    w -> w <> '')) >= $minWords
       |  AND regexp_matches(l, '$terminalPunctPattern')
       |  AND NOT contains(lower(l), 'lorem ipsum')
       |  AND NOT contains(l, '{')), chr(10))""".stripMargin

  // --------------------------------------------- vocabulary coverage

  /** Tokenizer-vocabulary coverage / OOV-rate scoring (the
   *  "will this tokenizer serve this corpus" and "is this doc
   *  vocabulary-alien" check run before committing to a vocab):
   *  vocab = the top-`vocabSize` corpus tokens by (count DESC, token
   *  ASC — a total order, so the cut is deterministic in both
   *  engines); per doc, `n_oov` = token OCCURRENCES outside the
   *  vocab and `oov_rate` = n_oov / n_tok. High-OOV docs are
   *  mojibake/code/foreign-language candidates the quality gates
   *  (X2/X66/X74) compose with; a real deployment passes its actual
   *  tokenizer vocab as the frame instead of deriving top-V.
   *
   *  Shape at 100 TB: ONE corpus text scan through the fused
   *  [[graft.functions.HashExpressions.tokenFrequencies]] kernel,
   *  persisted to feed (a) the vocab-sized corpus unigram table —
   *  top-V via TakeOrdered, never a global sort — and (b) the
   *  per-doc coverage join, in which the vocab (small by definition)
   *  BROADCASTS into the posting stream; two hash aggs on doc id.
   *  Token-free docs are absent from the output (no tokens → no
   *  coverage question), the X66 contract. */
  def vocabCoverage(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    // eager localCheckpoint, NOT persist (the withRunningTotal
    // pattern): the result is returned lazily, so there is no
    // unpersist point — a persist here leaked one cached RDD per
    // invocation for the session lifetime. Checkpoint blocks are
    // released when the frame is GC'd, no caller contract needed.
    // (Distinct from clusters()'s persist-not-checkpoint rule, which
    // is about MANY simultaneously-referenced round checkpoints; one
    // checkpoint per invocation measured safe across the full bench
    // and the sf10 sweep. Executor loss fails the query rather than
    // recomputing — acceptable for a derived analytic frame.)
    val tf = docs.select(col(idCol), explode(
        HashExpressions.tokenFrequencies(col(textCol))).as("tf"))
      .select(col(idCol), col("tf.t").as("t"), col("tf.n").as("n"))
      .localCheckpoint(eager = true)
    val vocab = tf.groupBy(col("t")).agg(sum(col("n")).as("cnt"))
      .orderBy(desc("cnt"), asc("t")).limit(vocabSize)
      .select(col("t"))
    val covered = tf.join(broadcast(vocab), Seq("t"))
      .groupBy(col(idCol)).agg(sum(col("n")).as("__in"))
    val oov = col("n_tok") - coalesce(col("__in"), lit(0L))
    tf.groupBy(col(idCol)).agg(sum(col("n")).as("n_tok"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tok"), oov.as("n_oov"),
        (oov.cast("double") / col("n_tok").cast("double")).as("oov_rate"))
  }

  /** DuckDB oracle twin: same token model, same (cnt DESC, t) vocab
   *  cut, same integer arithmetic before the one exact division. */
  def vocabCoverageSql(table: String, idCol: String, textExpr: String,
      vocabSize: Int): String = {
    val toks = TextFunctions.lowerTokensSql(textExpr)
    s"""WITH tok AS (
       |  SELECT $idCol, t, count(*) AS n FROM (
       |    SELECT $idCol, unnest($toks) AS t FROM $table)
       |  WHERE t <> '' GROUP BY 1, 2),
       |vocab AS (SELECT t FROM (
       |    SELECT t, CAST(sum(n) AS BIGINT) AS cnt FROM tok GROUP BY 1)
       |  ORDER BY cnt DESC, t LIMIT $vocabSize),
       |tot AS (SELECT $idCol, CAST(sum(n) AS BIGINT) AS n_tok
       |        FROM tok GROUP BY 1),
       |cov AS (SELECT $idCol, CAST(sum(n) AS BIGINT) AS __in
       |        FROM tok JOIN vocab USING (t) GROUP BY 1)
       |SELECT $idCol, n_tok,
       |  n_tok - coalesce(__in, 0) AS n_oov,
       |  CAST(n_tok - coalesce(__in, 0) AS DOUBLE)
       |    / CAST(n_tok AS DOUBLE) AS oov_rate
       |FROM tot LEFT JOIN cov USING ($idCol)""".stripMargin
  }

  def chunkByTokensSql(table: String, textCol: String, idCol: String,
      width: Int, stride: Int): String =
    s"""SELECT $idCol, CAST(i AS INT) AS chunk_idx,
       |  array_to_string(toks[(i * $stride + 1):(i * $stride + $width)], ' ')
       |    AS chunk_text
       |FROM (SELECT $idCol, toks, unnest(range(0,
       |        1 + CAST(ceil(greatest(length(toks) - $width, 0)
       |              / CAST($stride AS DOUBLE)) AS BIGINT))) AS i
       |      FROM (SELECT $idCol,
       |              regexp_split_to_array(trim($textCol), '${graft.functions.TextFunctions.wsClassSql}+') AS toks
       |            FROM $table))""".stripMargin

  // ------------------------------------------ end-to-end pipeline

  /** The full curation pipeline as ONE composed plan (X103, round
   *  10): exact dedup (keep the min-id copy per content hash) →
   *  quality gate ([[TextFunctions.qualityScoreFast]] ≥ qualityMin)
   *  → corpus-trained stupid-backoff bigram fluency screen
   *  ([[Lm.bigramBackoffScore]] ≥ lmMinMicro — the model trains on
   *  the GATED SURVIVORS, never on text the pipeline just rejected)
   *  → deterministic shard assignment (h60(salt‖id) mod shards).
   *  Returns (idCol, quality, n_bigrams, mean_score_micro, shard).
   *
   *  This is the query a reference user actually RUNS end-to-end;
   *  the standalone rows (q15/q12/q130/q101) bench the stages, this
   *  one proves they compose into a single Catalyst plan: the
   *  dedup+quality survivor frame feeds the LM trainer's two hash
   *  aggs, the scorer's bigram stream, AND the final join — four
   *  plan arms — so it is persisted (CacheManager-tracked, so
   *  callers/Bench reclaim it; it already passed two gates, so it is
   *  a shrinking fraction of the corpus by construction).
   *  Composition adds no new shuffle class: every exchange below is
   *  one the component operators already pay alone. */
  def curationPipeline(docs: DataFrame, idCol: String, textCol: String,
      qualityMin: Double, lmMinMicro: Long, shards: Int,
      salt: String, lmOrder: Int = 2): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    require(lmOrder >= 2 && lmOrder <= 7,
      s"lmOrder must be in [2,7], got $lmOrder")
    val keep = Dedup.exactGroups(docs, textCol, idCol)
      .select(col("keep_id").as(idCol))
    val gated = docs
      .join(keep, Seq(idCol), "left_semi")
      .select(col(idCol), col(textCol),
        TextFunctions.qualityScoreFast(col(textCol)).as("quality"))
      .filter(col("quality") >= qualityMin)
      .persist()
    // the LM order is config (round-12 item: Brants et al. run n = 5;
    // q133 judges n = 2, q137 judges n = 3). The n = 2 surface keeps
    // its historical n_bigrams column name.
    val countAlias = if (lmOrder == 2) "n_bigrams" else "n_ngrams"
    val lm =
      if (lmOrder == 2) Lm.bigramBackoffScore(gated, idCol, textCol, 2)
      else Lm.ngramBackoffScore(gated, idCol, textCol, lmOrder, 2)
    gated.join(lm, Seq(idCol))
      .filter(col("mean_score_micro") >= lmMinMicro)
      .select(col(idCol), col("quality"), col(countAlias),
        col("mean_score_micro"),
        (graft.functions.Hashing.h60(
          concat(lit(salt), col(idCol).cast("string")))
          % lit(shards.toLong)).as("shard"))
  }

  /** DuckDB twin of [[graft.streaming.Streams.curateFoldBatch]]'s
   *  TWO-BATCH sequential semantics (round-11 item 7): `docsSql`
   *  yields (idCol, textCol, grp) with grp ∈ ('b1','b2'). Batch 1 is
   *  the batch pipeline on its own slice (state empty); batch 2
   *  dedups against batch-1 SURVIVORS (rejected docs do not block —
   *  later copies face the gates themselves), gates, and scores under
   *  an LM trained on b1-survivors ∪ b2-gated with state precedence —
   *  the identical evolution the stream executes. Output: every
   *  survivor of both batches with its scores and shard. */
  def curationStreamSql(docsSql: String, idCol: String, textCol: String,
      qualityMin: Double, lmMinMicro: Long, shards: Int,
      salt: String, lmOrder: Int = 2): String = {
    val q = TextFunctions.qualityScoreSql(textCol)
    val alias = if (lmOrder == 2) "n_bigrams" else "n_ngrams"
    def lmSql(train: String, docs: String): String =
      if (lmOrder == 2)
        Lm.bigramBackoffScoreOverSql(train, docs, idCol, textCol, 2)
      else Lm.ngramBackoffScoreOverSql(train, docs, idCol, textCol,
        lmOrder, 2)
    def keepFirst(src: String): String =
      s"""SELECT d.* FROM $src d JOIN (
         |    SELECT md5($textCol) AS h, min($idCol) AS $idCol
         |    FROM $src GROUP BY 1) k ON d.$idCol = k.$idCol""".stripMargin
    def gate(src: String): String =
      s"""SELECT * FROM (
         |    SELECT $idCol, $textCol, $q AS quality FROM $src)
         |  WHERE quality >= $qualityMin""".stripMargin
    s"""WITH __docs AS ($docsSql),
       |__b1 AS (SELECT $idCol, $textCol FROM __docs WHERE grp = 'b1'),
       |__b1k AS (${keepFirst("__b1")}),
       |__b1g AS (${gate("__b1k")}),
       |__b1lm AS (SELECT * FROM (
       |  ${lmSql("__b1g", "__b1g")})),
       |__b1s AS (
       |  SELECT g.$idCol, g.$textCol, g.quality, l.$alias,
       |         l.mean_score_micro
       |  FROM __b1g g JOIN __b1lm l ON g.$idCol = l.$idCol
       |  WHERE l.mean_score_micro >= $lmMinMicro),
       |__b2 AS (SELECT $idCol, $textCol FROM __docs WHERE grp = 'b2'),
       |__b2k AS (${keepFirst("__b2")}),
       |__b2d AS (
       |  SELECT d.* FROM __b2k d WHERE NOT EXISTS (
       |    SELECT 1 FROM __b1s s
       |    WHERE md5(s.$textCol) = md5(d.$textCol)
       |      AND s.$idCol <> d.$idCol)),
       |__b2g AS (${gate("__b2d")}),
       |__train2 AS (
       |  SELECT $idCol, $textCol FROM __b1s
       |  UNION ALL
       |  SELECT $idCol, $textCol FROM __b2g g WHERE NOT EXISTS (
       |    SELECT 1 FROM __b1s s WHERE s.$idCol = g.$idCol)),
       |__b2lm AS (SELECT * FROM (
       |  ${lmSql("__train2", "__b2g")})),
       |__b2s AS (
       |  SELECT g.$idCol, g.$textCol, g.quality, l.$alias,
       |         l.mean_score_micro
       |  FROM __b2g g JOIN __b2lm l ON g.$idCol = l.$idCol
       |  WHERE l.mean_score_micro >= $lmMinMicro),
       |__all AS (SELECT * FROM __b1s UNION ALL SELECT * FROM __b2s)
       |SELECT $idCol, quality, $alias, mean_score_micro,
       |  ${graft.functions.Hashing.h60Sql(
            s"'$salt' || CAST($idCol AS VARCHAR)")} % $shards AS shard
       |FROM __all""".stripMargin
  }

  /** DuckDB twin of [[curationPipeline]]: replays dedup, the quality
   *  gate, the LM training-on-survivors (the nested
   *  [[Lm.bigramBackoffScoreSql]] re-trains both count tables over
   *  the same gated frame), and the shard hash. */
  def curationPipelineSql(table: String, idCol: String, textCol: String,
      qualityMin: Double, lmMinMicro: Long, shards: Int,
      salt: String, lmOrder: Int = 2): String = {
    val q = TextFunctions.qualityScoreSql(textCol)
    val alias = if (lmOrder == 2) "n_bigrams" else "n_ngrams"
    val lmSql =
      if (lmOrder == 2) Lm.bigramBackoffScoreSql("__gated", idCol, textCol, 2)
      else Lm.ngramBackoffScoreSql("__gated", idCol, textCol, lmOrder, 2)
    s"""WITH __keep AS (
       |  SELECT min($idCol) AS $idCol FROM $table GROUP BY md5($textCol)),
       |__gated AS (
       |  SELECT * FROM (
       |    SELECT d.$idCol, d.$textCol, $q AS quality
       |    FROM $table d JOIN __keep k USING ($idCol))
       |  WHERE quality >= $qualityMin),
       |__lm AS (SELECT * FROM (
       |  $lmSql))
       |SELECT g.$idCol, g.quality, l.$alias, l.mean_score_micro,
       |  ${graft.functions.Hashing.h60Sql(
            s"'$salt' || CAST(g.$idCol AS VARCHAR)")} % $shards AS shard
       |FROM __gated g JOIN __lm l ON g.$idCol = l.$idCol
       |WHERE l.mean_score_micro >= $lmMinMicro""".stripMargin
  }

  // ----------------------------- CCNet perplexity buckets (X134)

  /** CCNet-style LM-fluency bucketing (Wenzek et al. 2020 §4.3):
   *  score every document with the judged stupid-backoff LM (q130's
   *  kernel), split the corpus into head / middle / tail THIRDS by
   *  fluency, and report each bucket's occupancy and score range —
   *  the artifact the CCNet pipeline uses to keep head+middle and to
   *  weight sampling by fluency tier.
   *
   *  The cut points come from a deterministic h60 CALIBRATION SAMPLE
   *  (exactly as CCNet computes its perplexity cutoffs on a sample,
   *  then applies FIXED thresholds at scale): cut k is the
   *  (k·ns div 3)-th smallest (score, id) pair of the sample —
   *  lexicographic on the integer micro-unit score with the id
   *  tie-break, so the cuts and every bucket assignment are exact
   *  integer comparisons, engine-identical by construction. No
   *  corpus-sized sort anywhere: scoring is the q130 plan (token
   *  equi-joins), the sample is rate-bounded (persisted — it is the
   *  only frame read twice), each cut is one bounded TakeOrdered
   *  job, and the report is ONE 3-row map-side-combined aggregate
   *  over the fixed cut literals. Output: (bucket 0/1/2, label
   *  tail/middle/head ascending fluency, n_docs, sum/min/max score
   *  micro-units). */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int, sampleRate: Double, salt: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persist the (id, score) projection ONCE: the calibration arm
    // (sample count + two cut jobs) and the final bucketing pass both
    // read it, and each would otherwise re-execute the FULL q130
    // scoring plan — model-train aggregations included, which no
    // pushdown can shrink. The cached frame is doc-count × 16 bytes.
    val scored = Lm.bigramBackoffScore(docs, idCol, textCol, minCount)
      .select(col(idCol).as("__id"), col("mean_score_micro").as("__s"))
      .persist(MEMORY_AND_DISK)
    val sm = Sampling.hashSample(scored, col("__id"), sampleRate, salt)
    try {
      val ns = sm.count()
      require(ns >= 3,
        s"calibration sample holds $ns rows — raise sampleRate")
      def cut(r: Long): (Long, Long) = {
        val row = sm.orderBy(col("__s"), col("__id"))
          .limit(java.lang.Math.toIntExact(r))
          .agg(max(struct(col("__s"), col("__id"))).as("m"))
          .select(col("m.__s"), col("m.__id")).head()
        (row.getLong(0), row.getLong(1))
      }
      // the two cut jobs are independent bounded TakeOrdereds over the
      // persisted sample — overlap them (round-13, the guide's
      // overlap-independent-jobs rule; same result by construction)
      val Seq((c1s, c1i), (c2s, c2i)) =
        graft.core.Overlap.all(docs.sparkSession, "ccnet-buckets")(Seq(
          "cut1" -> (() => cut(ns / 3)), "cut2" -> (() => cut(2 * ns / 3))))
      def le(s: Long, i: Long): Column =
        col("__s") < lit(s) || (col("__s") === lit(s) && col("__id") <= lit(i))
      val report = scored.select(col("__s"),
          when(le(c1s, c1i), lit(0L)).when(le(c2s, c2i), lit(1L))
            .otherwise(lit(2L)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__s")).as("sum_score_micro"),
          min(col("__s")).as("min_score_micro"),
          max(col("__s")).as("max_score_micro"))
        .select(col("bucket"),
          when(col("bucket") === 0L, lit("tail"))
            .when(col("bucket") === 1L, lit("middle"))
            .otherwise(lit("head")).as("label"),
          col("n_docs"), col("sum_score_micro"),
          col("min_score_micro"), col("max_score_micro"))
      // the report is ≤ 3 rows — materialize it EAGERLY off the cache
      // before the unpersist below (returning the lazy plan would
      // recompute the full scoring subtree at the caller's action)
      val spark = docs.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(report.collect().toSeq, 1),
        report.schema)
    } finally { scored.unpersist(); () }
  }

  /** DuckDB oracle twin of [[ccnetBuckets]] — LM scores via the q130
   *  twin, the same h60 sample predicate, rank-based cuts, tuple-
   *  compare buckets, 3-row report. */
  def ccnetBucketsSql(table: String, idCol: String, textExpr: String,
      minCount: Int, sampleRate: Double, salt: String): String =
    s"""WITH __scored AS (
       |  SELECT $idCol AS id, mean_score_micro AS s FROM (
       |    ${Lm.bigramBackoffScoreSql(table, idCol, textExpr, minCount)})),
       |__smp AS (SELECT * FROM __scored
       |  WHERE ${Sampling.hashSampleSqlPredicate("id", sampleRate, salt)}),
       |__ord AS (SELECT s, id, row_number() OVER (ORDER BY s, id) AS r,
       |                 count(*) OVER () AS n
       |          FROM __smp),
       |__c1 AS (SELECT s, id FROM __ord WHERE r = n // 3),
       |__c2 AS (SELECT s, id FROM __ord WHERE r = (2 * n) // 3),
       |__b AS (SELECT CASE
       |    WHEN sc.s < c1.s OR (sc.s = c1.s AND sc.id <= c1.id) THEN 0
       |    WHEN sc.s < c2.s OR (sc.s = c2.s AND sc.id <= c2.id) THEN 1
       |    ELSE 2 END AS bucket, sc.s
       |  FROM __scored sc CROSS JOIN __c1 c1 CROSS JOIN __c2 c2)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CASE bucket WHEN 0 THEN 'tail' WHEN 1 THEN 'middle'
       |       ELSE 'head' END AS label,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(s) AS BIGINT) AS sum_score_micro,
       |  CAST(min(s) AS BIGINT) AS min_score_micro,
       |  CAST(max(s) AS BIGINT) AS max_score_micro
       |FROM __b GROUP BY 1, 2""".stripMargin

  // ------------------------------- DSIR hashed importance resampling

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
   *  Language Models via Importance Resampling"): score every
   *  CANDIDATE document (rows failing `targetPred`) by how much its
   *  hashed-bigram feature profile looks like the TARGET slice (rows
   *  passing `targetPred`), and keep the global top N.
   *
   *  The importance weight of hash bucket b is the paper's
   *  log(p_target(b)) − log(p_raw(b)), computed here as the DECIMAL
   *  DIGIT COUNT difference digits(c_tgt(b)+1) − digits(c_raw(b)+1) —
   *  the engine-wide integer log₁₀ proxy (the q94 rule: no libm `ln`
   *  hostaging the oracle hash; +1 is the add-one smoothing that
   *  keeps target-absent buckets finite). The per-corpus normalizers
   *  log N_tgt − log N_raw shift every instance by the same constant
   *  and are dropped. A doc's score is the MEAN over its bigram
   *  instances, in exact integer micro-units: dsir_micro =
   *  (Σ_inst dw(bucket) · 10⁶) div n_inst — Σ_inst dw ≡ the paper's
   *  Σ_b c_b(x)·dw(b) without ever materializing per-doc feature
   *  vectors, and the mean removes the length bias the raw sum has
   *  under a mostly-negative dw (c_tgt ≤ c_all pointwise, so longer
   *  docs would otherwise always lose to shorter ones regardless of
   *  profile). Both engines' integer division truncates toward zero
   *  (Spark IntegralDivide ≡ DuckDB `//`: −7÷2 → −3 in both —
   *  verified, not assumed), so negative means floor identically.
   *  Docs with < 2 tokens have no features and are not selectable
   *  (both engines).
   *
   *  Shape at 100 TB: the bigram-instance stream (one narrow
   *  slice-zip explode, the q130 idiom) is scanned twice, q94-style —
   *  once into the BUCKETS-row model aggregate (map-side combined;
   *  the model is broadcast back), once through the broadcast model
   *  join into the per-doc score aggregate (map-side combinable on
   *  the doc key) — rescanning text beats persisting a token-volume
   *  frame. Selection is the bounded global top-N heap
   *  ([[graft.functions.TopKAggregate]], one group): each map task
   *  ships ≤ N candidates, never the corpus. Output: N rows
   *  (rank, id, dsir_score), tie-broken (score DESC, id ASC). */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int, topN: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    def inst = {
      val toks = filter(TextFunctions.lowerTokens(col(textCol)), w => w =!= "")
      docs.select(col(idCol), targetPred.as("__t"), toks.as("__w"))
        .filter(size(col("__w")) >= 2)
        .select(col(idCol), col("__t"), explode(arrays_zip(
          slice(col("__w"), lit(1), size(col("__w")) - 1),
          slice(col("__w"), lit(2), size(col("__w")) - 1))).as("__z"))
        .select(col(idCol), col("__t"),
          pmod(graft.functions.Hashing.h60(
            concat(col("__z").getField("0"), lit(" "),
              col("__z").getField("1"))), lit(buckets.toLong))
            .as("__b"))
    }
    def digits(c: Column): Column = length(c.cast("string")).cast("long")
    val model = inst.groupBy(col("__b"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
        count(lit(1)).as("__ca"))
      .select(col("__b"),
        (digits(col("__ct") + 1L) - digits(col("__ca") + 1L)).as("__dw"))
    val scored = inst.filter(!col("__t"))
      .join(broadcast(model), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nf"), sum(col("__dw")).as("__sum"))
      .select(col(idCol), expr("__sum * 1000000 div __nf").as("dsir_micro"))
    scored.groupBy(lit(1).as("__g"))
      .agg(graft.functions.TopKAggregate.simTopK(
        col("dsir_micro").cast("double"), col(idCol), topN).as("__tk"))
      .select(posexplode(col("__tk")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.n_id").as(idCol),
        col("col.sim").cast("long").as("dsir_micro"))
  }

  /** DuckDB oracle twin of [[dsirSelect]]: same tokenizer contract,
   *  same h60-mod bucketing, same digit-count weights, row_number
   *  tie-break (score DESC, id ASC) ≡ the heap's order. */
  def dsirSelectSql(table: String, idCol: String, textCol: String,
      targetPredSql: String, buckets: Int, topN: Int): String = {
    val toks = TextFunctions.lowerTokensSql(textCol)
    val h = graft.functions.Hashing.h60Sql("t[i] || ' ' || t[i + 1]")
    s"""WITH __tok AS (
       |  SELECT $idCol, ($targetPredSql) AS is_t,
       |    list_filter($toks, w -> w <> '') AS t
       |  FROM $table),
       |__inst AS (
       |  SELECT $idCol, is_t, $h % $buckets AS b
       |  FROM (SELECT $idCol, is_t, t,
       |          unnest(range(1, length(t))) AS i FROM __tok)),
       |__model AS (
       |  SELECT b,
       |    length(CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1
       |      AS VARCHAR)) - length(CAST(count(*) + 1 AS VARCHAR)) AS dw
       |  FROM __inst GROUP BY b),
       |__scored AS (
       |  SELECT $idCol,
       |    CAST(CAST(sum(dw) AS BIGINT) * 1000000 // count(*)
       |      AS BIGINT) AS dsir_micro
       |  FROM __inst JOIN __model USING (b)
       |  WHERE NOT is_t GROUP BY $idCol)
       |SELECT * FROM (
       |  SELECT CAST(row_number() OVER
       |      (ORDER BY dsir_micro DESC, $idCol) AS BIGINT) AS rank,
       |    $idCol, dsir_micro
       |  FROM __scored) WHERE rank <= $topN""".stripMargin
  }

  // --------------- DoReMi-style domain reweighting (X148, r13)

  /** Multiplicative-weights domain reweighting — the DoReMi update
   *  (Xie et al. 2023: upweight domains with EXCESS LOSS under a
   *  reference model) quantized to stay integer-exact: every document
   *  scores under the judged unigram reference (X54's mean-logfreq
   *  micro-units), per-domain and corpus averages fold as BIGINT
   *  floor-division, a domain's excess loss is how much RARER its
   *  vocabulary is than the corpus norm (base − avg, floored at 0 —
   *  low mean-logfreq = rare tokens = high reference loss), the
   *  excess quantizes to ≤ `maxBucket` λ-sized buckets, and each
   *  domain's natural-distribution prior (its doc count — DoReMi
   *  initializes at the observed mixture) scales by 2^bucket: the
   *  Freund–Schapire hedge update with quantized losses. exp(η·ℓ)
   *  would be the textbook form; a float exponential hash-diverges
   *  between libms, and the base-2 quantized form keeps the judged
   *  row exact on both engines while preserving the update's
   *  geometry. Weights normalize to parts-per-million by integer
   *  division.
   *
   *  Distributed shape: ONE token-linear scoring pass (the q94
   *  kernel, no persisted token frame), then aggregations whose
   *  state is |domains| rows; the one-row baseline and total join
   *  back as broadcasts. Output (domain, n_docs, avg_micro,
   *  excess_micro, bucket, weight_ppm). */
  def domainReweight(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, lambdaMicro: Long, maxBucket: Int): DataFrame = {
    val scored = graft.operators.Quality
      .unigramSurprisal(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(domainCol).as("domain")), idCol)
    val base = scored.agg(
      expr("sum(mean_logfreq_micro) div count(*)").as("base_micro"))
    val perDomain = scored.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(mean_logfreq_micro) div count(*)").as("avg_micro"))
    val w = perDomain.crossJoin(broadcast(base))
      .select(col("domain"), col("n_docs"), col("avg_micro"),
        greatest(col("base_micro") - col("avg_micro"), lit(0L))
          .as("excess_micro"))
      .withColumn("bucket",
        least(expr(s"excess_micro div $lambdaMicro"), lit(maxBucket.toLong)))
      .withColumn("w",
        expr("n_docs * shiftleft(cast(1 as bigint), cast(bucket as int))"))
    val tot = w.agg(sum(col("w")).as("tot"))
    w.crossJoin(broadcast(tot))
      .select(col("domain"), col("n_docs"), col("avg_micro"),
        col("excess_micro"), col("bucket"),
        expr("(w * 1000000) div tot").as("weight_ppm"))
  }

  /** DuckDB oracle twin of [[domainReweight]]: the q94 oracle scoring
   *  composed with the identical integer fold — floor division,
   *  bucket clamp, bit-shift hedge scale, ppm normalization. */
  def domainReweightSql(table: String, idCol: String, textExpr: String,
      domainCol: String, lambdaMicro: Long, maxBucket: Int): String =
    s"""WITH __scored AS (
       |  SELECT s.$idCol, s.mean_logfreq_micro, d.$domainCol AS domain
       |  FROM (${graft.operators.Quality.unigramSurprisalSql(
            table, idCol, textExpr)}) s
       |  JOIN $table d USING ($idCol)),
       |__base AS (SELECT CAST(sum(mean_logfreq_micro) // count(*)
       |    AS BIGINT) AS base_micro FROM __scored),
       |__dom AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(mean_logfreq_micro) // count(*) AS BIGINT) AS avg_micro
       |  FROM __scored GROUP BY domain),
       |__w AS (
       |  SELECT domain, n_docs, avg_micro,
       |    CAST(greatest(base_micro - avg_micro, 0) AS BIGINT)
       |      AS excess_micro,
       |    CAST(least(greatest(base_micro - avg_micro, 0) // $lambdaMicro,
       |      $maxBucket) AS BIGINT) AS bucket
       |  FROM __dom, __base),
       |__ww AS (SELECT *, n_docs * (CAST(1 AS BIGINT) << bucket) AS w
       |  FROM __w)
       |SELECT domain, n_docs, avg_micro, excess_micro, bucket,
       |  CAST(w * 1000000 // (SELECT sum(w) FROM __ww) AS BIGINT)
       |    AS weight_ppm
       |FROM __ww""".stripMargin
}
