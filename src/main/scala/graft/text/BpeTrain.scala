package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** BPE tokenizer training (Sennrich et al., arXiv:1508.07909) in the shape
  * real trainers use at corpus scale: ONE distributed pass aggregates the
  * word-frequency dictionary (the only thing that touches the corpus), the
  * merge loop runs on that dictionary — vocabulary-sized, not corpus-sized
  * — and the learned merges go back as constant-folded expressions that
  * tokenize the corpus map-side. At 100 TB the dict is still just the
  * distinct-word table; nothing else ever shuffles.
  *
  * Merge semantics: symbols start as single characters; each round merges
  * the globally most frequent adjacent pair (count weighted by word
  * frequency; ties break on the lexicographically smallest pair), applied
  * left-to-right non-overlapping. BpeSpec replays the whole procedure
  * independently and checks the learned merges and tokenizations exactly.
  * Driver check is rows-only: the merges are data-dependent, so no static
  * SQL oracle can state them.
  */
object BpeTrain extends graft.QueryModule {

  val NumMerges = 10

  /** Default dictionary bounds. On a web corpus the distinct-token table is
    * billions of rows (URLs, typos, hashes); an unbounded collect is a
    * driver OOM. Real trainers prune: a min-frequency floor (singleton junk
    * never influences merges materially) and a hard top-N cap so driver
    * memory is bounded no matter the corpus. At driver-test scale the
    * defaults are non-pruning (floor 1, cap far above the test vocab), so
    * results are identical to the unbounded pass — BpeSpec pins that. */
  val MinWordFreq = 1L
  val MaxDictWords = 1 << 20
  /** Above this many dictionary entries, tokenization rides a broadcast
    * join instead of a constant-folded map literal (an expression tree with
    * millions of leaves breaks codegen and the driver alike). */
  val MapLiteralMax = 4096

  /** The distributed dictionary pass both training and tokenization share —
    * the only thing that touches the corpus. Bounded on the driver side:
    * frequency floor first, then a deterministic top-N cap on (n desc,
    * word), so at most `maxWords` rows are ever collected. Note the plan
    * shape: a cap below `spark.sql.execution.topKSortFallbackThreshold`
    * (default 10k) plans as TakeOrderedAndProject (per-partition top-N, no
    * global sort); the default 2^20 cap exceeds it, so the pruned
    * dictionary pays one global sort — at web scale either raise the
    * threshold or lean on the frequency floor, which is the bound that
    * actually shrinks the table. */
  def wordCounts(s: SparkSession, dir: String, minFreq: Long = MinWordFreq,
                 maxWords: Int = MaxDictWords): Array[(String, Long)] = {
    def compute(): Array[(String, Long)] =
      Tables.documents(s, dir)
        .select(explode(split(col("text"), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= minFreq)
        .orderBy(col("n").desc, col("word")).limit(maxWords)
        .collect().map(r => r.getString(0) -> r.getLong(1))
    // the DEFAULT dictionary memoizes per (corpus, content fingerprint) —
    // the Kmeans.trainedCentroids discipline: five registered consumers
    // (bpe vocab/apply, unigram vocab/apply, tokenizer fertility) plus
    // their dump-time oracles each need it, and re-collecting the same
    // distributed dictionary per consumer is the redundant corpus pass a
    // shared trained artifact exists to remove. Non-default bounds (spec
    // probes) compute directly.
    if (minFreq == MinWordFreq && maxWords == MaxDictWords)
      memo(s"dict#$dir", docFp(s, dir))(compute())
    else compute()
  }

  /** The learned merge list, most-frequent first (memoized with the
    * dictionary — `learn` is pure CPU over it, run once per corpus). */
  def trainMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    memo(s"merges#$dir", docFp(s, dir))(learn(wordCounts(s, dir), NumMerges))

  // ---- session memo for trained tokenizer artifacts (driver-sized) ----
  private final class Entry[T](val fingerprint: String, build0: () => T) {
    private var built: Option[T] = None
    def value: T = synchronized {
      if (built.isEmpty) built = Some(build0())
      built.get
    }
  }
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Entry[_]]()

  def clearTokenizerCache(): Unit = cache.clear()

  private[text] def docFp(s: SparkSession, dir: String): String =
    graft.sources.TableFingerprint.of(s, s"$dir/documents.parquet")

  /** Supersede-memo (the [[graft.StagedArtifacts]] Entry discipline, driver
    * arrays instead of executor blocks): same key + fingerprint → the
    * built artifact; a rewritten corpus replaces the stale entry. */
  private[text] def memo[T](key: String, fp: String)(build: => T): T = {
    while (true) {
      val cur = cache.get(key)
      if (cur != null && cur.fingerprint == fp)
        return cur.asInstanceOf[Entry[T]].value
      val fresh = new Entry[T](fp, () => build)
      val installed =
        if (cur == null) cache.putIfAbsent(key, fresh) == null
        else cache.replace(key, cur, fresh)
      if (installed) return fresh.value
    }
    throw new IllegalStateException("unreachable")
  }

  /** Pure merge loop over the (word, count) dictionary. */
  def learn(wordCounts: Array[(String, Long)], rounds: Int): Seq[(String, String)] = {
    var dict = wordCounts.map { case (w, n) => (w.map(_.toString).toVector, n) }
    val merges = Vector.newBuilder[(String, String)]
    for (_ <- 0 until rounds) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => pairCounts((a, b)) = pairCounts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      if (pairCounts.nonEmpty) {
        val best = pairCounts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        dict = dict.map { case (syms, n) => (applyMerge(syms, best), n) }
      }
    }
    merges.result()
  }

  /** Left-to-right non-overlapping merge of one pair in a symbol sequence. */
  def applyMerge(syms: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += (pair._1 + pair._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Per-word BPE token count under a merge list — exact applyMerge fold. */
  def tokensOf(word: String, merges: Seq[(String, String)]): Long =
    merges.foldLeft(word.map(_.toString).toVector)(applyMerge).length.toLong

  /** `text_bpe_vocab`: per-document token counts under the learned
    * tokenizer — character count, post-merge BPE count, compression.
    * The word→token-count table is computed on the driver from the same
    * dictionary the merges were learned on. Small dictionaries ship as a
    * constant-folded map literal (zero-shuffle map-side pass); past
    * `MapLiteralMax` entries the same table rides a broadcast join instead
    * — an expression tree with millions of leaves is its own scale bug. */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    bpeVocabImpl(s, dir, MapLiteralMax)

  private[text] def bpeVocabImpl(s: SparkSession, dir: String, mapLiteralMax: Int): DataFrame = {
    val dict = wordCounts(s, dir)
    val merges = trainMerges(s, dir)
    val ws = split(col("text"), "\\s+")
    val docs = Tables.documents(s, dir).select(col("doc_id"), ws.as("w"))
    val compression =
      // greatest() guards the whitespace-only/empty-doc case (0 tokens):
      // compression degrades to 0.0 instead of a null that poisons the
      // driver's hash compare
      round(col("n_char_tokens").cast("double") / greatest(col("n_bpe_tokens"), lit(1L)), 4)
    if (dict.length <= mapLiteralMax) {
      // typedLit handles the empty-corpus case (map() with zero args has no
      // usable type); element_at misses coalesce to 0 below
      val tokenMap =
        if (dict.isEmpty) typedLit(Map.empty[String, Long])
        else map(dict.flatMap { case (w, _) =>
          Seq(lit(w), lit(tokensOf(w, merges))) }.toSeq: _*)
      docs
        .select(col("doc_id"),
          aggregate(transform(col("w"), x => length(x).cast("long")), lit(0L), (acc, x) => acc + x)
            .as("n_char_tokens"),
          aggregate(transform(col("w"), x => coalesce(element_at(tokenMap, x), lit(0L))),
            lit(0L), (acc, x) => acc + x).as("n_bpe_tokens"))
        .withColumn("compression", compression)
        .orderBy(col("doc_id"))
    } else {
      // broadcast-join tokenization: explode words (explode_outer keeps
      // empty docs in the output), left-join the vocab (pruned words count
      // 0 tokens, matching the literal path's element_at miss), map-side
      // combinable per-doc sum
      val tokTable = s.createDataFrame(
        dict.toSeq.map { case (wd, _) => (wd, tokensOf(wd, merges)) })
        .toDF("word", "n_tok")
      docs.select(col("doc_id"), explode_outer(col("w")).as("word"))
        .join(broadcast(tokTable), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(length(col("word")).cast("long"), lit(0L))).as("n_char_tokens"),
          sum(coalesce(col("n_tok"), lit(0L))).as("n_bpe_tokens"))
        .withColumn("compression", compression)
        .orderBy(col("doc_id"))
    }
  }

  /** Per-word final symbol sequence under a merge list. */
  def symbolsOf(word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector)(applyMerge)

  /** #27j `text_bpe_apply`: tokenize the corpus under the learned merges —
    * the token-ID STREAM per document, i.e. the actual pretraining
    * artifact (`text_bpe_vocab` audits counts; this emits the sequence a
    * trainer consumes). Token ids are assigned deterministically: the
    * vocabulary is every distinct post-merge symbol of the dictionary,
    * id = rank in lexicographic symbol order (content-stable — ids never
    * depend on partitioning or dictionary iteration order). Words outside
    * the (bounded) dictionary emit no ids — the same miss semantics as
    * the vocab op's element_at-miss-counts-0, so `n_tokens` here equals
    * `text_bpe_vocab.n_bpe_tokens` row for row (spec-pinned).
    *
    * Scale: the word→ids table is vocabulary-sized (the bounded trainer
    * artifact); it ships as a broadcast join against the exploded words —
    * posexplode keeps word order, the per-doc reassembly is one
    * sorted-struct collect bounded by doc length (the `dedup_rewrite`
    * reassembly discipline). Rows-only by declared design: merges are
    * data-dependent, so no static SQL can state them (the `text_bpe_vocab`
    * reason); the spec replays tokenization driver-side and pins the
    * vocab-op consistency identity. */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val dict = wordCounts(s, dir)
    val merges = trainMerges(s, dir)
    val wordSyms = dict.map { case (w, _) => w -> symbolsOf(w, merges) }
    val vocab = wordSyms.iterator.flatMap(_._2).toSet.toSeq.sorted
    val ids = vocab.iterator.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
    val tokTable =
      if (wordSyms.isEmpty) s.createDataFrame(Seq.empty[(String, Seq[Long])])
        .toDF("word", "ids")
      else s.createDataFrame(wordSyms.toSeq.map { case (w, syms) =>
        (w, syms.map(ids)) }).toDF("word", "ids")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode_outer(split(col("text"), "\\s+")))
      // empty tokens (whitespace-only/empty text splits to [""]) map to
      // NULL instead of dropping the row, so every document keeps a row
      // through the groupBy and emits n_tokens = 0 (the unigram-apply
      // round-11-advice convention, mirrored for family consistency)
      .withColumn("col", when(col("col") === "", lit(null)).otherwise(col("col")))
    docs.join(broadcast(tokTable), col("col") === col("word"), "left")
      .groupBy(col("doc_id"))
      .agg(flatten(array_sort(collect_list(struct(col("pos"),
          coalesce(col("ids"), array().cast("array<long>")).as("ids"))))
        .getField("ids")).as("token_ids"))
      // Driver-gate convention (etl/EtlQueries.scala:118): even the
      // rows-only path sorts the frame, so the id stream ships as the
      // '|'-joined scalar, never a top-level array.
      .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"),
        array_join(col("token_ids").cast("array<string>"), "|").as("token_ids"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_vocab" -> (bpeVocab _),
    "text_bpe_apply" -> (bpeApply _))

  /** Shared MODEL-AS-LITERAL apply oracle (`graft.OracleContext`): the
    * learned word→ids table interpolates as a VALUES literal and the
    * tokenization replays as split → positional zip → literal join →
    * ordered string_agg — so the gate hash-checks the whole apply
    * arithmetic cross-engine while the trainer chain stays replay-spec +
    * canary covered. Used by both tokenizer families. */
  private[text] def applyOracleSql(wordIds: Seq[(String, Seq[Long])]): String = {
    val seg =
      if (wordIds.isEmpty) "SELECT '' AS word, '' AS ids, 0::BIGINT AS n WHERE false"
      else "VALUES " + wordIds.map { case (w, ids) =>
        s"(${graft.OracleContext.sqlStr(w)}, " +
          s"${graft.OracleContext.sqlStr(ids.mkString("|"))}, ${ids.length}::BIGINT)"
      }.mkString(", ")
    s"""WITH seg(word, ids, n) AS ($seg),
       |t AS (SELECT doc_id, unnest(arr) AS word,
       |  unnest(range(1, len(arr) + 1)) AS pos
       | FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS arr
       |  FROM documents)),
       |j AS (SELECT t.doc_id, t.pos, seg.ids, seg.n
       | FROM t LEFT JOIN seg ON seg.word = t.word)
       |SELECT doc_id, coalesce(sum(n), 0)::BIGINT AS n_tokens,
       | coalesce(string_agg(ids, '|' ORDER BY pos), '') AS token_ids
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** `text_bpe_apply` oracle — see [[applyOracleSql]]; a `def` because the
    * literal vocab trains on the corpus the dump targets. `text_bpe_vocab`
    * stays rows-only (its OUTPUT is the data-dependent trainer state). */
  def oracles: Map[String, String] = Map(
    "text_bpe_apply" -> graft.OracleContext.rendered { (s, dir) =>
      val dict = wordCounts(s, dir)
      val merges = trainMerges(s, dir)
      val wordSyms = dict.map { case (w, _) => w -> symbolsOf(w, merges) }
      val vocab = wordSyms.iterator.flatMap(_._2).toSet.toSeq.sorted
      val ids = vocab.iterator.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
      applyOracleSql(wordSyms.toSeq.map { case (w, syms) => w -> syms.map(ids) })
    })
}
