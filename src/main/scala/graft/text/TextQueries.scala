package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for the training-data pipeline surface
  * (SURVEY.md §2 #26-29): language ID, quality scoring, token counting,
  * content fingerprinting. All are single-pass, map-side-only projections —
  * no shuffle at any scale — built from codegen'd higher-order functions
  * (no UDFs in the hot path).
  */
object TextQueries extends graft.QueryModule {

  private def words(c: Column): Column = split(c, "\\s+")

  private val Stopwords = Seq("the", "a", "of", "and", "in")
  private val EnMarkers = Seq("the", "a", "line", "customer")
  private val ToolMarkers = Seq("spark", "query", "table", "join", "scan")
  private val DataMarkers = Seq("data", "row", "column", "value", "key")

  private def countIn(ws: Column, vocab: Seq[String]): Column =
    size(filter(ws, w => w.isin(vocab: _*))).cast("long")

  /** #26b Segment-level language mix — the CCNet-style PARAGRAPH-grain
    * language pass (Wenzek et al. 2020 run langid per paragraph precisely
    * because code-switched and template-wrapped pages fool a whole-doc
    * vote): the document splits into [[SegWords]]-word segments, each
    * segment votes with the same marker rule as `text_langid`, and the
    * doc-level readout is the dominant segment language, the minority
    * share, and a mixed flag — the docs a doc-level label silently
    * mislabels. Ties in the dominant vote resolve (count desc, lang asc).
    * Scale: explode over segment indices is the only multiplier; the
    * per-(doc, lang) vote count is map-side combinable and the argmax
    * window runs over ≤ 3 rows per doc. */
  val SegWords = 32L

  def langidSegments(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
      .filter(col("nw") > 0)
    val segs = base
      .withColumn("seg", explode(sequence(lit(0L), expr(s"(nw - 1) div $SegWords"))))
      .withColumn("sw", expr(s"slice(ws, int(seg * $SegWords + 1), int($SegWords))"))
    val scored = segs.select(col("doc_id"), col("seg"),
        countIn(col("sw"), EnMarkers).as("cnt_en"),
        countIn(col("sw"), ToolMarkers).as("cnt_tool"),
        countIn(col("sw"), DataMarkers).as("cnt_data"))
      .withColumn("seg_lang",
        when(col("cnt_en") >= col("cnt_tool") && col("cnt_en") >= col("cnt_data"), lit("en"))
          .when(col("cnt_tool") >= col("cnt_data"), lit("tool"))
          .otherwise(lit("data")))
    val votes = scored.groupBy(col("doc_id"), col("seg_lang"))
      .agg(count(lit(1)).as("v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    votes
      .withColumn("n_segments", sum(col("v")).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("v").desc, col("seg_lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_segments"), col("seg_lang").as("dominant_lang"),
        round(lit(1.0) - col("v").cast("double") / col("n_segments"), 4).as("minority_share"),
        (col("v") < col("n_segments")).as("mixed"))
      .orderBy(col("doc_id"))
  }

  /** #26 Marker-token language scoring with deterministic arg-max. */
  def langid(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        countIn(ws, EnMarkers).as("cnt_en"),
        countIn(ws, ToolMarkers).as("cnt_tool"),
        countIn(ws, DataMarkers).as("cnt_data"))
      .withColumn("pred_lang",
        when(col("cnt_en") >= col("cnt_tool") && col("cnt_en") >= col("cnt_data"), lit("en"))
          .when(col("cnt_tool") >= col("cnt_data"), lit("tool"))
          .otherwise(lit("data")))
      .orderBy(col("doc_id"))
  }

  /** #27 Quality scoring: length/stopword/word-shape statistics → score. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        aggregate(transform(ws, w => length(w).cast("long")), lit(0L), (acc, x) => acc + x).as("sum_len"),
        countIn(ws, Stopwords).as("n_stop"))
      .withColumn("avg_word_len", round(col("sum_len").cast("double") / col("n_words"), 4))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_words"), 4))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_words") / lit(100.0)) * (lit(1.0) - col("stop_ratio")), 4))
      .select("doc_id", "n_words", "avg_word_len", "stop_ratio", "quality_score")
      .orderBy(col("doc_id"))
  }

  /** #27e Gopher-style document filter (arXiv:2112.11446 §A1.1): word-stat
    * thresholds composed into a keep/drop verdict with the failed-rule list —
    * the operator a cleaning pipeline logs so drops are auditable. Map-side
    * only; each higher-order function feeds exactly one projection (the §6
    * re-inlining trap). Bounds adapted to the synthetic corpus where the
    * published ones cannot fire (no document here has 50+ chars/word). */
  def gopherFilter(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        aggregate(transform(ws, w => length(w).cast("long")), lit(0L), (acc, x) => acc + x).as("sum_len"),
        size(array_distinct(ws)).cast("long").as("n_uniq"))
      .withColumn("mean_word_len", round(col("sum_len").cast("double") / col("n_words"), 4))
      .withColumn("uniq_ratio", round(col("n_uniq").cast("double") / col("n_words"), 4))
      .withColumn("reasons", concat_ws("|",
        when(col("n_words") < 25, lit("too_few_words")),
        when(col("n_words") > 10000, lit("too_many_words")),
        when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0,
          lit("word_len_out_of_range")),
        when(col("uniq_ratio") < 0.35, lit("low_uniqueness"))))
      .withColumn("keep", col("reasons") === "")
      .select("doc_id", "n_words", "mean_word_len", "uniq_ratio", "keep", "reasons")
      .orderBy(col("doc_id"))
  }

  /** #28 Token counting: whitespace tokens and a BPE-ish regex tokenizer. */
  def tokens(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"))
      .orderBy(col("doc_id"))
  }

  /** #29 Content fingerprint: digest of the sorted distinct token set —
    * the normalization-based fingerprint used for near-dup candidate
    * bucketing at scale. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(array_distinct(ws)).cast("long").as("n_distinct_tokens"),
        md5(concat_ws(" ", sort_array(array_distinct(ws)))).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** #28b Corpus n-gram frequency statistics: top-50 word bigrams — the
    * vocabulary/statistics pass of a tokenizer-training pipeline. A single
    * explode→groupBy (map-side combinable) + top-k. */
  def ngramFreq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("bigram"))
    Tables.documents(s, dir)
      .select(explode(graft.functions.HashExprs.bigramsAll(col("text"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .orderBy(col("rk"))
  }

  /** #28c Deterministic stratified sampling — the data-mixing step of a
    * training corpus: per-language keep-rates applied via a content-stable
    * hash bucket (md5 prefix), so the sample is reproducible on any engine
    * and any cluster size; `TABLESAMPLE`/rand() are neither. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long") % 100
    val rate = when(col("lang") === "en", 80L).otherwise(40L)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("keep_rate"))
      .filter(col("bucket") < col("keep_rate"))
      .orderBy(col("doc_id"))
  }

  /** #28f Temperature-based mixture sampling (the XLM/mT5 α-sampling rule,
    * arXiv:1901.07291 §3.1): per-language weights ∝ n^α with α=0.5, so
    * low-resource languages are upsampled relative to their share. The
    * per-language keep rate is `target · w_l / n_l`, snapped to an integer
    * threshold in a 2^20 bucket space (16^6 / 2^20 is exact, so the md5
    * bucket is unbiased), and applied via the same content-stable hash as
    * `sample_stratified` — reproducible on any cluster size. α is realized
    * as sqrt(), which is correctly rounded in both engines (general pow is
    * not); the rate snap to integer micros absorbs the ~1e-16 summation-
    * order difference in the weight denominator. One 5-key count agg, one
    * broadcast join back — nothing else touches the corpus twice. */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val Buckets = 1048576L // 2^20
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).cast("double").as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"), sum(sqrt(col("n"))).as("s"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("lang"),
        least(lit(1.0), lit(0.4) * col("tot") * sqrt(col("n")) / col("s") / col("n")).as("kr"))
      .select(col("lang"), round(col("kr") * Buckets, 0).cast("long").as("keep_threshold"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long") % Buckets
    docs.join(broadcast(rates), Seq("lang"))
      .filter(bucket < col("keep_threshold"))
      .select(col("doc_id"), col("lang"), col("keep_threshold"))
      .orderBy(col("doc_id"))
  }

  /** #28g Overlapping-window document chunking — the retrieval-side twin of
    * sequence packing: each doc splits into `ChunkWords`-word windows every
    * `ChunkStride` words (25% overlap), the unit a RAG/embedding pipeline
    * indexes. Explode over window starts is the only row multiplier;
    * slicing and digesting are map-side codegen'd builtins, so the plan is
    * scan → project → generate with no shuffle at any corpus size. */
  val ChunkWords = 64L
  val ChunkStride = 48L

  def chunk(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
      .withColumn("start_word",
        explode(sequence(lit(0L), col("nw") - 1L, lit(ChunkStride))))
      .withColumn("cw",
        slice(col("w"), (col("start_word") + 1L).cast("int"), lit(ChunkWords.toInt)))
      .select(col("doc_id"),
        expr(s"start_word div $ChunkStride").as("chunk_idx"),
        col("start_word"),
        size(col("cw")).cast("long").as("n_chunk_words"),
        md5(array_join(col("cw"), " ")).as("chunk_digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** #27c Repetition metrics — the counters behind Gopher-style repetition
    * quality filters: fraction of tokens that are the single most repeated
    * word, and the mass of duplicated bigrams. One compiled RepStats call
    * per row (map-side only); the oracle recomputes the same counters via
    * unnest + GROUP BY. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.HashExprs.repStats(col("text")).as("rs"))
      .select(col("doc_id"),
        col("rs.n_words").as("n_words"),
        col("rs.top_word_n").as("top_word_n"),
        col("rs.n_bigrams").as("n_bigrams"),
        col("rs.dup_bigram_n").as("dup_bigram_n"))
      .withColumn("top_word_frac",
        round(col("top_word_n").cast("double") / col("n_words"), 4))
      .withColumn("dup_bigram_frac",
        round(col("dup_bigram_n").cast("double") / col("n_bigrams"), 4))
      .withColumn("repetitive",
        col("top_word_frac") >= 0.12 || col("dup_bigram_frac") >= 0.20)
      .orderBy(col("doc_id"))
  }

  /** #28d Key-term extraction: top-3 terms per document scored by
    * tf · corpusSize/df — the tf-idf family with an integer score
    * (tf·1e6 div df) so both engines rank identically with no
    * transcendental functions. Document frequency is a term-partitioned
    * window COUNT over the tf rows (tf already holds exactly one row per
    * (doc, term)), so the corpus is scanned and exploded exactly ONCE —
    * a second aggregation tree over `terms` would re-scan documents
    * because the differing partial aggregates defeat ReusedExchange. */
  def keyterms(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(ws).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rk", row_number().over(wDoc).cast("long"))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tf", "df", "score")
      .orderBy(col("doc_id"), col("rk"))
  }

  /** #28e Sequence packing — the concat-and-chunk step that turns a
    * document corpus into fixed-length training windows: documents are
    * concatenated into a token stream and cut every SeqLen tokens; each
    * document maps to its [first_chunk, last_chunk] span. The stream
    * position is a running sum within deterministic shards (doc_id mod
    * Shards), so there is no single-partition global window — each shard
    * packs independently and in parallel, which is how a 100 TB corpus
    * actually gets packed. All arithmetic is integer, so both engines
    * agree exactly. */
  /** The packing contract, shared with CorpusPipeline stage 6 so the two
    * cannot drift: sharded running token sum → chunk span per doc in a
    * fixed `PackSeqLen` token-window stream. */
  val PackSeqLen = 512
  val PackShards = 16

  private[text] def packSpans(df: DataFrame, tokenCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    df.withColumn("shard", col("doc_id") % PackShards)
      .withColumn("end_pos", sum(col(tokenCol)).over(w))
      .withColumn("start_pos", col("end_pos") - col(tokenCol))
      .withColumn("first_chunk", expr(s"start_pos div $PackSeqLen"))
      .withColumn("last_chunk", expr(s"(end_pos - 1) div $PackSeqLen"))
  }

  def pack(s: SparkSession, dir: String): DataFrame = {
    packSpans(
      Tables.documents(s, dir)
        .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens")),
      "n_tokens")
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1L)
      .select("doc_id", "shard", "n_tokens", "start_pos", "first_chunk", "last_chunk", "n_chunks")
      .orderBy(col("doc_id"))
  }

  /** #27d Corpus length-distribution statistics per language — the
    * sizing/report pass of a corpus build (token budget planning, outlier
    * detection). Exact interpolated percentiles: at driver-test scale both
    * engines compute the same order statistics; at 100 TB the same plan
    * swaps `percentile` for `percentile_approx` with a documented error
    * bound (sketch-mergeable, one pass). Map-side partial aggregation,
    * one shuffle on the 2-value lang key. */
  def lengthStats(s: SparkSession, dir: String): DataFrame = {
    // exact `percentile` buffers every group value in the aggregate —
    // the oracle-able form; spark.graft.scale.approx=true swaps in the
    // mergeable bounded-size percentile_approx sketch (same schema; the
    // two differ only by interpolation at the quantile boundary)
    val acc = graft.ScaleMode.SketchAccuracy
    val (p50, p90) =
      if (graft.ScaleMode.approx(s))
        (expr(s"percentile_approx(n_words, 0.5, $acc)").cast("double"),
          expr(s"percentile_approx(n_words, 0.9, $acc)").cast("double"))
      else (expr("percentile(n_words, 0.5)"), expr("percentile(n_words, 0.9)"))
    Tables.documents(s, dir)
      .select(col("lang"), size(words(col("text"))).cast("long").as("n_words"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_words")).as("min_words"), max(col("n_words")).as("max_words"),
        round(avg(col("n_words")), 4).as("avg_words"),
        round(p50, 4).as("p50_words"),
        round(p90, 4).as("p90_words"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** #27f Domain-mix report — the per-source mixing table of a corpus
    * build (the Pile/Dolma-style step that decides how much of each domain
    * enters the mix): per-source doc/token counts, token share, and the
    * keep-rate a uniform 5% domain cap implies. One map-side token count,
    * one |sources|-key agg, a one-row broadcast total — the corpus is
    * touched once at any scale. */
  val DomainCapShare = 0.05

  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(words(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per.crossJoin(broadcast(tot))
      .withColumn("token_share",
        round(col("n_tokens").cast("double") / col("total_tokens"), 4))
      .withColumn("keep_rate",
        round(least(lit(1.0),
          lit(DomainCapShare) / (col("n_tokens").cast("double") / col("total_tokens"))), 4))
      .select("source", "n_docs", "n_tokens", "token_share", "keep_rate")
      .orderBy(col("source"))
  }

  /** #27g Markup stripping — the boilerplate-removal pass every web-scrape
    * corpus runs before quality scoring. The raw feed is synthesized
    * in-query (deterministic tag wrapper over the document text, the Synth
    * convention), then stripped: tags → space, whitespace collapsed,
    * trimmed. Pure map-side regexp projection — codegen'd, no shuffle. */
  def htmlStrip(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("<html><body><div class=\"main\"><p>"), col("text"),
      lit("</p></div><br/><span>footer</span></body></html>"))
    val stripped = trim(regexp_replace(regexp_replace(raw, "<[^>]+>", " "), "\\s+", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(raw).cast("long").as("n_chars_raw"),
        length(stripped).cast("long").as("n_chars_clean"),
        md5(stripped).as("clean_digest"))
      .orderBy(col("doc_id"))
  }

  /** #29b Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): from each document's k-gram hash
    * sequence, every [[WinW]]-wide window contributes its MINIMUM hash
    * (ties to the RIGHTMOST position), and the distinct selected
    * (position, hash) pairs are the fingerprint — the position-aware local
    * fingerprinting that guarantees any shared run of ≥ w+k−1 words
    * produces a shared fingerprint, with expected density 2/(w+1)
    * (`text_fingerprint` is one whole-doc digest; this is the substring-
    * match index plagiarism/attribution tooling actually builds).
    *
    * Determinism + shape: the gram hash is a 40-bit md5 prefix both
    * engines compute identically; the rightmost-min-tie argmin is ONE
    * window min over hash·2^20 + (2^20−1−pos) (min packed = min hash,
    * ties → larger pos — the `graph_triangles` packed-comparator trick);
    * explode is the only row multiplier and the single window runs
    * per-doc ordered by position — one doc-key exchange, no self-joins.
    * Docs with fewer than w full windows are below fingerprint
    * granularity and excluded by declaration. */
  val WinK = 4  // words per gram
  val WinW = 4  // windows of consecutive gram hashes
  val WinPosCap = 1048576L // 2^20 gram positions per doc; 40-bit hash ⇒ packed < 2^60

  /** The distinct selected (doc_id, gram_pos, ghash) fingerprints — shared
    * between `text_winnow` (the index itself) and `dedup_winnow_pairs`
    * (its consumer) so the two cannot drift.
    *
    * Session-STAGED (r15; 5th instance of the ladder discipline): the
    * per-gram md5 + per-doc window pass dominates BOTH consumers, and each
    * recomputed it privately — at 100 TB that is two full corpus
    * fingerprint passes where one staged index table suffices (exactly
    * the winnowing index a MOSS-style pipeline persists). Keyed on the
    * documents fingerprint, supersede evicts, disk mode persists —
    * [[graft.StagedArtifacts]]. Registered in `model_registry` as of r16
    * (the r15 verdict's deferred-inventory item, done deliberately with
    * the frozen canary re-pinned in the same commit). */
  def clearWinnowCache(): Unit = graft.StagedArtifacts.clear("text/winnowFp")

  private[graft] def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"text/winnowFp#$dir",
      graft.dedup.DedupQueries.docFp(s, dir)) {
      buildWinnowFingerprints(s, dir).localCheckpoint(true)
    }

  private def buildWinnowFingerprints(s: SparkSession, dir: String): DataFrame = {
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, WinW - 1)
    Tables.documents(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("ng", (size(col("w")) - (WinK - 1)).cast("long"))
      .filter(col("ng") >= WinW)
      .select(col("doc_id"), col("ng"),
        posexplode(transform(sequence(lit(0L), col("ng") - 1L),
          i => array_join(slice(col("w"), (i + 1L).cast("int"), lit(WinK)), " "))))
      .select(col("doc_id"), col("ng"), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("col")), 1, 10), 16, 10).cast("long").as("gh"))
      .withColumn("packed", col("gh") * WinPosCap + (lit(WinPosCap - 1) - col("pos")))
      .withColumn("m", min(col("packed")).over(wWin))
      .filter(col("pos") <= col("ng") - WinW) // full windows only
      .select(col("doc_id"),
        (lit(WinPosCap - 1) - pmod(col("m"), lit(WinPosCap))).as("gram_pos"),
        expr(s"m div $WinPosCap").as("ghash"))
      .distinct()
  }

  def winnow(s: SparkSession, dir: String): DataFrame =
    winnowFingerprints(s, dir).orderBy(col("doc_id"), col("gram_pos"))

  /** #29c Cross-document match detection over the winnowing index — the
    * consumer `text_winnow` exists for (MOSS's pair report): documents
    * sharing ≥ [[WinMinShared]] distinct fingerprint HASHES, i.e. at least
    * that many locally-selected k-gram runs in common. The inverted-index
    * shape with the `dedup_containment` df discipline: a fingerprint hash
    * held by more than [[WinDfCap]] docs is corpus boilerplate and
    * generates no pairs (the cap IS the declared metric, so the operator
    * stays exact w.r.t. it and pair mass is bounded by cap·|fingerprints|).
    * One fingerprint computation feeds the df count and both self-join
    * sides. */
  val WinDfCap = 20L
  val WinMinShared = 2L

  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.CacheRegistry.track(
      winnowFingerprints(s, dir).select(col("doc_id"), col("ghash")).distinct())
    val rare = fp.groupBy(col("ghash")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinDfCap).select(col("ghash"))
    val capped = graft.CacheRegistry.track(fp.join(rare, Seq("ghash")))
    capped.select(col("ghash"), col("doc_id").as("a_id"))
      .join(capped.select(col("ghash"), col("doc_id").as("b_id")), Seq("ghash"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinMinShared)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #27h Blocklist filter — the C4 "bad words" gate (Raffel et al. 2020
    * §2.2 drop documents containing blocklisted language; RefinedWeb's
    * URL+content blocklists are the same shape): a STRICT list where one
    * hit drops the document, plus a frequency rule for the softer list
    * (occasional use tolerated, saturation is not). Verdict + counts are
    * auditable like `text_gopher_filter`. Pure map-side single pass —
    * two codegen'd filtered-size counts per row, no shuffle at any scale;
    * the lists are literals here and a broadcast lookup at vocabulary
    * scale. Words chosen from the synthetic vocabulary so both outcomes
    * fire at test scale. */
  val BlockedWords = Seq("slow", "dup")
  val StrictWords = Seq("dup")
  val BlockFracMax = 0.03

  def blocklist(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        countIn(ws, BlockedWords).as("n_blocked"),
        countIn(ws, StrictWords).as("n_strict"))
      .withColumn("blocked_frac",
        round(col("n_blocked").cast("double") / col("n_words"), 4))
      .withColumn("verdict",
        when(col("n_strict") > 0, lit("drop_strict"))
          .when(col("blocked_frac") > BlockFracMax, lit("drop_frequency"))
          .otherwise(lit("keep")))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_blocklist"    -> (blocklist _),
    "text_winnow"       -> (winnow _),
    "dedup_winnow_pairs" -> (winnowPairs _),
    "text_length_stats" -> (lengthStats _),
    "text_pack"         -> (pack _),
    "text_chunk"        -> (chunk _),
    "text_gopher_filter" -> (gopherFilter _),
    "sample_stratified" -> (sampleStratified _),
    "sample_temperature" -> (sampleTemperature _),
    "text_ngram_freq"  -> (ngramFreq _),
    "text_langid"      -> (langid _),
    "text_langid_segments" -> (langidSegments _),
    "text_domain_mix"  -> (domainMix _),
    "text_html_strip"  -> (htmlStrip _),
    "text_quality"     -> (quality _),
    "text_repetition"  -> (repetition _),
    "text_keyterms"    -> (keyterms _),
    "text_tokens"      -> (tokens _),
    "text_fingerprint" -> (fingerprint _))

  private def sqlList(vs: Seq[String]): String = vs.map(v => s"'$v'").mkString("[", ",", "]")
  private val w = "regexp_split_to_array(text, '\\s+')"

  /** The winnow CTE chain through `m` — shared by both winnow oracles. */
  private lazy val winnowCtes =
    s"""d AS (SELECT doc_id, $w AS w,
       |  (len($w) - ${WinK - 1})::BIGINT AS ng FROM documents
       | WHERE (len($w) - ${WinK - 1}) >= $WinW),
       |g AS (SELECT doc_id, ng, unnest(range(0, ng)) AS pos, w FROM d),
       |h AS (SELECT doc_id, ng, pos,
       |  ('0x' || substr(md5(array_to_string(list_slice(w, pos + 1, pos + $WinK), ' ')), 1, 10))::BIGINT AS gh
       | FROM g),
       |p AS (SELECT doc_id, ng, pos,
       |  gh * $WinPosCap + ($WinPosCap - 1 - pos) AS packed FROM h),
       |m AS (SELECT doc_id, ng, pos,
       |  min(packed) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS mn
       | FROM p)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_blocklist" ->
      s"""WITH c AS (SELECT doc_id,
         | len($w)::BIGINT AS n_words,
         | len(list_filter($w, x -> list_contains(${sqlList(BlockedWords)}, x)))::BIGINT AS n_blocked,
         | len(list_filter($w, x -> list_contains(${sqlList(StrictWords)}, x)))::BIGINT AS n_strict
         |FROM documents),
         |r AS (SELECT *, round(n_blocked::DOUBLE / n_words, 4) AS blocked_frac FROM c)
         |SELECT doc_id, n_words, n_blocked, n_strict, blocked_frac,
         | CASE WHEN n_strict > 0 THEN 'drop_strict'
         |      WHEN blocked_frac > $BlockFracMax THEN 'drop_frequency'
         |      ELSE 'keep' END AS verdict
         |FROM r ORDER BY doc_id""".stripMargin,
    "text_winnow" ->
      s"""WITH $winnowCtes
         |SELECT DISTINCT doc_id,
         | ($WinPosCap - 1 - (mn % $WinPosCap))::BIGINT AS gram_pos,
         | (mn // $WinPosCap)::BIGINT AS ghash
         |FROM m WHERE pos <= ng - $WinW
         |ORDER BY doc_id, gram_pos""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH $winnowCtes,
         |fp AS (SELECT DISTINCT doc_id, (mn // $WinPosCap)::BIGINT AS ghash
         | FROM m WHERE pos <= ng - $WinW),
         |rare AS (SELECT ghash FROM fp GROUP BY ghash
         | HAVING count(*) <= $WinDfCap),
         |c AS (SELECT fp.doc_id, fp.ghash FROM fp JOIN rare USING (ghash))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS shared
         |FROM c a JOIN c b ON a.ghash = b.ghash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $WinMinShared
         |ORDER BY a_id, b_id""".stripMargin,
    "text_domain_mix" ->
      s"""WITH d AS (SELECT source, len($w)::BIGINT AS nt FROM documents),
         |p AS (SELECT source, count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens
         | FROM d GROUP BY source),
         |t AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM p)
         |SELECT source, n_docs, n_tokens,
         | round(n_tokens::DOUBLE / total_tokens, 4) AS token_share,
         | round(least(1.0::DOUBLE,
         |   $DomainCapShare::DOUBLE / (n_tokens::DOUBLE / total_tokens)), 4) AS keep_rate
         |FROM p, t ORDER BY source""".stripMargin,
    "text_html_strip" -> {
      val raw = "('<html><body><div class=\"main\"><p>' || text || " +
        "'</p></div><br/><span>footer</span></body></html>')"
      val stripped = s"trim(regexp_replace(regexp_replace($raw, '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g'))"
      s"""SELECT doc_id,
         | len($raw)::BIGINT AS n_chars_raw,
         | len($stripped)::BIGINT AS n_chars_clean,
         | md5($stripped) AS clean_digest
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "text_length_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         | min(len($w))::BIGINT AS min_words, max(len($w))::BIGINT AS max_words,
         | round(avg(len($w)), 4) AS avg_words,
         | round(quantile_cont(len($w), 0.5), 4) AS p50_words,
         | round(quantile_cont(len($w), 0.9), 4) AS p90_words,
         | sum(n_chars)::BIGINT AS total_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_pack" ->
      s"""WITH d AS (SELECT doc_id, len($w)::BIGINT AS n_tokens, doc_id % 16 AS shard
         |  FROM documents),
         |p AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS end_pos FROM d)
         |SELECT doc_id, shard, n_tokens, (end_pos - n_tokens) AS start_pos,
         | ((end_pos - n_tokens) // 512)::BIGINT AS first_chunk,
         | ((end_pos - 1) // 512)::BIGINT AS last_chunk,
         | (((end_pos - 1) // 512) - ((end_pos - n_tokens) // 512) + 1)::BIGINT AS n_chunks
         |FROM p ORDER BY doc_id""".stripMargin,
    "text_gopher_filter" ->
      s"""WITH ww AS (SELECT doc_id, $w AS ws FROM documents),
         |st AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
         |  round(list_sum(list_transform(ws, x -> len(x)::BIGINT))::DOUBLE / len(ws), 4) AS mean_word_len,
         |  round(len(list_distinct(ws))::DOUBLE / len(ws), 4) AS uniq_ratio
         | FROM ww),
         |r AS (SELECT *, concat_ws('|',
         |  CASE WHEN n_words < 25 THEN 'too_few_words' END,
         |  CASE WHEN n_words > 10000 THEN 'too_many_words' END,
         |  CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'word_len_out_of_range' END,
         |  CASE WHEN uniq_ratio < 0.35 THEN 'low_uniqueness' END) AS reasons
         | FROM st)
         |SELECT doc_id, n_words, mean_word_len, uniq_ratio,
         | (reasons = '') AS keep, reasons
         |FROM r ORDER BY doc_id""".stripMargin,
    "text_chunk" ->
      s"""WITH d AS (
         | SELECT doc_id, $w AS w, len($w)::BIGINT AS nw FROM documents),
         |s AS (SELECT doc_id, w, unnest(range(0, nw, $ChunkStride)) AS start_word FROM d)
         |SELECT doc_id, start_word // $ChunkStride AS chunk_idx, start_word,
         | len(list_slice(w, start_word + 1, start_word + $ChunkWords))::BIGINT AS n_chunk_words,
         | md5(array_to_string(list_slice(w, start_word + 1, start_word + $ChunkWords), ' '))
         |   AS chunk_digest
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
        |t AS (SELECT sum(n) AS tot, sum(sqrt(n)) AS s FROM c),
        |r AS (SELECT lang,
        |  round(least(1.0::DOUBLE, 0.4::DOUBLE * tot * sqrt(n) / s / n) * 1048576, 0)::BIGINT
        |    AS keep_threshold
        | FROM c, t)
        |SELECT d.doc_id, d.lang, r.keep_threshold
        |FROM documents d JOIN r USING (lang)
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT % 1048576 < r.keep_threshold
        |ORDER BY d.doc_id""".stripMargin,
    "sample_stratified" ->
      """WITH b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 AS bucket,
        |  (CASE WHEN lang = 'en' THEN 80 ELSE 40 END)::BIGINT AS keep_rate
        | FROM documents)
        |SELECT doc_id, lang, bucket, keep_rate FROM b
        |WHERE bucket < keep_rate ORDER BY doc_id""".stripMargin,
    "text_ngram_freq" ->
      s"""WITH b AS (
         | SELECT unnest(list_transform(range(1, len($w)),
         |   i -> $w[i] || ' ' || $w[i+1])) AS bigram
         | FROM documents),
         |c AS (SELECT bigram, count(*) AS n FROM b GROUP BY bigram)
         |SELECT bigram, n, rk FROM (
         | SELECT *, row_number() OVER (ORDER BY n DESC, bigram) AS rk FROM c) t
         |WHERE rk <= 50 ORDER BY rk""".stripMargin,
    "text_langid_segments" ->
      s"""WITH b AS (SELECT doc_id, $w AS ws, len($w)::BIGINT AS nw FROM documents),
         |s AS (SELECT doc_id, unnest(range(0, (nw - 1) // $SegWords + 1)) AS seg, ws
         | FROM b WHERE nw > 0),
         |sw AS (SELECT doc_id, seg,
         |  list_slice(ws, (seg * $SegWords + 1)::INT, (seg * $SegWords + $SegWords)::INT) AS sws
         | FROM s),
         |sc AS (SELECT doc_id, seg,
         | len(list_filter(sws, x -> list_contains(${sqlList(EnMarkers)}, x)))::BIGINT AS cnt_en,
         | len(list_filter(sws, x -> list_contains(${sqlList(ToolMarkers)}, x)))::BIGINT AS cnt_tool,
         | len(list_filter(sws, x -> list_contains(${sqlList(DataMarkers)}, x)))::BIGINT AS cnt_data
         | FROM sw),
         |sl AS (SELECT doc_id,
         |  CASE WHEN cnt_en >= cnt_tool AND cnt_en >= cnt_data THEN 'en'
         |       WHEN cnt_tool >= cnt_data THEN 'tool' ELSE 'data' END AS seg_lang
         | FROM sc),
         |v AS (SELECT doc_id, seg_lang, count(*)::BIGINT AS v FROM sl GROUP BY 1, 2),
         |r AS (SELECT *, sum(v) OVER (PARTITION BY doc_id)::BIGINT AS n_segments,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, seg_lang) AS rn
         | FROM v)
         |SELECT doc_id, n_segments, seg_lang AS dominant_lang,
         | round(1.0 - v::DOUBLE / n_segments, 4) AS minority_share,
         | (v < n_segments) AS mixed
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH c AS (SELECT doc_id,
         | len(list_filter($w, x -> list_contains(${sqlList(EnMarkers)}, x)))::BIGINT AS cnt_en,
         | len(list_filter($w, x -> list_contains(${sqlList(ToolMarkers)}, x)))::BIGINT AS cnt_tool,
         | len(list_filter($w, x -> list_contains(${sqlList(DataMarkers)}, x)))::BIGINT AS cnt_data
         |FROM documents)
         |SELECT doc_id, cnt_en, cnt_tool, cnt_data,
         | CASE WHEN cnt_en >= cnt_tool AND cnt_en >= cnt_data THEN 'en'
         |      WHEN cnt_tool >= cnt_data THEN 'tool' ELSE 'data' END AS pred_lang
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH c AS (SELECT doc_id,
         | len($w)::BIGINT AS n_words,
         | (list_sum(list_transform($w, x -> len(x))))::BIGINT AS sum_len,
         | len(list_filter($w, x -> list_contains(${sqlList(Stopwords)}, x)))::BIGINT AS n_stop
         |FROM documents),
         |d AS (SELECT doc_id, n_words,
         | round(sum_len::DOUBLE / n_words, 4) AS avg_word_len,
         | round(n_stop::DOUBLE / n_words, 4) AS stop_ratio
         |FROM c)
         |SELECT doc_id, n_words, avg_word_len, stop_ratio,
         | round(least(1.0, n_words / 100.0) * (1.0 - stop_ratio), 4) AS quality_score
         |FROM d ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH wrd AS (SELECT doc_id, unnest($w) AS wd FROM documents),
         |wc AS (SELECT doc_id, wd, count(*) AS n FROM wrd GROUP BY 1, 2),
         |ws AS (SELECT doc_id, sum(n)::BIGINT AS n_words, max(n)::BIGINT AS top_word_n
         |  FROM wc GROUP BY 1),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len($w)),
         |   i -> $w[i] || ' ' || $w[i+1])) AS b FROM documents),
         |bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
         |bs AS (SELECT doc_id, sum(n)::BIGINT AS n_bigrams,
         |  sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS dup_bigram_n
         |  FROM bc GROUP BY 1),
         |j AS (SELECT ws.doc_id, n_words, top_word_n, n_bigrams, dup_bigram_n,
         |  round(top_word_n::DOUBLE / n_words, 4) AS top_word_frac,
         |  round(dup_bigram_n::DOUBLE / n_bigrams, 4) AS dup_bigram_frac
         | FROM ws JOIN bs ON ws.doc_id = bs.doc_id)
         |SELECT doc_id, n_words, top_word_n, n_bigrams, dup_bigram_n,
         | top_word_frac, dup_bigram_frac,
         | (top_word_frac >= 0.12 OR dup_bigram_frac >= 0.20) AS repetitive
         |FROM j ORDER BY doc_id""".stripMargin,
    "text_keyterms" ->
      s"""WITH t AS (SELECT doc_id, unnest($w) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         |  (tf.tf * 1000000 // dfq.df)::BIGINT AS score
         | FROM tf JOIN dfq ON tf.term = dfq.term)
         |SELECT doc_id, rk, term, tf, df, score FROM (
         | SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
         | FROM s) z
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         | len($w)::BIGINT AS ws_tokens,
         | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens,
         | len(text)::BIGINT AS n_chars_calc
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         | len(list_distinct($w))::BIGINT AS n_distinct_tokens,
         | md5(array_to_string(list_sort(list_distinct($w)), ' ')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin)
}
