package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28x `text_unigram_vocab` — unigram-LM tokenizer training (Kudo 2018,
  * arXiv:1804.10959; the SentencePiece model most current LLM stacks
  * actually train) beside the BPE trainer, in the same trainer
  * scale-shape (`BpeTrain`): ONE distributed pass aggregates the
  * word-frequency dictionary (the only thing that touches the corpus —
  * bounded by `BpeTrain.MinWordFreq`/`MaxDictWords`), the EM loop runs on
  * that vocabulary-sized dictionary driver-side, and the learned
  * segmentations go back as a broadcast word→pieces table so the final
  * corpus-level usage count is a distributed map-side pass.
  *
  * Trainer semantics (hard-EM / Viterbi variant of Kudo §3.2, fully
  * deterministic):
  *  1. SEED — every substring of length ≤ [[SeedMaxLen]] of every
  *     dictionary word, occurrence-weighted by word frequency; the top
  *     [[SeedSize]] multi-char candidates (count desc, piece asc) plus
  *     ALL single characters (coverage guarantee).
  *  2. EM ×[[EmIters]] — E: Viterbi-segment each dictionary word under
  *     the current piece probabilities (ties: higher score, then FEWER
  *     pieces, then lexicographic piece chain); counts accumulate
  *     frequency-weighted. M: renormalize. PRUNE — keep the top
  *     [[VocabSize]] multi-char pieces by count (count desc, piece asc);
  *     single chars always survive with a +1 count floor (a character
  *     fully absorbed into longer pieces must stay segmentable — Kudo's
  *     coverage constraint).
  *  3. Output — rank, piece, round(ln p·10⁶) BIGINT log-prob, and the
  *     corpus-level n_uses RECOUNTED DISTRIBUTED (explode words → one
  *     broadcast join to the segmentation table → explode pieces → one
  *     map-side-combinable count): the spec asserts the recount equals
  *     the EM loop's own final counts, tying the driver model to the
  *     corpus it claims to tokenize.
  *
  * Driver check is rows-only (the BPE precedent, documented in §2): the
  * Viterbi DP is a sequential per-word recurrence and the EM chain is
  * data-dependent — no static SQL oracle can state the learned pieces.
  * Trust instead: `UnigramSpec` replays the full trainer independently
  * (memoized recursion vs the iterative DP here) and
  * `RowsOnlyCanarySpec` pins the complete frozen-fixture output. */
object UnigramTrain extends graft.QueryModule {

  val SeedMaxLen = 4
  val SeedSize = 200
  val VocabSize = 80
  val EmIters = 4

  /** Viterbi segmentation of `w` under log-probs `lp`: maximal total
    * log-prob, ties to fewer pieces then the lexicographically smallest
    * piece chain. Pieces absent from `lp` are unusable; single chars are
    * always present (seeding + the coverage floor), so every word
    * segments. */
  def viterbi(w: String, lp: Map[String, Double]): Vector[String] = {
    val n = w.length
    // best(i) = (score, pieces-used, chain) for prefix of length i
    val best = new Array[(Double, Int, Vector[String])](n + 1)
    best(0) = (0.0, 0, Vector.empty)
    var i = 1
    while (i <= n) {
      var b: (Double, Int, Vector[String]) = null
      var j = math.max(0, i - SeedMaxLen)
      while (j < i) {
        val piece = w.substring(j, i)
        if (best(j) != null) lp.get(piece).foreach { p =>
          val cand = (best(j)._1 + p, best(j)._2 + 1, best(j)._3 :+ piece)
          val better = b == null || cand._1 > b._1 ||
            (cand._1 == b._1 && (cand._2 < b._2 ||
              (cand._2 == b._2 && chainLt(cand._3, b._3))))
          if (better) b = cand
        }
        j += 1
      }
      best(i) = b
      i += 1
    }
    best(n)._3
  }

  private def chainLt(a: Vector[String], b: Vector[String]): Boolean = {
    val it = a.iterator.zip(b.iterator)
    while (it.hasNext) {
      val (x, y) = it.next()
      if (x != y) return x < y
    }
    a.length < b.length
  }

  /** The EM-pruned unigram model: piece → (final count, log-prob), a
    * [[BpeTrain.memo]] tokenizer artifact: three registered consumers plus
    * dump-time oracles share one train. */
  private[text] def trainedModel(s: SparkSession, dir: String): Map[String, (Long, Double)] =
    BpeTrain.memo(s, "uniModel", dir)(
      train(BpeTrain.wordCounts(s, dir)))

  def train(dict: Array[(String, Long)]): Map[String, (Long, Double)] = {
    if (dict.isEmpty) return Map.empty
    val singles: Set[String] = dict.flatMap(_._1.map(_.toString)).toSet
    // seed counts: frequency-weighted substring occurrences
    val seedCounts = scala.collection.mutable.Map.empty[String, Long]
    dict.foreach { case (w, n) =>
      var len = 1
      while (len <= math.min(SeedMaxLen, w.length)) {
        var i = 0
        while (i + len <= w.length) {
          val p = w.substring(i, i + len)
          seedCounts(p) = seedCounts.getOrElse(p, 0L) + n
          i += 1
        }
        len += 1
      }
    }
    val seedMulti = seedCounts.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(SeedSize)
    var counts: Map[String, Long] =
      (seedMulti ++ seedCounts.filter(c => singles.contains(c._1))).toMap

    def toLogProbs(cs: Map[String, Long]): Map[String, Double] = {
      val total = cs.values.sum.toDouble
      cs.map { case (p, c) => p -> math.log(c / total) }
    }

    for (_ <- 1 to EmIters) {
      val lp = toLogProbs(counts)
      val next = scala.collection.mutable.Map.empty[String, Long]
      dict.foreach { case (w, n) =>
        viterbi(w, lp).foreach(p => next(p) = next.getOrElse(p, 0L) + n)
      }
      // prune multi-char tail; singles survive with the +1 coverage floor
      val multi = next.toSeq.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(VocabSize)
      val single = singles.toSeq.map(c => c -> math.max(next.getOrElse(c, 0L), 1L))
      counts = (multi ++ single).toMap
    }
    val lp = toLogProbs(counts)
    counts.map { case (p, c) => p -> (c, lp(p)) }
  }

  def unigramVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dict = BpeTrain.wordCounts(s, dir)
    val model = trainedModel(s, dir)
    if (model.isEmpty)
      return Seq.empty[(Long, String, Long, Long)]
        .toDF("rank", "piece", "logprob_i", "n_uses")
    val lp = model.map { case (p, (_, l)) => p -> l }
    // deterministic rank: EM count desc, piece asc
    val ranked = model.toSeq.sortBy { case (p, (c, _)) => (-c, p) }.zipWithIndex
      .map { case ((p, (_, l)), r) =>
        (r.toLong + 1L, p, math.round(l * 1000000.0))
      }
    val vocabDf = ranked.toDF("rank", "piece", "logprob_i")
    // distributed usage recount: segment each dictionary word once on the
    // driver (vocabulary-sized), broadcast the word→pieces table, and let
    // the corpus pass be explode → broadcast join → explode → count
    // word → pieces ships as a real ARRAY column (no delimiter byte to
    // collide with dictionary content: under a delimited string, any word
    // containing the separator would silently corrupt the recount)
    val segDf = dict.toSeq
      .map { case (w, _) => (w, viterbi(w, lp)) }
      .toDF("word", "pieces")
    val uses = Tables.documents(s, dir)
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(segDf), Seq("word"))
      .select(explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n_uses"))
    // uses has at most |vocab| rows (pieces ARE vocab members) — broadcast
    vocabDf.join(broadcast(uses), Seq("piece"), "left")
      .select(col("rank"), col("piece"), col("logprob_i"),
        coalesce(col("n_uses"), lit(0L)).as("n_uses"))
      .orderBy(col("rank"))
  }

  /** #28z `text_unigram_apply` — corpus tokenization under the learned
    * unigram model: the token-ID STREAM per document (the pretraining
    * artifact; `text_unigram_vocab` publishes the model, this emits the
    * sequence a trainer consumes), completing the tokenizer-family symmetry
    * with `text_bpe_vocab`/`text_bpe_apply`. Ids ARE the published vocab
    * RANKS (count desc, piece asc — content-stable, partitioning
    * independent), so the two operators share one identity the spec pins:
    * the frequency histogram of every emitted id equals the vocab table's
    * distributed `n_uses` recount, piece for piece. Out-of-dictionary
    * words (below the trainer's frequency floor) emit nothing — the BPE
    * apply miss-counts-0 convention. Scale shape: the model is
    * vocabulary-sized driver state; the corpus pass is posexplode → ONE
    * broadcast word→ids join → per-doc reassembly via the sorted-struct
    * collect bounded by doc length; rows-only by the family precedent
    * (data-dependent EM chain — no static SQL oracle), trust =
    * UnigramSpec's independent-replica id streams + the vocab-identity
    * test + the RowsOnlyCanarySpec frozen-fixture pin. */
  def unigramApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dict = BpeTrain.wordCounts(s, dir)
    val model = trainedModel(s, dir)
    val lp = model.map { case (p, (_, l)) => p -> l }
    // id = the published rank (unigramVocab's count-desc, piece-asc order)
    val ids = model.toSeq.sortBy { case (p, (c, _)) => (-c, p) }.zipWithIndex
      .map { case ((p, _), r) => p -> (r.toLong + 1L) }.toMap
    val tokTable =
      if (dict.isEmpty) s.createDataFrame(Seq.empty[(String, Seq[Long])])
        .toDF("word", "ids")
      else dict.toSeq.map { case (w, _) => (w, viterbi(w, lp).map(ids)) }
        .toDF("word", "ids")
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode_outer(split(col("text"), "\\s+")))
      // map empty tokens (whitespace-only / empty text splits to [""]) to
      // NULL instead of filtering the row: every document keeps at least
      // one row through the groupBy, so an all-whitespace doc emits
      // n_tokens = 0 rather than vanishing from the output
      .withColumn("col", when(col("col") === "", lit(null)).otherwise(col("col")))
      .join(broadcast(tokTable), col("col") === col("word"), "left")
      .groupBy(col("doc_id"))
      .agg(flatten(array_sort(collect_list(struct(col("pos"),
          coalesce(col("ids"), array().cast("array<long>")).as("ids"))))
        .getField("ids")).as("token_ids"))
      // rows-only frames still sort and ship the stream as the '|'-joined
      // scalar (the driver-gate convention, etl/EtlQueries.scala:118)
      .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"),
        array_join(col("token_ids").cast("array<string>"), "|").as("token_ids"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unigram_vocab" -> (unigramVocab _),
    "text_unigram_apply" -> (unigramApply _))

  /** `text_unigram_apply` oracle — MODEL-AS-LITERAL via the shared
    * [[BpeTrain.applyOracleSql]]: the learned word→rank-ids segmentation
    * interpolates as a VALUES literal trained on the dump corpus
    * (`graft.OracleContext`), so the gate hash-checks the tokenization
    * arithmetic cross-engine; the EM trainer stays replay-spec + canary
    * covered, and `text_unigram_vocab` stays rows-only (its OUTPUT is the
    * trainer state). */
  def oracles: Map[String, String] = Map(
    "text_unigram_apply" -> graft.OracleContext.rendered { (s, dir) =>
      val dict = BpeTrain.wordCounts(s, dir)
      val model = trainedModel(s, dir)
      val lp = model.map { case (p, (_, l)) => p -> l }
      val ids = model.toSeq.sortBy { case (p, (c, _)) => (-c, p) }.zipWithIndex
        .map { case ((p, _), r) => p -> (r.toLong + 1L) }.toMap
      BpeTrain.applyOracleSql(
        dict.toSeq.map { case (w, _) => w -> viterbi(w, lp).map(ids) })
    })
}
