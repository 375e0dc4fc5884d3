package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28r `text_kn_counts` — Kneser-Ney count table over the corpus bigrams:
  * the n-gram LM training artifact (Kneser & Ney 1995; Chen & Goodman
  * 1999 §2.7). For every bigram (w1, w2) it emits the raw pair count plus
  * the two TYPE counts KN smoothing interpolates with:
  *
  *   - `n`       = c(w1 w2) — raw bigram occurrences;
  *   - `n_succ`  = N₁₊(w1 •) — distinct words following w1 (the
  *     discount-mass normalizer of the backoff weight λ(w1));
  *   - `n_prec`  = N₁₊(• w2) — distinct words preceding w2 (the
  *     continuation-count numerator of P_cont(w2): "how many contexts has
  *     w2 completed", the insight that makes KN beat Katz on "San
  *     Francisco"-type collocations).
  *
  * Counts only, no probabilities: every emitted quantity is exact integer
  * arithmetic (the repo-wide float-free convention), and the trainer
  * applies its own discount. Tokenization is the shared `text_ngram_freq`
  * convention (whitespace split, bigram = w1 ⧺ ' ' ⧺ w2, via the same
  * compiled `bigramsAll` expression — words contain no whitespace by
  * construction, so the single-space split recovers (w1, w2) exactly);
  * pairs with an empty side (leading/double whitespace artifacts) drop
  * AFTER pairing, mirroring the SQL.
  *
  * Scale: ONE corpus scan explodes bigrams map-side (no posexplode
  * self-join — the compiled expression pairs adjacent words in-row); the
  * pair count is one map-side-combinable groupBy; both type counts are
  * aggregates OF the pair-count frame (vocabulary-sized inputs, never the
  * raw bigram stream), joined back on uniform single-word keys — AQE
  * broadcasts them when small, hash-joins otherwise. Nothing quadratic,
  * no windows. */
object KnCounts extends graft.QueryModule {

  def knCounts(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val pairs = graft.CacheRegistry.track(
      Tables.documents(s, dir)
        .select(explode(graft.functions.HashExprs.bigramsAll(col("text"))).as("bg"))
        .select(element_at(split(col("bg"), " "), 1).as("w1"),
          element_at(split(col("bg"), " "), 2).as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n")))
    val succ = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_succ"))
    val prec = pairs.groupBy(col("w2")).agg(count(lit(1)).as("n_prec"))
    pairs.join(succ, Seq("w1")).join(prec, Seq("w2"))
      .select(col("w1"), col("w2"), col("n"), col("n_succ"), col("n_prec"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_kn_counts" -> (knCounts _))

  private val w = "regexp_split_to_array(text, '\\s+')"

  val oracles: Map[String, String] = Map(
    "text_kn_counts" ->
      s"""WITH b AS (
         | SELECT unnest(list_transform(range(1, len($w)),
         |   i -> [$w[i], $w[i+1]])) AS bg
         | FROM documents),
         |p AS (SELECT bg[1] AS w1, bg[2] AS w2, count(*)::BIGINT AS n
         | FROM b WHERE bg[1] != '' AND bg[2] != '' GROUP BY 1, 2),
         |s AS (SELECT w1, count(*)::BIGINT AS n_succ FROM p GROUP BY w1),
         |c AS (SELECT w2, count(*)::BIGINT AS n_prec FROM p GROUP BY w2)
         |SELECT p.w1, p.w2, p.n, s.n_succ, c.n_prec
         |FROM p JOIN s USING (w1) JOIN c USING (w2)
         |ORDER BY p.n DESC, p.w1, p.w2""".stripMargin)
}
