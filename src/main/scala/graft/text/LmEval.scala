package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28A `text_lm_eval` — HELD-OUT perplexity audit of the corpus bigram LM:
  * train `text_lm_score`'s add-one model on the `sample_split` train slice
  * only, score EVERY slice's bigrams under that train-only model, and
  * report per-split surprisal — the generalization-gap readout
  * (held-out avg bits − train avg bits) that separates "the LM describes
  * the language" from "the LM memorized the corpus". `text_lm_score`
  * scores docs under a model trained on everything (fluency gating);
  * this is the eval-family companion that checks the model itself on
  * data it never saw — the standard corpus-health loop (CCNet trains on
  * Wikipedia, evaluates perplexity on held-out CommonCrawl).
  *
  * Drift-proof composition: the split assignment is `sample_split`'s
  * exact 2²⁰ md5-bucket CASE (shared [[SampleSplit]] thresholds; the
  * oracle embeds the registered sample_split oracle verbatim), the
  * tokenization and whole-bit surprisal are `text_lm_score`'s chain
  * (compiled bigramsAll, bits = length(bin((cw+V) div (cbg+1))) − 1 —
  * pure integer arithmetic in both engines, no libm log). Out-of-train
  * bigrams take the add-one floor naturally: cbg = cw = 0 → p = 1/V →
  * bits = ⌊log₂V⌋ — exactly the unseen-sequence penalty.
  *
  * Scale: the split CASE is map-side arithmetic computed BEFORE the
  * bigram explode (no doc-keyed join anywhere — the `sample_split`
  * zero-shuffle property survives the composition); the model is two
  * vocabulary-sized counts off the cached train slice; scoring joins on
  * uniform bigram/word keys; the report is a ≤3-row aggregate. All
  * counts exact integers; avg_bits is the one fixed-form readout. */
object LmEval extends graft.QueryModule {

  def lmEval(s: SparkSession, dir: String): DataFrame = {
    // the staged LM bigram rung carries the split assignment already
    // (computed once per corpus fingerprint, shared with text_lm_score)
    val inst = LmScore.stagedBigrams(s, dir)
    val tr = inst.filter(col("split") === "train")
    val v = tr.select(substring_index(col("bg"), " ", -1).as("w2")).distinct().count()
    val cbg = tr.groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
    val cw = tr.groupBy(col("w1")).agg(count(lit(1)).as("cw"))
    inst.join(cbg, Seq("bg"), "left").join(cw, Seq("w1"), "left")
      .withColumn("bits",
        (length(bin(expr(s"(coalesce(cw, 0) + ${v}L) div (coalesce(cbg, 0) + 1)"))) - 1)
          .cast("long"))
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("total_bits"))
      .select(col("split"), col("n_docs"), col("n_bigrams"), col("total_bits"),
        round(col("total_bits").cast("double") / col("n_bigrams"), 4).as("avg_bits"))
      .orderBy(col("split"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_eval" -> (lmEval _))

  private val w = "regexp_split_to_array(text, '\\s+')"

  val oracles: Map[String, String] = Map(
    "text_lm_eval" ->
      s"""WITH sp AS MATERIALIZED (
         | SELECT doc_id, split FROM (${SampleSplit.oracles("sample_split")}) t),
         |ww AS (SELECT doc_id, $w AS w FROM documents),
         |bgx AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         | FROM ww),
         |i AS MATERIALIZED (
         | SELECT b.doc_id, b.bg, split_part(b.bg, ' ', 1) AS w1, sp.split
         | FROM bgx b JOIN sp USING (doc_id)),
         |tr AS MATERIALIZED (SELECT * FROM i WHERE split = 'train'),
         |m1 AS (SELECT bg, count(*) AS cbg FROM tr GROUP BY bg),
         |m2 AS (SELECT w1, count(*) AS cw FROM tr GROUP BY w1),
         |v AS (SELECT count(DISTINCT split_part(bg, ' ', 2))::BIGINT AS vc FROM tr),
         |sc AS (SELECT i.doc_id, i.split,
         |  length(bin((coalesce(m2.cw, 0) + (SELECT vc FROM v)) // (coalesce(m1.cbg, 0) + 1))) - 1 AS bits
         | FROM i LEFT JOIN m1 USING (bg) LEFT JOIN m2 USING (w1))
         |SELECT split, count(DISTINCT doc_id)::BIGINT AS n_docs,
         | count(*)::BIGINT AS n_bigrams, sum(bits)::BIGINT AS total_bits,
         | round(sum(bits)::DOUBLE / count(*), 4) AS avg_bits
         |FROM sc GROUP BY split
         |ORDER BY split""".stripMargin)
}
