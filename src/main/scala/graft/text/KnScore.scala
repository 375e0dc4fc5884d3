package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28ac `text_kn_score` — document fluency under the INTERPOLATED
  * KNESER-NEY bigram LM (Kneser & Ney 1995; Chen & Goodman 1999 §2.7):
  * the deploy-side consumer of the `text_kn_counts` artifact, completing
  * the n-gram-LM family symmetry (counts table → scorer) the way
  * `text_bpe_vocab` → `text_bpe_apply` completed the tokenizer family.
  *
  * Why a second LM score when `text_lm_score` exists: add-one smoothing
  * systematically over-penalizes legitimate-but-rare continuations — a
  * bigram seen once among a large vocabulary gets probability ≈ 2/V
  * regardless of how PROMISCUOUS its second word is. KN's continuation
  * probability P_cont(w2) = N₁₊(•w2)/N₁₊(••) fixes exactly that (the
  * "San Francisco" insight: 'francisco' is frequent but only ever follows
  * 'san', so it deserves almost no backoff mass), which in corpus terms
  * separates formulaic boilerplate (high-count, low-continuation bigrams)
  * from fluent prose better than the add-one gate. A curation team runs
  * BOTH and reads the disagreement set.
  *
  * Model, with discount D = 1/2 (the Chen–Goodman mid-range constant,
  * kept rational so everything stays integer):
  *
  *   p(w2|w1) = max(c₁₂ − ½, 0)/c₁ + (½·N₁₊(w1•)/c₁) · N₁₊(•w2)/T
  *
  * where c₁₂/c₁ are bigram/context instance counts, the type counts are
  * `text_kn_counts`' n_succ/n_prec, and T = distinct bigram types
  * (= N₁₊(••)). Over a common denominator this is p = A/B with
  * A = max(2c₁₂ − 1, 0)·T + N₁₊(w1•)·N₁₊(•w2) and B = 2·c₁·T — exact
  * BIGINTs, and the surprisal in WHOLE BITS (the `text_lm_score`
  * determinism trick) is floor(log₂(B/A)) = length(bin(B div A)) − 1:
  * pure integer arithmetic, available verbatim in both engines, no libm.
  * p ≤ 1 always (interpolated KN sums to 1 over the vocabulary and every
  * scored bigram was seen, so A ≥ T ≥ 1 and B ≥ A — bits ≥ 0, no /0).
  * Range declared: BIGINT-safe while c₁·T < 4.6·10¹⁸ (T is
  * vocabulary-sized — bounded — while c₁ is corpus-sized).
  *
  * Scale: the `text_kn_counts` chain (one corpus scan explodes bigrams
  * map-side; model tables are vocabulary-sized aggregates of the
  * pair-count frame) plus uniform-key scoring joins (pair, then first
  * word, then second word — AQE broadcasts the vocabulary-sized sides)
  * and one per-doc re-aggregate. T rides as a bounded driver scalar
  * (the `text_lm_score` V pattern), mirrored as a scalar subquery. */
object KnScore extends graft.QueryModule {

  val SuspectBits = 4.5

  def knScore(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val docs = Tables.documents(s, dir)
    // persist: feeds the model counts AND the scoring join
    val inst = graft.CacheRegistry.track(
      docs.select(col("doc_id"),
          explode(graft.functions.HashExprs.bigramsAll(col("text"))).as("bg"))
        .select(col("doc_id"),
          element_at(split(col("bg"), " "), 1).as("w1"),
          element_at(split(col("bg"), " "), 2).as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= ""))
    val pairs = graft.CacheRegistry.track(
      inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n")))
    val t = pairs.count() // N₁₊(••), bounded driver scalar, oracle-mirrored
    val succ = pairs.groupBy(col("w1"))
      .agg(count(lit(1)).as("n_succ"), sum(col("n")).as("c1"))
    val prec = pairs.groupBy(col("w2")).agg(count(lit(1)).as("n_prec"))
    val scored = inst
      .join(pairs, Seq("w1", "w2")).join(succ, Seq("w1")).join(prec, Seq("w2"))
      .withColumn("bits", length(bin(expr(
        s"(2L * c1 * ${t}L) div (greatest(2L * n - 1L, 0L) * ${t}L + n_succ * n_prec)"))) - 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).cast("long").as("total_bits"))
    val avg = round(col("total_bits").cast("double") / col("n_bigrams"), 4)
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        when(col("n_bigrams") > 0, avg).as("avg_bits"),
        coalesce(when(col("n_bigrams") > 0, avg >= SuspectBits), lit(false)).as("is_suspect"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_kn_score" -> (knScore _))

  private val w = "regexp_split_to_array(text, '\\s+')"

  val oracles: Map[String, String] = Map(
    "text_kn_score" ->
      s"""WITH ww AS (SELECT doc_id, $w AS w FROM documents),
         |bgx AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         | FROM ww),
         |i AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM bgx
         | WHERE bg[1] != '' AND bg[2] != ''),
         |p AS (SELECT w1, w2, count(*)::BIGINT AS n FROM i GROUP BY 1, 2),
         |s AS (SELECT w1, count(*)::BIGINT AS n_succ, sum(n)::BIGINT AS c1
         | FROM p GROUP BY w1),
         |c AS (SELECT w2, count(*)::BIGINT AS n_prec FROM p GROUP BY w2),
         |t AS (SELECT count(*)::BIGINT AS tt FROM p),
         |sc AS (SELECT i.doc_id,
         |  length(bin((2 * s.c1 * (SELECT tt FROM t))
         |    // (greatest(2 * p.n - 1, 0) * (SELECT tt FROM t)
         |       + s.n_succ * c.n_prec))) - 1 AS bits
         | FROM i JOIN p USING (w1, w2) JOIN s USING (w1) JOIN c USING (w2)),
         |d AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  sum(bits)::BIGINT AS total_bits FROM sc GROUP BY doc_id)
         |SELECT ww.doc_id,
         | coalesce(d.n_bigrams, 0)::BIGINT AS n_bigrams,
         | coalesce(d.total_bits, 0)::BIGINT AS total_bits,
         | CASE WHEN d.n_bigrams > 0
         |   THEN round(d.total_bits::DOUBLE / d.n_bigrams, 4) END AS avg_bits,
         | coalesce(CASE WHEN d.n_bigrams > 0
         |   THEN round(d.total_bits::DOUBLE / d.n_bigrams, 4) >= $SuspectBits END,
         |  false) AS is_suspect
         |FROM ww LEFT JOIN d ON d.doc_id = ww.doc_id
         |ORDER BY ww.doc_id""".stripMargin)
}
