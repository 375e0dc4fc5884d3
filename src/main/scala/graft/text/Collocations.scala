package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28s `text_collocations` — PMI collocation (phrase) mining over the
  * corpus bigrams: PMI(a,b) = log₂(p(ab) / (p(a)·p(b))), the standard
  * phrase-discovery statistic (Church & Hanks 1990; word2vec's phrase
  * pass, arXiv:1310.4546 §4, is this with a discount) — the step that
  * decides which word pairs deserve a fused token before tokenizer
  * training, complementing `text_ngram_freq` (raw counts rank stop-phrase
  * boilerplate first; PMI ranks ASSOCIATION, surfacing pairs that occur
  * together far above chance).
  *
  * Determinism: counts are exact integers off the shared tokenizer
  * convention (whitespace split — the `bigramsAll` compiled expression,
  * twinned by the oracle's `regexp_split_to_array` chain exactly as in
  * `text_ngram_freq`); the PMI is ONE fixed-form double expression
  * (c_ab·Nᵤ·Nᵤ)/(c_a·c_b·N_b) under log₂, round-4. Pairs below
  * [[MinPairCount]] are dropped BEFORE the unigram joins (the classic
  * PMI-noise floor: a 1-count pair of two rare words has spuriously
  * maximal PMI — and the filter prunes the long tail off the join).
  *
  * Scale: one corpus pass for each count family (map-side combinable
  * aggregates), two hash joins of the surviving bigrams against the
  * vocabulary-sized unigram counts (uniform keys, no broadcast
  * assumption on the vocab), two one-row total frames broadcast in, and
  * a top-[[TopK]] rank (WindowGroupLimit pushes the cut before the
  * exchange). Nothing quadratic, no driver state. */
object Collocations extends graft.QueryModule {

  /** Noise floor: a collocation must occur at least this often. */
  val MinPairCount = 5
  /** Report budget. */
  val TopK = 100

  def collocations(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val docs = Tables.documents(s, dir)
    val uni = docs.select(explode(split(col("text"), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c_w"))
    val bi0 = docs
      .select(explode(graft.functions.HashExprs.bigramsAll(col("text"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val nu = uni.agg(sum(col("c_w")).as("nu"))
    val nb = bi0.agg(sum(col("c_ab")).as("nb"))
    val bi = bi0.filter(col("c_ab") >= MinPairCount)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
    val j = bi
      .join(uni.select(col("word").as("w1"), col("c_w").as("c_a")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c_w").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
    val pmi = round(log2(
      (col("c_ab").cast("double") * col("nu") * col("nu")) /
        (col("c_a").cast("double") * col("c_b") * col("nb"))), 4)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi").desc, col("bigram"))
    j.select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"), pmi.as("pmi"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .orderBy(col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_collocations" -> (collocations _))

  val oracles: Map[String, String] = Map(
    "text_collocations" ->
      s"""WITH t AS (SELECT regexp_split_to_array(text, '\\s+') AS ws FROM documents),
         |uc AS (SELECT word, count(*)::BIGINT AS c_w
         | FROM (SELECT unnest(ws) AS word FROM t) GROUP BY 1),
         |nu AS (SELECT sum(c_w)::BIGINT AS nu FROM uc),
         |bc0 AS (SELECT bigram, count(*)::BIGINT AS c_ab FROM (
         |  SELECT unnest(list_transform(range(1, len(ws)),
         |    i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM t) GROUP BY 1),
         |nb AS (SELECT sum(c_ab)::BIGINT AS nb FROM bc0),
         |j AS (SELECT bc.bigram, bc.c_ab, a.c_w AS c_a, z.c_w AS c_b
         | FROM (SELECT * FROM bc0 WHERE c_ab >= $MinPairCount) bc
         | JOIN uc a ON a.word = split_part(bc.bigram, ' ', 1)
         | JOIN uc z ON z.word = split_part(bc.bigram, ' ', 2)),
         |p AS (SELECT bigram, c_ab, c_a, c_b,
         |  round(log2((c_ab::DOUBLE * (SELECT nu FROM nu) * (SELECT nu FROM nu)) /
         |    (c_a::DOUBLE * c_b::DOUBLE * (SELECT nb FROM nb))), 4) AS pmi
         | FROM j)
         |SELECT bigram, c_ab, c_a, c_b, pmi, rk FROM (
         | SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram) AS rk FROM p) r
         |WHERE rk <= $TopK ORDER BY rk""".stripMargin)
}
