package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28ad `text_perplexity_buckets` — the CCNet corpus partition (Wenzek et
  * al. 2020 §4.3): split the corpus into HEAD / MIDDLE / TAIL thirds by
  * language-model score, equal thirds by CHARACTER MASS, not document
  * count — the published recipe trains on head+middle and drops or
  * down-weights tail, making this the single most consequential curation
  * decision a CCNet-style pipeline takes. Scores are the REGISTERED
  * `text_lm_score` query re-run verbatim (the drift-proof composition
  * discipline — the bucketer cannot disagree with the scorer it deploys),
  * mass is the `n_chars` column.
  *
  * Scale-correct bucketing: a naive cumulative sum over doc-ordered
  * scores is a global single-partition window over the CORPUS. Instead
  * the cumsum runs over the SCORE HISTOGRAM — `avg_bits` is rounded to 4
  * decimals, so distinct scores are bounded (≤ a few thousand) regardless
  * of corpus size — and documents map to buckets by one broadcast join
  * against the |scores|-row bucket table. The declared boundary rule is
  * score-granular and exact-integer: a score group lands in the bucket
  * where its FIRST character falls — 'head' iff 3·(cum − sc) < T,
  * 'middle' iff 3·(cum − sc) < 2T, else 'tail' (cum = inclusive running
  * char mass, sc = the group's own mass, T = total scored mass; all
  * BIGINT, no ratios). Whole score groups move together — ties cannot
  * straddle a boundary, which is what makes the assignment deterministic
  * under any partitioning. Docs the LM cannot score (no bigrams) land in
  * the explicit 'unscored' bucket instead of polluting tail.
  *
  * Scale: the lm_score chain + one |scores|-key histogram aggregate + a
  * bounded-frame cumsum (the `sample_pps_systematic` SinglePartition-on-
  * bounded-rows class) + one broadcast map-side bucket join. Nothing
  * corpus-sized ever sits in one partition. */
object PerplexityBuckets extends graft.QueryModule {

  def perplexityBuckets(s: SparkSession, dir: String): DataFrame =
    bucketsOf(LmScore.queries("text_lm_score")(s, dir)
      .select(col("doc_id"), col("avg_bits"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id")))

  /** The bucketing core over an explicit (doc_id, avg_bits, n_chars)
    * frame — split out so the spec can pin the exact boundary rule
    * (equal-mass thirds split 1/1/1; a group starting exactly AT T/3
    * goes middle, one starting just before goes head and takes its whole
    * mass with it). */
  private[text] def bucketsOf(scored0: DataFrame): DataFrame = {
    val scored = graft.CacheRegistry.track(scored0)
    val hist = scored.filter(col("avg_bits").isNotNull)
      .groupBy(col("avg_bits")).agg(sum(col("n_chars")).as("sc"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_bits"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum(col("sc")).over(w))
      .crossJoin(broadcast(hist.agg(sum(col("sc")).as("t"))))
    val buckets = cum.select(col("avg_bits"),
      when(lit(3L) * (col("cum") - col("sc")) < col("t"), "head")
        .when(lit(3L) * (col("cum") - col("sc")) < lit(2L) * col("t"), "middle")
        .otherwise("tail").as("bucket"))
    scored.join(broadcast(buckets), Seq("avg_bits"), "left")
      .select(col("doc_id"), col("avg_bits"), col("n_chars"),
        coalesce(col("bucket"), lit("unscored")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_perplexity_buckets" -> (perplexityBuckets _))

  val oracles: Map[String, String] = Map(
    "text_perplexity_buckets" ->
      s"""WITH lm AS MATERIALIZED (
         | SELECT * FROM (${LmScore.oracles("text_lm_score")}) z),
         |s AS (SELECT lm.doc_id, lm.avg_bits, d.n_chars
         | FROM lm JOIN documents d USING (doc_id)),
         |h AS (SELECT avg_bits, sum(n_chars)::BIGINT AS sc
         | FROM s WHERE avg_bits IS NOT NULL GROUP BY 1),
         |c AS (SELECT avg_bits, sc,
         |  sum(sc) OVER (ORDER BY avg_bits
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |  (SELECT sum(sc) FROM h) AS t FROM h),
         |bk AS (SELECT avg_bits,
         |  CASE WHEN 3 * (cum - sc) < t THEN 'head'
         |   WHEN 3 * (cum - sc) < 2 * t THEN 'middle'
         |   ELSE 'tail' END AS bucket FROM c)
         |SELECT s.doc_id, s.avg_bits, s.n_chars,
         | coalesce(bk.bucket, 'unscored') AS bucket
         |FROM s LEFT JOIN bk USING (avg_bits)
         |ORDER BY s.doc_id""".stripMargin)
}
