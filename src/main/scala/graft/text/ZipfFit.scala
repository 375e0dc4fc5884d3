package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28u `text_zipf_fit` — Zipf-law fit of the per-language word-frequency
  * distribution: OLS slope of log-frequency on log-rank over the top
  * [[MaxRanks]] vocabulary, per language. Natural text follows freq ∝
  * rank^(−s) with s ≈ 1 (Zipf 1949); template-generated, boilerplate-
  * heavy, or synthetic corpora deviate sharply (flat slopes, low R²) —
  * so the fitted (slope, r2) pair is a standing corpus-health audit the
  * LLM-data literature uses to screen crawl snapshots before training
  * (complementing `text_quality`'s per-doc filters with a per-LANGUAGE
  * distributional check).
  *
  * Determinism (the `ts_trend`/`stats_corr` discipline): the float
  * coordinates are INTEGERIZED at the source — x = round(ln(rank)·10⁴),
  * y = round(ln(count)·10⁴) as BIGINT — so all five OLS moments (Σx, Σy,
  * Σxy, Σx², Σy²) are exact integer aggregates, order-independent under
  * any partitioning, and slope/R² are one fixed-form IEEE expression over
  * exact integers, round-4, written identically in both engines. Range:
  * |y| = ln(count)·10⁴ < 10⁶ at any conceivable count, so the largest
  * moment n·Σy² stays under 10¹⁶ — BIGINT-safe with 600× headroom (a 10⁶
  * scale would overflow n·Σy² at ~2·10²⁰; 10⁻⁴ log quantization perturbs
  * a round-4 slope by < 10⁻⁵ at the fitted spread).
  *
  * Scale: one corpus token pass → (lang, word) counts (map-side
  * combinable); the rank window is per-lang with the rk ≤ [[MaxRanks]]
  * cut pushed as WindowGroupLimit (per-partition top-k before the
  * exchange — never a full vocab sort); moments are a |langs|-key
  * aggregate. Languages with fewer than [[MinPoints]] fitted points are
  * dropped (a 2-point line fits anything). */
object ZipfFit extends graft.QueryModule {

  /** Fit over the head of the distribution (the Zipf regime; the deep
    * tail is count-1 noise that fits nothing). */
  val MaxRanks = 1000
  /** Minimum fitted points for a meaningful line. */
  val MinPoints = 3L
  /** Log integerization scale (see the BIGINT-range note above). */
  val LogScale = 10000L

  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c").desc, col("word"))
    val ranked = counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= MaxRanks)
      .select(col("lang"),
        round(log(col("rank").cast("double")) * LogScale).cast("long").as("x"),
        round(log(col("c").cast("double")) * LogScale).cast("long").as("y"))
    val m = ranked.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n")
    val dxx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val dyy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    val dxy = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    // dyy = 0 (all fitted counts equal, e.g. every word appears once) would
    // divide by zero: Spark's non-ANSI Divide yields NULL, DuckDB's IEEE
    // division yields inf — guard BOTH engines identically (the
    // CrossCorr/ts_trend discipline) so the degenerate corpus stays
    // hash-identical: slope still reported, r2 NULL on both sides.
    m.filter(n >= MinPoints && (n * col("sxx") - col("sx") * col("sx")) > 0L)
      .select(col("lang"), n.as("n_points"),
        round(dxy / dxx, 4).as("slope"),
        when((n * col("syy") - col("sy") * col("sy")) > 0L,
          round(dxy * dxy / (dxx * dyy), 4)).as("r2"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_zipf_fit" -> (zipfFit _))

  val oracles: Map[String, String] = Map(
    "text_zipf_fit" ->
      s"""WITH u AS (
         | SELECT lang, unnest(regexp_split_to_array(text, '\\s+')) AS word
         | FROM documents),
         |c AS (SELECT lang, word, count(*)::BIGINT AS c FROM u GROUP BY 1, 2),
         |r AS (SELECT lang,
         |  round(ln(rank::DOUBLE) * $LogScale)::BIGINT AS x,
         |  round(ln(c::DOUBLE) * $LogScale)::BIGINT AS y
         | FROM (SELECT lang, c, row_number() OVER (PARTITION BY lang
         |    ORDER BY c DESC, word) AS rank FROM c) t
         | WHERE rank <= $MaxRanks),
         |m AS (SELECT lang, count(*)::BIGINT AS n,
         |  sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
         |  sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
         | FROM r GROUP BY 1)
         |SELECT lang, n AS n_points,
         | round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 4) AS slope,
         | CASE WHEN (n * syy - sy * sy) > 0 THEN
         |   round((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
         |     / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 4)
         | END AS r2
         |FROM m
         |WHERE n >= $MinPoints AND (n * sxx - sx * sx) > 0
         |ORDER BY lang""".stripMargin)
}
