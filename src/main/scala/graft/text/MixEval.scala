package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28ab `sample_mix_eval` — the eval-family audit for the SAMPLING family
  * (the `ann_recall_eval`/`stats_sketch_eval`/`text_classifier_eval`
  * discipline applied to mixture design): did temperature sampling
  * actually hit the mixture it promised? The question every multilingual
  * corpus build asks after an mC4/XLM-R-style T-sampled draw: per
  * language, the full count, the kept count, the TARGET keep rate the
  * sampler published (its integerized 2²⁰ threshold), the ACHIEVED rate
  * the md5 buckets delivered, their gap (the binomial concentration the
  * hash draw is trusted for), and the kept-corpus share (the mixture a
  * trainer will actually see).
  *
  * Drift-proof composition: the kept counts come from RE-RUNNING
  * `sample_temperature`'s registered query, the target rate is the
  * threshold that query itself carries on every row, and the oracle
  * embeds the registered sample_temperature oracle verbatim — the audit
  * cannot disagree with the sampler it audits.
  *
  * Determinism: counts are exact integers; target_rate, achieved_rate,
  * rate_gap, and share_kept are fixed-form IEEE readouts over those
  * integers written identically in both engines (gap = the same two
  * divisions subtracted, round-6). A language the sampler kept zero rows
  * of keeps its full count with NULL threshold/target (no row to carry
  * it) — identical left-join semantics cross-engine.
  *
  * Scale: two |langs|-key map-side-combinable counts (one over the corpus,
  * one over the sampler's output) + a one-row total broadcast — nothing
  * beyond the sampler's own cost at any corpus size. */
object MixEval extends graft.QueryModule {

  def mixEval(s: SparkSession, dir: String): DataFrame = {
    val full = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_full"))
    val kept = TextQueries.queries("sample_temperature")(s, dir)
      .groupBy(col("lang"), col("keep_threshold"))
      .agg(count(lit(1)).as("kept"))
    val joined = full.join(broadcast(kept), Seq("lang"), "left")
    val totalKept = joined.agg(sum(coalesce(col("kept"), lit(0L))).as("total_kept"))
    val achieved = coalesce(col("kept"), lit(0L)).cast("double") / col("n_full")
    val target = col("keep_threshold").cast("double") / lit(1048576.0)
    joined.crossJoin(broadcast(totalKept))
      .select(col("lang"), col("n_full"),
        coalesce(col("kept"), lit(0L)).as("n_kept"),
        col("keep_threshold"),
        round(target, 6).as("target_rate"),
        round(achieved, 6).as("achieved_rate"),
        round(achieved - target, 6).as("rate_gap"),
        when(col("total_kept") > 0L,
          round(coalesce(col("kept"), lit(0L)).cast("double") / col("total_kept"), 6))
          .as("share_kept"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_mix_eval" -> (mixEval _))

  val oracles: Map[String, String] = Map(
    "sample_mix_eval" ->
      s"""WITH k AS MATERIALIZED (
         | SELECT * FROM (${TextQueries.oracles("sample_temperature")}) t),
         |ka AS (SELECT lang, keep_threshold, count(*)::BIGINT AS kept
         | FROM k GROUP BY 1, 2),
         |f AS (SELECT lang, count(*)::BIGINT AS n_full FROM documents GROUP BY 1),
         |tk AS (SELECT sum(coalesce(ka.kept, 0))::BIGINT AS total_kept
         | FROM f LEFT JOIN ka USING (lang))
         |SELECT f.lang, f.n_full,
         | coalesce(ka.kept, 0)::BIGINT AS n_kept,
         | ka.keep_threshold,
         | round(ka.keep_threshold::DOUBLE / 1048576.0, 6) AS target_rate,
         | round(coalesce(ka.kept, 0)::DOUBLE / f.n_full, 6) AS achieved_rate,
         | round(coalesce(ka.kept, 0)::DOUBLE / f.n_full
         |   - ka.keep_threshold::DOUBLE / 1048576.0, 6) AS rate_gap,
         | CASE WHEN tk.total_kept > 0 THEN
         |   round(coalesce(ka.kept, 0)::DOUBLE / tk.total_kept, 6) END AS share_kept
         |FROM f LEFT JOIN ka USING (lang) CROSS JOIN tk
         |ORDER BY lang""".stripMargin)
}
