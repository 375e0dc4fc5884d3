package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #35r `stats_anova` — one-way ANOVA across event types: do the type
  * means differ at all, or is the apparent spread just within-group
  * noise? The k-sample completion of the inference family —
  * `stats_ttest` answers it for TWO groups; this is the F-test for all
  * of them at once, the gate an analyst runs BEFORE trusting any
  * per-type breakdown ("the five types' means differ, now slice").
  *
  * Method: the classical between/within decomposition from per-group
  * sufficient statistics. The cross-engine trap is that SSB = Σ_g s_g²/n_g
  * − s²/n sums FLOATS ACROSS GROUPS (order-dependent under
  * partitioning). The fix, declared: each group term rounds to integer
  * cents² — t_g = round(s_g²/n_g), one fixed-form double expression per
  * group, ≤ 0.5 cent² rounding error apiece (immaterial against any
  * distinguishable F) — making the cross-group sum an EXACT BIGINT in
  * any order. SSB = Σt_g − round(s²/n), SSW = Σy² − Σt_g (Σy² is an
  * exact integer moment), both integer cents²; range declared
  * BIGINT-safe for s_g < 3·10⁹ cents. F = (SSB/(k−1))/(SSW/(n−k)) is
  * one fixed-form IEEE readout.
  *
  * Verdict without a p-value lookup: for large n, (k−1)·F ≈ χ²_{k−1}, so
  * `differs` compares (k−1)·F against the FROZEN χ² 0.99-quantile table
  * (df 1..12, committed constants — the `ts_periodogram` frozen-table
  * convention; df1 > 12 reads a NULL verdict, declared). Degenerate
  * guards: k < 2 → NULL F and false; SSW = 0 with SSB > 0 (perfectly
  * separated constants) → NULL F, differs = true — infinite separation
  * is a verdict, not a /0.
  *
  * Scale: ONE fact pass → |types|-key map-side integer sums; the global
  * row is one aggregate of the |types|-row frame. Nothing else moves. */
object Anova extends graft.QueryModule {

  /** χ² 0.99 quantiles for df 1..12 (frozen, committed). */
  val Chi2Crit99: Seq[Double] = Seq(
    6.63, 9.21, 11.34, 13.28, 15.09, 16.81,
    18.48, 20.09, 21.67, 23.21, 24.72, 26.22)

  /** Core over an explicit (event_type, y) integer-cents frame. */
  private[stats] def anovaOf(base: DataFrame): DataFrame = {
    val critArr = array(Chi2Crit99.map(lit): _*)
    val g = base.groupBy(col("event_type")).agg(
      count(lit(1)).as("ng"), sum(col("y")).as("sg"),
      sum(col("y") * col("y")).as("ssg"))
      .withColumn("tg", expr(
        "CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) AS BIGINT)"))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sg")).as("s"), sum(col("ssg")).as("ss"), sum(col("tg")).as("st"))
    val t0 = expr("CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS BIGINT)")
    val withSs = tot
      .withColumn("ssb_i", col("st") - t0)
      .withColumn("ssw_i", col("ss") - col("st"))
    val f = expr("(CAST(ssb_i AS DOUBLE) / (k - 1)) / (CAST(ssw_i AS DOUBLE) / (n - k))")
    withSs
      .withColumn("fr", when(col("k") >= 2 && col("ssw_i") > 0L, f))
      .withColumn("crit",
        when(col("k") >= 2 && col("k") - 1 <= Chi2Crit99.size,
          element_at(critArr, (col("k") - 1).cast("int"))))
      .select(col("k").as("n_groups"), col("n"),
        round(col("ssb_i").cast("double") / 1e4, 4).as("ssb"),
        round(col("ssw_i").cast("double") / 1e4, 4).as("ssw"),
        round(col("fr"), 4).as("f_stat"),
        when(col("k") >= 2,
          when(col("ssw_i") > 0L, (col("k") - 1) * col("fr") > col("crit"))
            .otherwise(col("ssb_i") > 0L))
          .otherwise(lit(false)).as("differs"))
  }

  def anova(s: SparkSession, dir: String): DataFrame =
    anovaOf(Tables.events(s, dir).select(col("event_type"),
      round(round(col("value"), 2) * 100).cast("long").as("y")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_anova" -> (anova _))

  val oracles: Map[String, String] = Map(
    "stats_anova" -> {
      val critVals = Chi2Crit99.zipWithIndex
        .map { case (c, i) => s"(${i + 1}, $c)" }.mkString(", ")
      s"""WITH b AS (SELECT event_type,
         |  CAST(round(round(value, 2) * 100) AS BIGINT) AS y FROM events),
         |g AS (SELECT event_type, count(*)::BIGINT AS ng, sum(y)::BIGINT AS sg,
         |  sum(y * y)::BIGINT AS ssg FROM b GROUP BY event_type),
         |g2 AS (SELECT *,
         |  CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) AS BIGINT) AS tg
         | FROM g),
         |tot AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
         |  sum(sg)::BIGINT AS s, sum(ssg)::BIGINT AS ss, sum(tg)::BIGINT AS st
         | FROM g2),
         |w AS (SELECT *,
         |  st - CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS BIGINT) AS ssb_i,
         |  ss - st AS ssw_i FROM tot),
         |crit(df1, cv) AS (VALUES $critVals),
         |w2 AS (SELECT w.*,
         |  CASE WHEN k >= 2 AND ssw_i > 0
         |   THEN (CAST(ssb_i AS DOUBLE) / (k - 1)) / (CAST(ssw_i AS DOUBLE) / (n - k))
         |  END AS fr,
         |  (SELECT cv FROM crit WHERE df1 = w.k - 1) AS cv
         | FROM w)
         |SELECT k AS n_groups, n,
         | round(CAST(ssb_i AS DOUBLE) / 1e4, 4) AS ssb,
         | round(CAST(ssw_i AS DOUBLE) / 1e4, 4) AS ssw,
         | round(fr, 4) AS f_stat,
         | CASE WHEN k >= 2 THEN
         |   CASE WHEN ssw_i > 0 THEN (k - 1) * fr > cv ELSE ssb_i > 0 END
         |  ELSE false END AS differs
         |FROM w2""".stripMargin
    })
}
