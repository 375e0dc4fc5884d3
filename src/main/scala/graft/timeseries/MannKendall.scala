package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #34n `ts_mannkendall` — the Mann-Kendall trend test per type over its
  * daily series (Mann 1945; Kendall 1975): the NONPARAMETRIC companion to
  * `ts_trend`'s OLS line. OLS answers "what is the rate?" but its R² gate
  * is blind to monotone-but-nonlinear drift and fragile to outliers; MK
  * asks only "do later days exceed earlier days more often than chance?"
  * — S = Σ_{i<j} sgn(v_j − v_i), the standard environmental/ops-metrics
  * trend detector precisely because it assumes no functional form.
  *
  * Determinism: S is an EXACT integer (pairwise sign sum over the daily
  * BIGINT values — order-independent); the tie-corrected variance is kept
  * as the integer numerator var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (the
  * ÷18 never happens in integer space), and z is ONE fixed-form IEEE
  * readout — (S∓1)/√(var18/18) with the textbook continuity correction,
  * NULL when every day ties (var18 = 0: no ANSI /0, no fake trend).
  * `trending` compares the unrounded z to the two-sided 5% bound
  * ([[ZBound]]) identically in both engines.
  *
  * Scale: ONE fact pass → the |types × days| daily aggregate; the
  * pairwise sign sum self-joins THAT aggregate on the uniform type key
  * (≤ |types|·days² rows — the `stats_corr` aggregate-not-facts posture);
  * ties and n come from map-side-combinable counts of the same frame. */
object MannKendall extends graft.QueryModule {

  /** Two-sided 5% normal bound. */
  val ZBound = 1.96

  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.CacheRegistry.track(
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi")))
    val a = daily.select(col("event_type"), col("day").as("da"), col("vi").as("va"))
    val b = daily.select(col("event_type"), col("day").as("db"), col("vi").as("vb"))
    val sStat = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("vb") > col("va"), 1L)
        .when(col("vb") < col("va"), -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("vi"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"), sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tie18"))
    val n = col("n_days")
    val var18 = n * (n - 1L) * (lit(2L) * n + 5L) - col("tie18")
    val zRaw = when(col("s_stat") > 0L,
        (col("s_stat") - 1L).cast("double") / sqrt(var18.cast("double") / lit(18.0)))
      .when(col("s_stat") < 0L,
        (col("s_stat") + 1L).cast("double") / sqrt(var18.cast("double") / lit(18.0)))
      .otherwise(lit(0.0))
    val z = when(var18 > 0L, zRaw)
    ties.join(sStat, Seq("event_type"))
      .filter(n >= 2)
      .select(col("event_type"), col("n_days"), col("s_stat"),
        var18.as("var18"), round(z, 4).as("z"),
        coalesce(abs(z) >= ZBound, lit(false)).as("trending"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_mannkendall" -> (mannKendall _))

  val oracles: Map[String, String] = Map(
    "ts_mannkendall" ->
      s"""WITH daily AS MATERIALIZED (
         | SELECT event_type, ts::DATE AS day, round(sum(value::DECIMAL(18,2))::DOUBLE)::BIGINT AS vi
         | FROM events GROUP BY 1, 2),
         |sp AS (
         | SELECT a.event_type,
         |  sum(CASE WHEN b.vi > a.vi THEN 1 WHEN b.vi < a.vi THEN -1 ELSE 0 END)::BIGINT
         |    AS s_stat
         | FROM daily a JOIN daily b
         |   ON a.event_type = b.event_type AND a.day < b.day
         | GROUP BY 1),
         |ti AS (
         | SELECT event_type, count(*)::BIGINT AS n_groups,
         |  sum(t)::BIGINT AS n_days,
         |  sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
         | FROM (SELECT event_type, vi, count(*)::BIGINT AS t
         |       FROM daily GROUP BY 1, 2)
         | GROUP BY 1),
         |m AS (
         | SELECT ti.event_type, ti.n_days, sp.s_stat,
         |  (ti.n_days * (ti.n_days - 1) * (2 * ti.n_days + 5) - ti.tie18)::BIGINT AS var18
         | FROM ti JOIN sp USING (event_type)
         | WHERE ti.n_days >= 2)
         |SELECT event_type, n_days, s_stat, var18,
         | round(CASE WHEN var18 > 0 THEN
         |   CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)
         |        WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)
         |        ELSE 0.0 END END, 4) AS z,
         | coalesce(abs(CASE WHEN var18 > 0 THEN
         |   CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)
         |        WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)
         |        ELSE 0.0 END END) >= $ZBound, false) AS trending
         |FROM m
         |ORDER BY event_type""".stripMargin)
}
