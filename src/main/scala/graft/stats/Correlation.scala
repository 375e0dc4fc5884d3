package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #35e Cross-series Pearson correlation (SURVEY.md §2).
  *
  * Which event streams move together day to day — the screening matrix
  * behind every "metric A predicts metric B" dashboard, and the
  * multivariate companion to `ts_anomaly`'s univariate z (the reference
  * eyeballs exactly this relationship between injury and fatality tallies
  * across zones). Emits every type pair's sample correlation and
  * covariance over the days BOTH series observed.
  *
  * Determinism contract (the checklist pattern): daily values are rounded
  * to whole units and carried as BIGINT, all five moment sums (Σa, Σb,
  * Σab, Σa², Σb²) are exact integer window-free aggregates — order-
  * independent under any partitioning — and the final Pearson/covariance
  * arithmetic is one fixed-form IEEE expression over those exact
  * integers, written identically in both engines. Fixed-point range: with
  * daily unit values < 10^6 and < 10^4 observed days, n·Σab < 10^19 ≈
  * 2^63 — the scale/range trade is declared, not accidental.
  *
  * Scale posture: one fact pass → |types × days| aggregate; the pair
  * self-join runs on the aggregate (≤ |types|² · days rows), never on
  * facts; the pair groupBy is map-side combinable. */
object Correlation extends graft.QueryModule {

  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi"))
    // persist: both sides of the pair join read the same daily aggregate
    val d = graft.CacheRegistry.track(daily)
    val a = d.select(col("event_type").as("type_a"), col("day"), col("vi").as("va"))
    val b = d.select(col("event_type").as("type_b"), col("day"), col("vi").as("vb"))
    val m = a.join(b, Seq("day")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("va")).as("sa"), sum(col("vb")).as("sb"),
        sum(col("va") * col("vb")).as("sab"),
        sum(col("va") * col("va")).as("saa"),
        sum(col("vb") * col("vb")).as("sbb"))
    val n = col("n_days")
    val covNum = (n * col("sab") - col("sa") * col("sb")).cast("double")
    val varA = (n * col("saa") - col("sa") * col("sa")).cast("double")
    val varB = (n * col("sbb") - col("sb") * col("sb")).cast("double")
    m.filter(n >= 2)
      .select(col("type_a"), col("type_b"), n,
        round(covNum / n / (n - 1), 4).as("cov"),
        when(varA > 0 && varB > 0,
          round(covNum / sqrt(varA) / sqrt(varB), 4)).as("pearson"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** #35g Welch's two-sample t between every event-type pair's daily
    * volumes — the inference companion to `stats_corr`'s screening matrix
    * ("do these two streams run at genuinely different levels, given their
    * own day-to-day noise?"), the test an A/B readout or a
    * migration-parity check actually wants. Unlike the correlation (paired
    * days), the samples are independent: everything derives from ONE
    * |types|-key aggregate of exact BIGINT moments (n, Σv, Σv²) — no day
    * join at all — and the pair cross runs on that |types|-row aggregate
    * (an explicit broadcast cross on a bounded domain, never facts). The
    * statistic is one fixed-form IEEE expression over exact integers,
    * written identically in both engines (the `stats_corr` determinism
    * contract); t is undefined (null) below 2 days or at zero variance. */
  val TtestFlag = 3.0

  def ttestMatrix(s: SparkSession, dir: String): DataFrame = {
    val per = graft.CacheRegistry.track(
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("vi")).as("sv"),
          sum(col("vi") * col("vi")).as("svv")))
    val a = per.select(col("event_type").as("type_a"), col("n").as("na"),
      col("sv").as("sa"), col("svv").as("saa"))
    val b = per.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("sv").as("sb"), col("svv").as("sbb"))
    val meanA = col("sa").cast("double") / col("na")
    val meanB = col("sb").cast("double") / col("nb")
    val varA = (col("na") * col("saa") - col("sa") * col("sa")).cast("double") /
      (col("na") * (col("na") - 1))
    val varB = (col("nb") * col("sbb") - col("sb") * col("sb")).cast("double") /
      (col("nb") * (col("nb") - 1))
    val t = (meanA - meanB) / sqrt(varA / col("na") + varB / col("nb"))
    a.crossJoin(broadcast(b)).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        round(meanA, 4).as("mean_a"), round(meanB, 4).as("mean_b"),
        when(col("na") >= 2 && col("nb") >= 2 &&
          (col("na") * col("saa") - col("sa") * col("sa")) +
          (col("nb") * col("sbb") - col("sb") * col("sb")) > 0,
          round(t, 4)).as("t_welch"))
      .withColumn("separated", coalesce(abs(col("t_welch")) >= TtestFlag, lit(false)))
      .orderBy(col("type_a"), col("type_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_corr" -> (corrMatrix _),
    "stats_ttest" -> (ttestMatrix _))

  val oracles: Map[String, String] = Map(
    "stats_ttest" ->
      s"""WITH d AS (SELECT event_type, ts::DATE AS day,
         |  CAST(round(sum(value::DECIMAL(18,2))::DOUBLE) AS BIGINT) AS vi
         | FROM events GROUP BY 1, 2),
         |p AS (SELECT event_type, count(*)::BIGINT AS n,
         |  sum(vi)::BIGINT AS sv, sum(vi * vi)::BIGINT AS svv
         | FROM d GROUP BY 1),
         |m AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |  a.n AS na, b.n AS nb, a.sv AS sa, b.sv AS sb,
         |  a.svv AS saa, b.svv AS sbb
         | FROM p a JOIN p b ON a.event_type < b.event_type)
         |SELECT type_a, type_b, na, nb,
         | round(sa::DOUBLE / na, 4) AS mean_a,
         | round(sb::DOUBLE / nb, 4) AS mean_b,
         | CASE WHEN na >= 2 AND nb >= 2
         |   AND (na * saa - sa * sa) + (nb * sbb - sb * sb) > 0
         |  THEN round((sa::DOUBLE / na - sb::DOUBLE / nb)
         |   / sqrt((na * saa - sa * sa)::DOUBLE / (na * (na - 1)) / na
         |        + (nb * sbb - sb * sb)::DOUBLE / (nb * (nb - 1)) / nb), 4)
         | END AS t_welch,
         | coalesce(abs(CASE WHEN na >= 2 AND nb >= 2
         |   AND (na * saa - sa * sa) + (nb * sbb - sb * sb) > 0
         |  THEN round((sa::DOUBLE / na - sb::DOUBLE / nb)
         |   / sqrt((na * saa - sa * sa)::DOUBLE / (na * (na - 1)) / na
         |        + (nb * sbb - sb * sb)::DOUBLE / (nb * (nb - 1)) / nb), 4)
         | END) >= $TtestFlag, false) AS separated
         |FROM m ORDER BY type_a, type_b""".stripMargin,
    "stats_corr" ->
      """WITH d AS (SELECT event_type, ts::DATE AS day,
        |  CAST(round(sum(value::DECIMAL(18,2))::DOUBLE) AS BIGINT) AS vi
        | FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_days,
        |  sum(a.vi) AS sa, sum(b.vi) AS sb, sum(a.vi * b.vi) AS sab,
        |  sum(a.vi * a.vi) AS saa, sum(b.vi * b.vi) AS sbb
        | FROM d a JOIN d b ON a.day = b.day AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT type_a, type_b, n_days,
        | round((n_days * sab - sa * sb)::DOUBLE / n_days / (n_days - 1), 4) AS cov,
        | CASE WHEN (n_days * saa - sa * sa) > 0 AND (n_days * sbb - sb * sb) > 0
        |  THEN round((n_days * sab - sa * sb)::DOUBLE
        |    / sqrt((n_days * saa - sa * sa)::DOUBLE)
        |    / sqrt((n_days * sbb - sb * sb)::DOUBLE), 4) END AS pearson
        |FROM p WHERE n_days >= 2
        |ORDER BY type_a, type_b""".stripMargin)
}
