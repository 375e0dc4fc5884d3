package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #34k `ts_cross_corr` — lead-lag cross-correlation between event-type
  * pairs (SURVEY.md §2).
  *
  * The "does stream A predict stream B tomorrow?" detector: `stats_corr`
  * answers only the same-day question, `ts_autocorr` only the
  * self-periodicity one — the cross-correlation function at lags
  * −[[MaxLag]]..+[[MaxLag]] is what finds the pipeline-latency /
  * cause-effect offset between two feeds (a positive peak lag means
  * type_a leads type_b by that many days). Per pair the peak row — max
  * |r|, ties to the smallest then most-negative lag, a total order — is
  * flagged so a dashboard reads one row per pair.
  *
  * Determinism contract (`stats_corr` verbatim): whole-unit BIGINT daily
  * values, five exact integer moment sums per (pair, lag) — order-
  * independent under any partitioning — one fixed-form IEEE Pearson at the
  * end, and peak selection on the ROUNDED statistic through a total order.
  *
  * Scale posture: one fact pass → the |types × days| daily aggregate
  * (cached: both join sides read it); the lag explode multiplies the
  * AGGREGATE ×(2·MaxLag+1), never facts; the pair join keys on
  * (event_type, day) — uniform by construction; the peak window partitions
  * by pair over ≤ 2·MaxLag+1 rows. */
object CrossCorr extends graft.QueryModule {

  val MaxLag = 7L
  val MinPairs = 8L

  def crossCorr(s: SparkSession, dir: String): DataFrame = {
    // persist: both sides of the lagged pair join read the same daily aggregate
    val d = graft.CacheRegistry.track(
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi"))
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"), col("vi")))
    val a = d.select(col("event_type").as("type_a"), col("ed"), col("vi").as("va"))
    val b = d.select(col("event_type").as("type_b"), col("ed").as("bed"), col("vi").as("vb"))
      .withColumn("lag", explode(sequence(lit(-MaxLag), lit(MaxLag))))
      .withColumn("ed", col("bed") - col("lag"))
    val m = a.join(b, Seq("ed")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("va")).as("sa"), sum(col("vb")).as("sb"),
        sum(col("va") * col("vb")).as("sab"),
        sum(col("va") * col("va")).as("saa"),
        sum(col("vb") * col("vb")).as("sbb"))
    val n = col("n_days")
    val num = (n * col("sab") - col("sa") * col("sb")).cast("double")
    val varA = (n * col("saa") - col("sa") * col("sa")).cast("double")
    val varB = (n * col("sbb") - col("sb") * col("sb")).cast("double")
    val scored = m.filter(n >= MinPairs)
      .select(col("type_a"), col("type_b"), col("lag"), n,
        when(varA > 0 && varB > 0,
          round(num / sqrt(varA) / sqrt(varB), 4)).as("ccf"))
    val peak = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(coalesce(abs(col("ccf")), lit(-1.0)).desc, abs(col("lag")), col("lag"))
    scored
      .withColumn("is_peak", row_number().over(peak) === 1)
      .orderBy(col("type_a"), col("type_b"), col("lag"))
  }

  /** #34m `ts_trend` — OLS linear trend per type over its daily series:
    * slope (units/day), intercept at the type's FIRST observed day (the
    * interpretable anchor — an epoch-0 intercept extrapolates 54 years),
    * and R² — the "is this feed structurally growing, and how fast?"
    * readout (`ts_changepoint` finds WHERE the level moved; the trend line
    * says WHETHER there is a sustained drift and its rate). `trending`
    * flags a fit that explains most variance (R² ≥ [[TrendR2]]) with a
    * material rate (|slope| ≥ [[TrendSlope]] units/day).
    *
    * Determinism (`stats_corr` contract): x is the day offset from the
    * type's min day (small integers — keeps every moment far from 2^63),
    * y the whole-unit BIGINT daily value; the five moment sums are exact
    * integer aggregates and slope/intercept/R² are fixed-form IEEE
    * expressions over them, flags compared on the unrounded forms
    * identically in both engines. One fact pass → |types × days|
    * aggregate; everything else runs on |types| rows. */
  val TrendR2 = 0.5
  val TrendSlope = 1.0

  def trend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"), col("vi"))
    val withX = daily
      .withColumn("x", col("ed") - min(col("ed")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
    val m = withX.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("vi")).as("sy"),
        sum(col("x") * col("vi")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("vi") * col("vi")).as("syy"))
    val n = col("n")
    val dxx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val dyy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    val dxy = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val slope = dxy / dxx
    val intercept = (col("sy").cast("double") - slope * col("sx")) / n
    val r2 = dxy * dxy / dxx / dyy
    m.filter(n >= 2)
      .select(col("event_type"), n.as("n_days"),
        round(slope, 6).as("slope"),
        round(intercept, 4).as("intercept"),
        when(dxx > 0 && dyy > 0, round(r2, 4)).as("r2"),
        // zero-variance y: no trend by definition (and ANSI forbids the /0)
        coalesce(when(dxx > 0 && dyy > 0,
          r2 >= TrendR2 && abs(slope) >= TrendSlope), lit(false)).as("trending"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_cross_corr" -> (crossCorr _),
    "ts_trend" -> (trend _))

  val oracles: Map[String, String] = Map(
    "ts_trend" ->
      s"""WITH d AS (SELECT event_type, (ts::DATE - DATE '1970-01-01') AS ed,
         |  CAST(round(sum(value::DECIMAL(18,2))::DOUBLE) AS BIGINT) AS vi
         | FROM events GROUP BY event_type, ts::DATE),
         |x AS (SELECT event_type,
         |  ed - min(ed) OVER (PARTITION BY event_type) AS x, vi FROM d),
         |m AS (SELECT event_type, count(*)::BIGINT AS n,
         |  sum(x)::BIGINT AS sx, sum(vi)::BIGINT AS sy,
         |  sum(x * vi)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         |  sum(vi * vi)::BIGINT AS syy
         | FROM x GROUP BY 1)
         |SELECT event_type, n AS n_days,
         | round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx), 6) AS slope,
         | round((sy::DOUBLE - (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx) * sx)
         |   / n, 4) AS intercept,
         | CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |  THEN round((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
         |    / (n * sxx - sx * sx) / (n * syy - sy * sy), 4) END AS r2,
         | coalesce(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |  THEN (n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
         |    / (n * sxx - sx * sx) / (n * syy - sy * sy) >= $TrendR2
         |   AND abs((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)) >= $TrendSlope
         |  END, false) AS trending
         |FROM m WHERE n >= 2 ORDER BY event_type""".stripMargin,
    "ts_cross_corr" ->
      s"""WITH d AS (SELECT event_type, (ts::DATE - DATE '1970-01-01') AS ed,
         |  CAST(round(sum(value::DECIMAL(18,2))::DOUBLE) AS BIGINT) AS vi
         | FROM events GROUP BY event_type, ts::DATE),
         |l AS (SELECT unnest(range(-$MaxLag, ${MaxLag + 1})) AS lag),
         |m AS (SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         |  count(*)::BIGINT AS n_days,
         |  sum(a.vi)::BIGINT AS sa, sum(b.vi)::BIGINT AS sb,
         |  sum(a.vi * b.vi)::BIGINT AS sab,
         |  sum(a.vi * a.vi)::BIGINT AS saa, sum(b.vi * b.vi)::BIGINT AS sbb
         | FROM d a, l, d b
         | WHERE a.event_type < b.event_type AND b.ed = a.ed + l.lag
         | GROUP BY 1, 2, 3),
         |sc AS (SELECT type_a, type_b, lag, n_days,
         |  CASE WHEN (n_days * saa - sa * sa) > 0 AND (n_days * sbb - sb * sb) > 0
         |   THEN round((n_days * sab - sa * sb)::DOUBLE
         |     / sqrt((n_days * saa - sa * sa)::DOUBLE)
         |     / sqrt((n_days * sbb - sb * sb)::DOUBLE), 4) END AS ccf
         | FROM m WHERE n_days >= $MinPairs)
         |SELECT type_a, type_b, lag, n_days, ccf,
         | row_number() OVER (PARTITION BY type_a, type_b
         |   ORDER BY coalesce(abs(ccf), -1) DESC, abs(lag), lag) = 1 AS is_peak
         |FROM sc ORDER BY type_a, type_b, lag""".stripMargin)
}
