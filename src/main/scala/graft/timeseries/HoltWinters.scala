package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #34p `ts_holtwinters` — truncated Holt-Winters forecast per type: level
  * + trend + additive weekday seasonal, the standard upgrade over
  * `ts_forecast`'s seasonal-naive (which projects a FLAT level; a steadily
  * growing ingest volume is under-forecast by exactly the trend the
  * capacity planner needed to see).
  *
  * Formulation — exponentially-DISCOUNTED LEAST SQUARES + frozen seasonal
  * indices, chosen because it is (a) textbook-equivalent to Holt's
  * exponential level+trend smoothing (discounted-LS ≡ Holt — Brown 1963,
  * "Smoothing, Forecasting and Prediction"), and (b) expressible as exact
  * windowed integer moments, where the coupled l/b/s recurrences would be
  * a sequential float chain no SQL oracle could replay:
  *
  *  1. SEASONAL (frozen indices, the `ts_seasonality`/`ts_forecast`
  *     estimator): s(dow) = weekday mean − all-history mean, computed from
  *     exact cent-scaled BIGINT sums and ROUNDED TO INTEGER CENTS — so the
  *     deseasonalized series stays BIGINT.
  *  2. LEVEL + TREND: over the last [[TsQueries.EwmaWindow]] calendar days
  *     (gap-aware: k = days back from the type's last observed day),
  *     weight w(k) = the shared [[TsQueries.EwmaWeights]] integer table
  *     (3^k·4^(W−1−k) — the `ts_ewma` common-denominator trick), fit
  *     x ≈ level − trend·k by weighted least squares. The five moments
  *     Σw, Σwk, Σwk², Σwx, Σwkx are exact order-independent BIGINTs
  *     (range declared: safe for daily |values| < ~3·10⁸ cents at W=14);
  *     slope and intercept are ONE fixed-form IEEE expression each over
  *     those moments (the `stats_corr` contract — products taken in
  *     double to dodge the n·Σx² BIGINT overflow, identical form both
  *     engines). A type with a single observed window day has zero
  *     discriminant and declares trend = 0.
  *  3. FORECAST h = 1..[[TsQueries.ForecastH]]:
  *     level + h·trend + s(dow(t+h)), one fixed-form expression, round 4.
  *
  * Scale: one fact pass to the |types × days| daily aggregate (the shared
  * posture); seasonal/level/trend are |types|- or |types×7|-key map-side
  * aggregates; the horizon explode multiplies the |types|-row moment frame
  * ×7. Nothing but aggregates of the daily frame ever shuffles. */
object HoltWinters extends graft.QueryModule {

  import TsQueries.{EwmaWindow, EwmaWeights, ForecastH}

  /** Core over an explicit daily-cents frame (event_type, ed, vi) — split
    * out so the spec can plant exact anchors (constant and pure-seasonal
    * series recover level/trend/seasonal EXACTLY). */
  private[timeseries] def hwFrom(base0: DataFrame): DataFrame = {
    val base = graft.CacheRegistry.track(
      base0.withColumn("dow", (col("ed") + 3) % 7))
    val dowAgg = base.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("vi")).as("sd"), count(lit(1)).as("nd"))
    val allAgg = base.groupBy(col("event_type"))
      .agg(sum(col("vi")).as("sa"), count(lit(1)).as("na"),
        max(col("ed")).as("last_ed"))
    // frozen additive seasonal index, integer cents
    val s0 = graft.CacheRegistry.track(
      dowAgg.join(allAgg, Seq("event_type"))
        .select(col("event_type"), col("dow"),
          round(col("sd").cast("double") / col("nd") -
            col("sa").cast("double") / col("na")).cast("long").as("s0c")))
    val wArr = array(EwmaWeights.map(lit): _*)
    val xw = base
      .join(allAgg.select(col("event_type"), col("last_ed")), Seq("event_type"))
      .filter(col("ed") > col("last_ed") - EwmaWindow)
      .join(s0, Seq("event_type", "dow"))
      .select(col("event_type"), col("last_ed"),
        (col("last_ed") - col("ed")).as("k"),
        (col("vi") - col("s0c")).as("x"))
      .withColumn("w", element_at(wArr, (col("k") + 1).cast("int")))
    val mom = xw.groupBy(col("event_type"))
      .agg(max(col("last_ed")).as("last_ed"),
        sum(col("w")).as("sw"),
        sum(col("w") * col("k")).as("sk"),
        sum(col("w") * col("k") * col("k")).as("skk"),
        sum(col("w") * col("x")).as("sx"),
        sum(col("w") * col("k") * col("x")).as("skx"))
    def d(c: String): Column = col(c).cast("double")
    val disc = d("sw") * d("skk") - d("sk") * d("sk")
    val slopeBack = when(disc > 0,
      (d("sw") * d("skx") - d("sk") * d("sx")) / disc).otherwise(lit(0.0))
    val levelC = (d("sx") - slopeBack * d("sk")) / d("sw")
    val trendC = -slopeBack
    mom
      .withColumn("h", explode(sequence(lit(1L), lit(ForecastH))))
      .withColumn("fed", col("last_ed") + col("h"))
      .withColumn("dow", (col("fed") + 3) % 7)
      .join(s0, Seq("event_type", "dow"), "left")
      .select(col("event_type"),
        expr("date_add(date '1970-01-01', cast(fed as int))").as("day"),
        col("h"), col("dow"),
        round(levelC / 100.0, 4).as("level"),
        round(trendC / 100.0, 4).as("trend"),
        round(coalesce(col("s0c"), lit(0L)).cast("double") / 100.0, 4).as("seasonal"),
        round((levelC + col("h") * trendC +
          coalesce(col("s0c"), lit(0L)).cast("double")) / 100.0, 4).as("forecast"))
      .orderBy(col("event_type"), col("h"))
  }

  def holtwinters(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("raw_value"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"),
        round(round(col("raw_value"), 2) * 100).cast("long").as("vi"))
    hwFrom(base)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_holtwinters" -> (holtwinters _))

  val oracles: Map[String, String] = Map(
    "ts_holtwinters" -> {
      val wvals = EwmaWeights.zipWithIndex
        .map { case (w, k) => s"($k, ${w}::BIGINT)" }.mkString(", ")
      s"""WITH d0 AS (SELECT event_type, ts::DATE AS day, sum(value::DECIMAL(18,2))::DOUBLE AS raw_value
         | FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, (day - DATE '1970-01-01')::BIGINT AS ed,
         |  CAST(round(round(raw_value, 2) * 100) AS BIGINT) AS vi,
         |  ((day - DATE '1970-01-01')::BIGINT + 3) % 7 AS dow FROM d0),
         |dw AS (SELECT event_type, dow, sum(vi)::BIGINT AS sd,
         |  count(*)::BIGINT AS nd FROM b GROUP BY 1, 2),
         |al AS (SELECT event_type, sum(vi)::BIGINT AS sa, count(*)::BIGINT AS na,
         |  max(ed)::BIGINT AS last_ed FROM b GROUP BY 1),
         |s0 AS (SELECT dw.event_type, dw.dow,
         |  CAST(round(sd::DOUBLE / nd - sa::DOUBLE / na) AS BIGINT) AS s0c
         | FROM dw JOIN al USING (event_type)),
         |wt(k, w) AS (VALUES $wvals),
         |xw AS (SELECT b.event_type, al.last_ed, (al.last_ed - b.ed) AS k,
         |  (b.vi - s0.s0c) AS x, wt.w
         | FROM b JOIN al USING (event_type)
         | JOIN s0 ON s0.event_type = b.event_type AND s0.dow = b.dow
         | JOIN wt ON wt.k = (al.last_ed - b.ed)
         | WHERE b.ed > al.last_ed - $EwmaWindow),
         |mom AS (SELECT event_type, max(last_ed) AS last_ed,
         |  sum(w)::BIGINT AS sw, sum(w * k)::BIGINT AS sk,
         |  sum(w * k * k)::BIGINT AS skk, sum(w * x)::BIGINT AS sx,
         |  sum(w * k * x)::BIGINT AS skx
         | FROM xw GROUP BY event_type),
         |sl AS (SELECT *,
         |  CASE WHEN (sw::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE) > 0
         |   THEN (sw::DOUBLE * skx::DOUBLE - sk::DOUBLE * sx::DOUBLE)
         |     / (sw::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE)
         |   ELSE 0.0 END AS slope_back
         | FROM mom),
         |f AS (SELECT sl.*, unnest(range(1, ${ForecastH + 1})) AS h FROM sl),
         |j AS (SELECT f.*, (f.last_ed + f.h) AS fed,
         |  ((f.last_ed + f.h) + 3) % 7 AS dow FROM f)
         |SELECT j.event_type,
         | DATE '1970-01-01' + fed::INT AS day, h, j.dow AS dow,
         | round((sx::DOUBLE - slope_back * sk::DOUBLE) / sw::DOUBLE / 100.0, 4)
         |  AS level,
         | round(-slope_back / 100.0, 4) AS trend,
         | round(coalesce(s0.s0c, 0)::DOUBLE / 100.0, 4) AS seasonal,
         | round(((sx::DOUBLE - slope_back * sk::DOUBLE) / sw::DOUBLE
         |   + h * (-slope_back) + coalesce(s0.s0c, 0)::DOUBLE) / 100.0, 4)
         |  AS forecast
         |FROM j LEFT JOIN s0 ON s0.event_type = j.event_type AND s0.dow = j.dow
         |ORDER BY j.event_type, h""".stripMargin
    })
}
