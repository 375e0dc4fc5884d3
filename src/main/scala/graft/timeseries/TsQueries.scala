package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Time-series operators over the `events` fact stream: calendar
  * densification (resample + gap fill) and range-frame moving statistics.
  * The reference works on daily crash batches (main.py:79-132) and its
  * frontend charts need dense daily series; these are the operators that
  * turn an irregular event stream into one.
  *
  * Scale posture: the fact table is touched exactly once, by a map-side
  * combinable groupBy onto (event_type, day) — everything downstream
  * (calendar explode, forward-fill window, range frame) runs on the
  * aggregated |types × days| rows, thousands of rows at 100 TB, not
  * billions. The explode multiplies a per-type min/max row, never facts.
  */
object TsQueries extends graft.QueryModule {

  /** Per-type daily aggregate — the single pass over the fact table that
    * both operators share. `minValue` thins to a sparse signal: the raw
    * daily stream is fully dense in the test data, so gap-fill semantics
    * would go unexercised without it. */
  private def daily(s: SparkSession, dir: String, minValue: Option[Double] = None): DataFrame = {
    val ev = Tables.events(s, dir)
    minValue.fold(ev)(v => ev.filter(col("value") >= v))
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      // value is an exact 2-decimal quantity: summing it as DECIMAL keeps
      // the daily total EXACT (order-independent) in both engines, so the
      // downstream integerization can never flip on a double-sum's last
      // ulp (the sf1 insurance run caught exactly that at 10x mass — r13);
      // the final cast back to double is the deterministic nearest-double
      // of one exact value, keeping every output type unchanged
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("raw_value"))
  }

  /** Daily resample with gap fill: densify each type's calendar from its
    * first to its last active day, mark gap days, and carry the last
    * observed daily value forward (last_value IGNORE NULLS). */
  def resampleDaily(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir, minValue = Some(200.0))
    val calendar = d.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    calendar.join(d, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("raw_value").isNull.as("is_gap"),
        round(last(col("raw_value"), ignoreNulls = true).over(w), 2).as("value_filled"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Trailing 7-day moving average per type via an integer RANGE frame on
    * epoch-day — the frame is day-distance-based, so it is correct across
    * gap days without densification. */
  def movingAvg(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-6, 0)
    d.select(col("event_type"), col("day"), col("epoch_day"),
        round(avg(col("raw_value")).over(w), 4).as("mavg7"),
        count(lit(1)).over(w).as("days_present"))
      .orderBy(col("event_type"), col("day"))
  }

  /** #34c Trailing z-score anomaly flags per (type, day): the daily value
    * against its own trailing 28-day history (EXCLUDING the current day, so
    * a spike cannot mask itself), flagged at |z| ≥ `AnomZ` once at least
    * `MinHistoryDays` of history exist — the monitoring pass an ingest
    * pipeline runs on its own volume stream (the reference eyeballs this
    * via its daily-run logs). Variance is computed from explicit window
    * sums (Σx, Σx², n) with plain arithmetic rather than stddev_samp — the
    * two engines' streaming-moment implementations differ numerically, the
    * explicit formula does not. Same single-fact-pass posture as the rest
    * of the family: windows run on the |types × days| aggregate. */
  val AnomZ = 3.0
  val MinHistoryDays = 7

  def anomaly(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-28, -1)
    val n = count(lit(1)).over(w)
    val sm = sum(col("raw_value")).over(w)
    val sq = sum(col("raw_value") * col("raw_value")).over(w)
    // the variance gate sits on a ROUNDED value (determinism checklist):
    // on a flat stream the raw difference sq - sm²/n is summation-order
    // noise (~1e-26) that one engine may see as positive and the other as
    // zero — dividing by its square root would then fabricate an enormous
    // z. Rounded at 6, both engines agree the stream is flat.
    val variance = round((sq - sm * sm / n) / (n - 1), 6)
    val z = when(n >= MinHistoryDays && variance > 0,
      round((col("raw_value") - sm / n) / sqrt(variance), 4))
    d.select(col("event_type"), col("day"),
        round(col("raw_value"), 2).as("raw_value"),
        n.as("hist_days"), z.as("z"),
        (z.isNotNull && abs(z) >= AnomZ).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** #34d Calendar densification with LINEAR interpolation: each gap day
    * takes the straight line between its two enclosing observations —
    * `ts_resample`'s last-observation-carried-forward is the step-function
    * sibling (the locf/interpolate pair every timeseries store exposes).
    * Interpolation arithmetic runs on the ROUNDED daily values
    * (determinism checklist: the raw groupBy sum carries summation-order
    * noise; rounding first makes every downstream IEEE op bit-identical
    * across engines, because +,−,×,÷ on identical doubles are exactly
    * specified). The calendar spans each type's first..last observed day,
    * so every gap day has both neighbors by construction — no edge
    * extrapolation case exists. Same scale posture as the family: windows
    * run on the |types × days| aggregate, never on facts. */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir, minValue = Some(200.0))
      .select(col("event_type"), col("day"), round(col("raw_value"), 2).as("v"))
    val calendar = d.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val j = calendar.join(d, Seq("event_type", "day"), "left")
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(0, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("epoch_day"))
    val pd = last(obsDay, ignoreNulls = true).over(wPrev)
    val pv = last(col("v"), ignoreNulls = true).over(wPrev)
    val nd = first(obsDay, ignoreNulls = true).over(wNext)
    val nv = first(col("v"), ignoreNulls = true).over(wNext)
    j.select(col("event_type"), col("day"), col("v").isNull.as("is_gap"),
        when(col("v").isNotNull, col("v"))
          .otherwise(round(pv + (nv - pv) * (col("epoch_day") - pd) / (nd - pd), 4))
          .as("value_interp"),
        when(col("v").isNull, nd - pd).as("span_days"))
      .orderBy(col("event_type"), col("day"))
  }

  /** #34e Weekday seasonal decomposition (STL-lite): v = trend + seasonal
    * + residual, where trend is the ±3-day centered moving average and the
    * seasonal term is each weekday's mean detrended deviation — the
    * decomposition that separates "Mondays are always slow" from "this
    * Monday was genuinely slow" (the reference's crash series has exactly
    * this weekday texture; `etl_dow_heatmap` shows the raw pattern, this
    * quantifies and removes it). Weekday index is pure integer arithmetic
    * ((epoch_day + 3) % 7, 0 = Monday) because the two engines disagree on
    * dayofweek() numbering; every averaged column is rounded per the
    * determinism checklist. Windows run on the |types × days| aggregate. */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
      .withColumn("dow", (col("epoch_day") + 3) % 7)
      .withColumn("v", round(col("raw_value"), 2))
      // cent-scaled BIGINT twin of v: window SUMS of integers are exact
      // and order-independent, where a window avg() of doubles carries
      // summation-order noise that can flip the 4th-decimal rounding on a
      // knife-edge (observed once the driver regenerated the test data)
      .withColumn("vi", round(col("v") * 100).cast("long"))
    val wTrend = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-3, 3)
    val wDow = Window.partitionBy(col("event_type"), col("dow"))
    val trend = round(sum(col("vi")).over(wTrend).cast("double") /
      count(lit(1)).over(wTrend) / 100.0, 4)
    val t = d.withColumn("trend", trend)
      .withColumn("resid", col("v") - col("trend"))
      // resid is a deterministic IEEE difference of two cross-engine-
      // identical doubles with ≤4 decimals; scale it exact
      .withColumn("ri", round(col("resid") * 10000).cast("long"))
    val seasonal = round(sum(col("ri")).over(wDow).cast("double") /
      count(lit(1)).over(wDow) / 10000.0, 4)
    t.select(col("event_type"), col("day"), col("dow"), col("v"), col("trend"),
        seasonal.as("seasonal"))
      .withColumn("deseasonal", round(col("v") - col("seasonal"), 4))
      .orderBy(col("event_type"), col("day"))
  }

  /** #34f Truncated exponential moving average per (type, day) — the
    * recency-weighted smoother every monitoring stack pairs with the flat
    * `ts_moving_avg` (decay ratio 3/4 ⇒ α = 1/4, truncated at
    * [[EwmaWindow]] days, renormalized over the days actually present so
    * gaps don't drag the estimate toward zero).
    *
    * The recursive EWMA definition is inherently sequential; this is its
    * exact truncated-window expansion, made order-independent by integer
    * arithmetic: weights are the common-denominator integers
    * 3^k · 4^(W−1−k) (so no float powers anywhere), daily values enter as
    * rounded cents (BIGINT), and each day's numerator/denominator are
    * plain integer sums — bit-exact under any partitioning, and the
    * oracle replays the identical weight table from one shared literal
    * list. Division happens once at the end on exactly-representable
    * integers (< 2^53), so the rounded quotient is also cross-engine
    * deterministic (the `sample_importance` common-denominator trick on a
    * time axis).
    *
    * Plan shape: the contribution fan-out is an explode(×W) on the
    * |types × days| AGGREGATE, never on facts, followed by one map-side
    * combinable groupBy on (type, target_day) and a join back to observed
    * days — at 100 TB the fact table is still touched exactly once. */
  val EwmaWindow = 14
  /** w(k) = 3^k · 4^(W−1−k), k = days back — one shared definition. */
  val EwmaWeights: Seq[Long] =
    (0 until EwmaWindow).map(k => math.pow(3, k).toLong * math.pow(4, EwmaWindow - 1 - k).toLong)

  def ewma(s: SparkSession, dir: String): DataFrame = {
    // persist: the daily aggregate feeds both the contribution fan-out and
    // the observed-day join-back — without it the FACT table is scanned and
    // re-aggregated twice (plan-checked in TsQueriesSpec)
    val d = graft.CacheRegistry.track(daily(s, dir)
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
      .withColumn("vc", round(col("raw_value") * 100).cast("long")))
    val wArr = array(EwmaWeights.map(lit): _*)
    val contrib = d.select(col("event_type"), col("epoch_day"), col("vc"))
      .withColumn("k", explode(sequence(lit(0), lit(EwmaWindow - 1))))
      .select(col("event_type"), (col("epoch_day") + col("k")).as("ted"),
        (col("vc") * element_at(wArr, col("k") + 1)).as("wv"),
        element_at(wArr, col("k") + 1).as("w"))
      .groupBy(col("event_type"), col("ted"))
      .agg(sum(col("wv")).as("num"), sum(col("w")).as("den"),
        count(lit(1)).as("days_present"))
      .withColumnRenamed("event_type", "c_type")
    d.join(contrib, col("c_type") === col("event_type") && col("epoch_day") === col("ted"))
      .select(col("event_type"), col("day"), round(col("raw_value"), 2).as("raw_value"),
        round(col("num").cast("double") / col("den") / 100.0, 4).as("ewma14"),
        col("days_present"))
      .orderBy(col("event_type"), col("day"))
  }

  /** #34g Offline changepoint scoring per type — "did this series' level
    * shift, and when?" (the reference's tallies change regime when a data
    * source is added; ingest monitoring needs the day). For every split
    * day t the statistic is the scaled mean-shift
    * |mean(≤t) − mean(>t)| · √(nl·nr/n) — the CUSUM-equivalent two-sample
    * form whose argmax is the standard single-changepoint estimator
    * (Hinkley 1970). The peak day per type is flagged.
    *
    * Determinism: daily values are whole-unit BIGINTs; left sums come
    * from one cumulative integer window, right sums by subtraction from
    * the per-type total — all exact — and the score is one fixed-form
    * IEEE expression over exact integers, so both engines compute
    * identical doubles. Peak choice is (score desc, day asc), total.
    *
    * Scale: windows run on the |types × days| aggregate, never facts. */
  def changepoint(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
      .withColumn("vi", round(col("raw_value")).cast("long"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    val t = d
      .withColumn("nl", count(lit(1)).over(wCum))
      .withColumn("sl", sum(col("vi")).over(wCum))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("st", sum(col("vi")).over(wAll))
      .withColumn("nr", col("n") - col("nl"))
      .filter(col("nr") >= 1L)
    val meanL = col("sl").cast("double") / col("nl")
    val meanR = (col("st") - col("sl")).cast("double") / col("nr")
    val score = round(abs(meanL - meanR) *
      sqrt((col("nl") * col("nr")).cast("double") / col("n")), 4)
    val scored = t.select(col("event_type"), col("day"), col("nl"), col("nr"),
      score.as("shift_score"))
    val wPeak = Window.partitionBy(col("event_type"))
      .orderBy(col("shift_score").desc, col("day"))
    scored
      .withColumn("is_peak", row_number().over(wPeak) === 1)
      .orderBy(col("event_type"), col("day"))
  }

  /** #34h Lag-k autocorrelation (ACF) per type over the daily series — the
    * periodicity detector that complements `ts_seasonality`'s fixed weekday
    * decomposition (a 7-day cycle shows as an ACF peak at lag 7 with no
    * prior knowledge of the period). Observed-pairs ACF: for each lag the
    * series joins itself on (type, epoch_day + lag) — an equi-join on the
    * |types × days| aggregate, never on facts — and the correlation uses
    * the `stats_corr` determinism contract verbatim: whole-unit BIGINT
    * daily values, five exact integer moment sums (order-independent under
    * any partitioning, fixed-point range n·Σab < 2^63 declared there), one
    * fixed-form IEEE expression at the end. The lag explode multiplies the
    * AGGREGATE ×7, not the fact table. */
  val AcfMaxLag = 7L
  val AcfMinPairs = 8L

  def autocorr(s: SparkSession, dir: String): DataFrame = {
    // persist: both sides of the lag self-join read the same daily aggregate
    val d = graft.CacheRegistry.track(
      daily(s, dir).select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"),
        round(col("raw_value")).cast("long").as("vi")))
    val a = d.select(col("event_type"), col("ed"), col("vi").as("va"))
      .withColumn("lag", explode(sequence(lit(1L), lit(AcfMaxLag))))
      .withColumn("jed", col("ed") + col("lag"))
    val b = d.select(col("event_type"), col("ed").as("jed"), col("vi").as("vb"))
    val m = a.join(b, Seq("event_type", "jed"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("va")).as("sa"), sum(col("vb")).as("sb"),
        sum(col("va") * col("vb")).as("sab"),
        sum(col("va") * col("va")).as("saa"),
        sum(col("vb") * col("vb")).as("sbb"))
    val n = col("n_pairs")
    val num = (n * col("sab") - col("sa") * col("sb")).cast("double")
    val varA = (n * col("saa") - col("sa") * col("sa")).cast("double")
    val varB = (n * col("sbb") - col("sb") * col("sb")).cast("double")
    m.filter(n >= AcfMinPairs)
      .select(col("event_type"), col("lag"), n,
        when(varA > 0 && varB > 0,
          round(num / sqrt(varA) / sqrt(varB), 4)).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** #34i Seasonal-naive forecast — the capacity-planning readout on top
    * of the decomposition family (`ts_seasonality` explains the past, this
    * projects the next [[ForecastH]] days): forecast(d) = level +
    * seasonal(weekday(d)), where level is the mean of the last
    * [[LevelDays]] OBSERVED daily values and seasonal is the weekday mean's
    * deviation from the all-history mean. Everything reduces to exact
    * cent-scaled BIGINT sums (order-independent) with the divisions and the
    * final add in one fixed-form IEEE expression — the determinism
    * checklist — so the oracle replays it exactly. An unobserved weekday
    * contributes zero seasonal. All windows/joins run on the
    * |types × days| aggregate, never facts; the horizon explode multiplies
    * the |types|-row level frame ×7. */
  val ForecastH = 7L
  val LevelDays = 7L

  def forecast(s: SparkSession, dir: String): DataFrame = {
    // persist: three consumers (recency level, weekday means, all-history mean)
    val base = graft.CacheRegistry.track(
      daily(s, dir).select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"),
        round(round(col("raw_value"), 2) * 100).cast("long").as("vi")))
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("ed").desc)
    val lvl = base.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= LevelDays)
      .groupBy(col("event_type"))
      .agg(sum(col("vi")).as("sl"), count(lit(1)).as("nl"), max(col("ed")).as("last_ed"))
    val dowAgg = base.withColumn("dow", (col("ed") + 3) % 7)
      .groupBy(col("event_type"), col("dow"))
      .agg(sum(col("vi")).as("sd"), count(lit(1)).as("nd"))
    val allAgg = base.groupBy(col("event_type"))
      .agg(sum(col("vi")).as("sa"), count(lit(1)).as("na"))
    val level = col("sl").cast("double") / col("nl") / 100.0
    val seasonal = coalesce(
      col("sd").cast("double") / col("nd") / 100.0 -
        col("sa").cast("double") / col("na") / 100.0, lit(0.0))
    lvl.join(allAgg, Seq("event_type"))
      .withColumn("h", explode(sequence(lit(1L), lit(ForecastH))))
      .withColumn("fed", col("last_ed") + col("h"))
      .withColumn("dow", (col("fed") + 3) % 7)
      .join(dowAgg, Seq("event_type", "dow"), "left")
      .select(col("event_type"),
        expr("date_add(date '1970-01-01', cast(fed as int))").as("day"),
        col("h"), col("dow"),
        round(level, 4).as("level"),
        round(seasonal, 4).as("seasonal"),
        round(level + seasonal, 4).as("forecast"))
      .orderBy(col("event_type"), col("h"))
  }

  /** #34j MAD-based robust outlier flags per (type, day) — the
    * median-absolute-deviation twin of `ts_anomaly`'s z-score: mean/stddev
    * are themselves dragged by the outliers they should flag (a 100×
    * spike inflates σ enough to hide a 10× one), medians are not
    * (breakdown point 50% vs 0). Flag |v − median| > 3 · 1.4826 · MAD
    * (1.4826 = the consistency constant making MAD estimate σ under
    * normality). Medians are exact interpolated order statistics over
    * whole-unit BIGINT daily values — midpoints land on .0/.5, exactly
    * representable, so both engines agree bit-for-bit (the
    * `text_length_stats` percentile contract); at 100 TB the documented
    * swap is `percentile_approx`/reservoir per type. MAD = 0 (over half
    * the days identical) degenerates to flagging any deviation — the
    * standard caveat, declared. Two |types|-key aggregates + joins back
    * to the tracked \|types × days\| aggregate; facts touched once. */
  val MadK = 3.0
  val MadC = 1.4826

  def outlierMad(s: SparkSession, dir: String): DataFrame = {
    // persist: three consumers (median agg, deviation frame, output join)
    val d = graft.CacheRegistry.track(
      daily(s, dir).select(col("event_type"), col("day"),
        round(col("raw_value")).cast("long").as("vi")))
    val med = d.groupBy(col("event_type"))
      .agg(expr("percentile(vi, 0.5)").as("med"))
    val dev = d.join(med, Seq("event_type"))
      .withColumn("adev", abs(col("vi") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, Seq("event_type"))
      .select(col("event_type"), col("day"), col("vi"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"),
        (col("adev") > lit(MadK) * lit(MadC) * col("mad")).as("is_outlier"))
      .orderBy(col("event_type"), col("day"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_outlier_mad" -> (outlierMad _),
    "ts_forecast"   -> (forecast _),
    "ts_autocorr"   -> (autocorr _),
    "ts_changepoint" -> (changepoint _),
    "ts_ewma"       -> (ewma _),
    "ts_resample"   -> (resampleDaily _),
    "ts_moving_avg" -> (movingAvg _),
    "ts_anomaly"    -> (anomaly _),
    "ts_interpolate" -> (interpolate _),
    "ts_seasonality" -> (seasonality _))

  private def dailySqlWhere(where: String = "") =
    s"""SELECT event_type, ts::DATE AS day, count(*) AS n_events,
       | sum(value::DECIMAL(18,2))::DOUBLE AS raw_value
       |FROM events $where GROUP BY 1, 2""".stripMargin
  private val dailySql = dailySqlWhere()

  private val sparseDailySql = dailySqlWhere("WHERE value >= 200.0")

  val oracles: Map[String, String] = Map(
    "ts_outlier_mad" ->
      s"""WITH d0 AS ($dailySql),
         |b AS (SELECT event_type, day, CAST(round(raw_value) AS BIGINT) AS vi FROM d0),
         |md AS (SELECT event_type, quantile_cont(vi, 0.5) AS med FROM b GROUP BY 1),
         |dv AS (SELECT b.event_type, b.day, b.vi, md.med,
         |  abs(b.vi - md.med) AS adev FROM b JOIN md USING (event_type)),
         |md2 AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dv GROUP BY 1)
         |SELECT dv.event_type, dv.day, dv.vi,
         | round(dv.med, 4) AS med, round(md2.mad, 4) AS mad,
         | (dv.adev > $MadK * $MadC * md2.mad) AS is_outlier
         |FROM dv JOIN md2 USING (event_type)
         |ORDER BY dv.event_type, dv.day""".stripMargin,
    "ts_forecast" ->
      s"""WITH d0 AS ($dailySql),
         |b AS (SELECT event_type, (day - DATE '1970-01-01')::BIGINT AS ed,
         |  CAST(round(round(raw_value, 2) * 100) AS BIGINT) AS vi FROM d0),
         |lvl AS (SELECT event_type, sum(vi)::BIGINT AS sl, count(*)::BIGINT AS nl,
         |  max(ed)::BIGINT AS last_ed FROM (
         |   SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ed DESC) AS rn
         |   FROM b) t WHERE rn <= $LevelDays GROUP BY event_type),
         |dw AS (SELECT event_type, (ed + 3) % 7 AS dow,
         |  sum(vi)::BIGINT AS sd, count(*)::BIGINT AS nd FROM b GROUP BY 1, 2),
         |al AS (SELECT event_type, sum(vi)::BIGINT AS sa, count(*)::BIGINT AS na
         | FROM b GROUP BY 1),
         |f AS (SELECT lvl.event_type, lvl.sl, lvl.nl, lvl.last_ed, al.sa, al.na,
         |  unnest(range(1, ${ForecastH + 1})) AS h
         | FROM lvl JOIN al USING (event_type)),
         |j AS (SELECT f.*, (f.last_ed + f.h) AS fed,
         |  ((f.last_ed + f.h) + 3) % 7 AS dow FROM f)
         |SELECT j.event_type,
         | DATE '1970-01-01' + fed::INT AS day,
         | h, j.dow AS dow,
         | round(sl::DOUBLE / nl / 100.0, 4) AS level,
         | round(coalesce(dw.sd::DOUBLE / dw.nd / 100.0
         |   - sa::DOUBLE / na / 100.0, 0.0), 4) AS seasonal,
         | round(sl::DOUBLE / nl / 100.0 + coalesce(dw.sd::DOUBLE / dw.nd / 100.0
         |   - sa::DOUBLE / na / 100.0, 0.0), 4) AS forecast
         |FROM j LEFT JOIN dw ON dw.event_type = j.event_type AND dw.dow = j.dow
         |ORDER BY j.event_type, h""".stripMargin,
    "ts_autocorr" ->
      s"""WITH d AS ($dailySql),
         |r AS (SELECT event_type, (day - DATE '1970-01-01')::BIGINT AS ed,
         |  CAST(round(raw_value) AS BIGINT) AS vi FROM d),
         |l AS (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag),
         |p AS (SELECT a.event_type, l.lag, count(*)::BIGINT AS n_pairs,
         |  sum(a.vi) AS sa, sum(b.vi) AS sb, sum(a.vi * b.vi) AS sab,
         |  sum(a.vi * a.vi) AS saa, sum(b.vi * b.vi) AS sbb
         | FROM r a CROSS JOIN l
         | JOIN r b ON b.event_type = a.event_type AND b.ed = a.ed + l.lag
         | GROUP BY 1, 2)
         |SELECT event_type, lag, n_pairs,
         | CASE WHEN (n_pairs * saa - sa * sa) > 0 AND (n_pairs * sbb - sb * sb) > 0
         |  THEN round((n_pairs * sab - sa * sb)::DOUBLE
         |    / sqrt((n_pairs * saa - sa * sa)::DOUBLE)
         |    / sqrt((n_pairs * sbb - sb * sb)::DOUBLE), 4) END AS acf
         |FROM p WHERE n_pairs >= $AcfMinPairs
         |ORDER BY event_type, lag""".stripMargin,
    "ts_changepoint" ->
      s"""WITH d AS ($dailySql),
         |r AS (SELECT event_type, day, (day - DATE '1970-01-01')::BIGINT AS ed,
         |  CAST(round(raw_value) AS BIGINT) AS vi FROM d),
         |c AS (SELECT event_type, day,
         |  count(*) OVER wc AS nl, sum(vi) OVER wc AS sl,
         |  count(*) OVER wa AS n, sum(vi) OVER wa AS st
         | FROM r WINDOW
         |  wc AS (PARTITION BY event_type ORDER BY ed
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wa AS (PARTITION BY event_type)),
         |sc AS (SELECT event_type, day, nl, (n - nl) AS nr,
         |  round(abs(sl::DOUBLE / nl - (st - sl)::DOUBLE / (n - nl)) *
         |   sqrt((nl * (n - nl))::DOUBLE / n), 4) AS shift_score
         | FROM c WHERE (n - nl) >= 1)
         |SELECT event_type, day, nl, nr, shift_score,
         | (row_number() OVER (PARTITION BY event_type
         |   ORDER BY shift_score DESC, day) = 1) AS is_peak
         |FROM sc ORDER BY event_type, day""".stripMargin,
    "ts_ewma" -> {
      val wvals = EwmaWeights.zipWithIndex
        .map { case (w, k) => s"($k, ${w}::BIGINT)" }.mkString(", ")
      s"""WITH d AS ($dailySql),
         |r AS (SELECT event_type, day, (day - DATE '1970-01-01')::BIGINT AS ed,
         |  CAST(round(raw_value * 100) AS BIGINT) AS vc,
         |  round(raw_value, 2) AS rv FROM d),
         |wt(k, w) AS (VALUES $wvals),
         |g AS (SELECT r.event_type, r.ed + wt.k AS ted, sum(r.vc * wt.w) AS num,
         |  sum(wt.w) AS den, count(*) AS days_present
         | FROM r CROSS JOIN wt GROUP BY 1, 2)
         |SELECT r.event_type, r.day, r.rv AS raw_value,
         | round((num::DOUBLE / den) / 100.0, 4) AS ewma14, days_present
         |FROM r JOIN g ON g.event_type = r.event_type AND g.ted = r.ed
         |ORDER BY r.event_type, r.day""".stripMargin
    },
    "ts_resample" ->
      s"""WITH d AS ($sparseDailySql),
         |cal AS (
         | SELECT event_type, unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
         | FROM d GROUP BY event_type)
         |SELECT cal.event_type, cal.day,
         | coalesce(d.n_events, 0) AS n_events,
         | d.raw_value IS NULL AS is_gap,
         | round(last_value(d.raw_value IGNORE NULLS) OVER (
         |   PARTITION BY cal.event_type ORDER BY cal.day
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value_filled
         |FROM cal LEFT JOIN d ON cal.event_type = d.event_type AND cal.day = d.day
         |ORDER BY cal.event_type, cal.day""".stripMargin,
    "ts_moving_avg" ->
      s"""WITH d AS ($dailySql)
         |SELECT event_type, day, (day - DATE '1970-01-01')::BIGINT AS epoch_day,
         | round(avg(raw_value) OVER w, 4) AS mavg7,
         | count(*) OVER w AS days_present
         |FROM d
         |WINDOW w AS (PARTITION BY event_type ORDER BY (day - DATE '1970-01-01')
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, day""".stripMargin,
    "ts_anomaly" ->
      s"""WITH d AS ($dailySql),
         |s AS (
         | SELECT event_type, day, raw_value,
         |  count(*) OVER w AS hist_days,
         |  sum(raw_value) OVER w AS sm,
         |  sum(raw_value * raw_value) OVER w AS sq
         | FROM d
         | WINDOW w AS (PARTITION BY event_type ORDER BY (day - DATE '1970-01-01')
         |   RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)),
         |zt AS (
         | SELECT event_type, day, round(raw_value, 2) AS raw_value, hist_days,
         |  CASE WHEN hist_days >= $MinHistoryDays
         |        AND round((sq - sm * sm / hist_days) / (hist_days - 1), 6) > 0
         |   THEN round((raw_value - sm / hist_days)
         |     / sqrt(round((sq - sm * sm / hist_days) / (hist_days - 1), 6)), 4) END AS z
         | FROM s)
         |SELECT event_type, day, raw_value, hist_days, z,
         | (z IS NOT NULL AND abs(z) >= $AnomZ) AS is_anomaly
         |FROM zt ORDER BY event_type, day""".stripMargin,
    "ts_interpolate" ->
      s"""WITH d0 AS ($sparseDailySql),
         |r AS (SELECT event_type, day, round(raw_value, 2) AS v FROM d0),
         |cal AS (
         | SELECT event_type, unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
         | FROM r GROUP BY event_type),
         |j AS (
         | SELECT cal.event_type, cal.day,
         |  (cal.day - DATE '1970-01-01')::BIGINT AS epoch_day, r.v
         | FROM cal LEFT JOIN r ON cal.event_type = r.event_type AND cal.day = r.day),
         |w AS (
         | SELECT *,
         |  last_value(CASE WHEN v IS NOT NULL THEN epoch_day END IGNORE NULLS) OVER wp AS pd,
         |  last_value(v IGNORE NULLS) OVER wp AS pv,
         |  first_value(CASE WHEN v IS NOT NULL THEN epoch_day END IGNORE NULLS) OVER wn AS nd,
         |  first_value(v IGNORE NULLS) OVER wn AS nv
         | FROM j
         | WINDOW
         |  wp AS (PARTITION BY event_type ORDER BY epoch_day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY event_type ORDER BY epoch_day
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, day, v IS NULL AS is_gap,
         | CASE WHEN v IS NOT NULL THEN v
         |      ELSE round(pv + (nv - pv) * (epoch_day - pd) / (nd - pd), 4) END AS value_interp,
         | CASE WHEN v IS NULL THEN nd - pd END AS span_days
         |FROM w ORDER BY event_type, day""".stripMargin,
    "ts_seasonality" ->
      s"""WITH d0 AS ($dailySql),
         |d AS (SELECT event_type, day,
         |  (day - DATE '1970-01-01')::BIGINT AS epoch_day,
         |  ((day - DATE '1970-01-01')::BIGINT + 3) % 7 AS dow,
         |  round(raw_value, 2) AS v,
         |  CAST(round(round(raw_value, 2) * 100) AS BIGINT) AS vi
         | FROM d0),
         |t AS (SELECT *,
         |  round((sum(vi) OVER (PARTITION BY event_type ORDER BY epoch_day
         |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING))::DOUBLE /
         |   (count(*) OVER (PARTITION BY event_type ORDER BY epoch_day
         |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)) / 100.0, 4) AS trend
         | FROM d),
         |r AS (SELECT *, v - trend AS resid,
         |  CAST(round((v - trend) * 10000) AS BIGINT) AS ri FROM t),
         |sn AS (SELECT *,
         |  round((sum(ri) OVER wd)::DOUBLE / (count(*) OVER wd) / 10000.0, 4) AS seasonal
         | FROM r WINDOW wd AS (PARTITION BY event_type, dow))
         |SELECT event_type, day, dow, v, trend, seasonal,
         | round(v - seasonal, 4) AS deseasonal
         |FROM sn ORDER BY event_type, day""".stripMargin)
}
