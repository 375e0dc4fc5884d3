package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #34l `ts_rolling_quantile` — exact trailing order statistics per day
  * (SURVEY.md §2).
  *
  * The ops-dashboard metric family `ts_moving_avg` cannot provide: the
  * trailing 7-day MEDIAN and P90 of each type's daily volume (means are
  * dragged by spikes — the on-call question is "is today above the recent
  * p90?", not "above the mean"). Quantiles are computed over the OBSERVED
  * days in the trailing window, gap-correct like the RANGE-frame average.
  *
  * Determinism: the window's order statistics are picked by RANK over the
  * (value, source-day) total order — p50 is the exact midpoint of the two
  * middle BIGINTs (lands on .0/.5 — bit-exact cross-engine, the
  * `ts_outlier_mad` contract), p90 is the nearest-rank ⌈0.9·n⌉-th value
  * (pure integer selection; INTERPOLATED p90 would multiply by 0.1-steps,
  * which are not exact in binary — measured divergence class, avoided by
  * construction). `percentile_approx` over a sliding window is the
  * documented 100 TB swap.
  *
  * Scale posture: one fact pass → the |types × days| daily aggregate; the
  * trailing window materializes as a ×7 contribution explode of that
  * AGGREGATE (the `ts_ewma` fan-out pattern), never of facts; ranking
  * windows partition by (type, day) over ≤ 7 rows. */
object RollingQuantile extends graft.QueryModule {

  val WindowDays = 7L

  def rollingQuantile(s: SparkSession, dir: String): DataFrame = {
    // persist: the daily aggregate feeds the contribution fan-out and the
    // observed-day semi-join
    val daily = graft.CacheRegistry.track(
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi"))
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"), col("vi")))
    val contrib = daily
      .withColumn("off", explode(sequence(lit(0L), lit(WindowDays - 1))))
      .select(col("event_type"), (col("ed") + col("off")).as("target"),
        col("vi"), col("ed").as("src_ed"))
      .join(daily.select(col("event_type"), col("ed").as("target")),
        Seq("event_type", "target"), "left_semi")
    if (graft.ScaleMode.approx(s)) {
      // 100 TB path (spark.graft.scale.approx=true): the documented
      // percentile_approx swap — one mergeable sketch aggregate per
      // trailing window instead of the two rank windows. Nearest-rank
      // semantics: approx p50 is a single observed value (no midpoint
      // interpolation), so the two modes differ only on even-count
      // windows and exactly at the quantile boundary (spec-pinned).
      val acc = graft.ScaleMode.SketchAccuracy
      return contrib
        .groupBy(col("event_type"), col("target"))
        .agg(count(lit(1)).as("n_days"),
          expr(s"percentile_approx(vi, 0.5, $acc)").cast("double").as("p50"),
          expr(s"percentile_approx(vi, 0.9, $acc)").as("p90"))
        .select(col("event_type"),
          date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("target").cast("int")).as("day"),
          col("n_days"), col("p50"), col("p90"))
        .orderBy(col("event_type"), col("day"))
    }
    val byWin = Window.partitionBy(col("event_type"), col("target"))
    val ranked = contrib
      .withColumn("rn", row_number().over(byWin.orderBy(col("vi"), col("src_ed"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byWin))
    ranked
      .withColumn("k50a", expr("(n + 1) div 2"))
      .withColumn("k50b", expr("(n + 2) div 2"))
      .withColumn("k90", expr("(9 * n + 9) div 10"))
      .groupBy(col("event_type"), col("target"))
      .agg(max(col("n")).as("n_days"),
        ((max(when(col("rn") === col("k50a"), col("vi"))) +
          max(when(col("rn") === col("k50b"), col("vi")))).cast("double") / 2.0).as("p50"),
        max(when(col("rn") === col("k90"), col("vi"))).as("p90"))
      .select(col("event_type"),
        date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("target").cast("int")).as("day"),
        col("n_days"), col("p50"), col("p90"))
      .orderBy(col("event_type"), col("day"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_rolling_quantile" -> (rollingQuantile _))

  val oracles: Map[String, String] = Map(
    "ts_rolling_quantile" ->
      s"""WITH d AS (SELECT event_type,
         |  (ts::DATE - DATE '1970-01-01') AS ed,
         |  CAST(round(sum(value::DECIMAL(18,2))::DOUBLE) AS BIGINT) AS vi
         | FROM events GROUP BY event_type, ts::DATE),
         |c AS (SELECT d.event_type, d.ed + o.off AS target, d.vi, d.ed AS src_ed
         | FROM d, (SELECT unnest(range(0, $WindowDays)) AS off) o
         | WHERE EXISTS (SELECT 1 FROM d t
         |   WHERE t.event_type = d.event_type AND t.ed = d.ed + o.off)),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY event_type, target ORDER BY vi, src_ed)::BIGINT AS rn,
         |  count(*) OVER (PARTITION BY event_type, target)::BIGINT AS n
         | FROM c)
         |SELECT event_type, DATE '1970-01-01' + target::INT AS day,
         | max(n) AS n_days,
         | (max(CASE WHEN rn = (n + 1) // 2 THEN vi END)
         |  + max(CASE WHEN rn = (n + 2) // 2 THEN vi END))::DOUBLE / 2.0 AS p50,
         | max(CASE WHEN rn = (9 * n + 9) // 10 THEN vi END) AS p90
         |FROM r GROUP BY event_type, target
         |ORDER BY event_type, day""".stripMargin)
}
