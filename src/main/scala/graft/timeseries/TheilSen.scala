package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #34o `ts_theilsen` — Theil-Sen robust slope per type over its daily
  * series (Theil 1950; Sen 1968): the RATE companion to `ts_mannkendall`
  * (MK answers "is there a monotone trend?"; Theil-Sen answers "how
  * fast?", with up to ~29% of the points corrupted before the estimate
  * breaks — where one bad day bends `ts_trend`'s least-squares line
  * arbitrarily). Slope = the MEDIAN of all pairwise slopes
  * (v_j − v_i)/(day_j − day_i) over i < j; intercept = the median
  * residual v − slope·x anchored at the type's first observed day (the
  * `ts_trend` anchor convention).
  *
  * Determinism: each pairwise slope is ONE IEEE division of two exact
  * integers (BIGINT value delta / BIGINT day delta — identical in both
  * engines), and both medians are ORDER STATISTICS, not float
  * arithmetic: the DECLARED rule selects the ⌈P/2⌉-th and (⌊P/2⌋+1)-th
  * smallest (1-based; the same element for odd P) and reports their
  * midpoint — the even-P convention stated, never engine-default
  * quantile interpolation. Ties in the sort cannot move an order
  * statistic's VALUE, so arbitrary tie order is safe cross-engine.
  *
  * Scale: ONE fact pass → the |types × days| daily aggregate; the
  * pairwise slopes self-join THAT cached aggregate on the uniform type
  * key (days², never facts² — the `stats_corr` posture), and each median
  * is a per-type window sort of that bounded ledger (rank-select, no
  * driver-side collect of the pair set). */
object TheilSen extends graft.QueryModule {

  /** Rank-select the declared median of `valCol` per type: keep the two
    * (or one) middle positions, reduce with (min+max)/2. */
  private def medianBy(df: DataFrame, valCol: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col(valCol))
    val wp = Window.partitionBy(col("event_type"))
    df.withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(wp))
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("np div 2") + 1L)
      .groupBy(col("event_type"))
      .agg(max(col("np")).as(s"n_$valCol"),
        ((min(col(valCol)) + max(col(valCol))) / lit(2.0)).as(s"med_$valCol"))
  }

  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.CacheRegistry.track(
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi"))
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"), col("vi")))
    val a = daily.select(col("event_type"), col("ed").as("da"), col("vi").as("va"))
    val b = daily.select(col("event_type"), col("ed").as("db"), col("vi").as("vb"))
    val pairs = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
      .select(col("event_type"),
        ((col("vb") - col("va")).cast("double") / (col("db") - col("da"))).as("sl"))
    val slopes = medianBy(pairs, "sl") // (event_type, n_sl, med_sl)
    val x0 = daily.groupBy(col("event_type"))
      .agg(min(col("ed")).as("ed0"), count(lit(1)).as("n_days"))
    // residuals under the median slope, anchored at the first day
    val resid = daily
      .join(broadcast(x0), Seq("event_type"))
      .join(broadcast(slopes), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_sl"), col("med_sl"),
        (col("vi").cast("double") -
          col("med_sl") * (col("ed") - col("ed0")).cast("double")).as("rs"))
    medianBy(resid.select(col("event_type"), col("rs")), "rs")
      .join(broadcast(resid.select(col("event_type"), col("n_days"), col("n_sl"),
        col("med_sl")).distinct()), Seq("event_type"))
      .filter(col("n_days") >= 2)
      .select(col("event_type"), col("n_days"), col("n_sl").as("n_pairs"),
        round(col("med_sl"), 6).as("slope"),
        round(col("med_rs"), 4).as("intercept"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_theilsen" -> (theilSen _))

  val oracles: Map[String, String] = Map(
    "ts_theilsen" ->
      s"""WITH daily AS MATERIALIZED (
         | SELECT event_type,
         |  datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS ed,
         |  round(sum(value::DECIMAL(18,2))::DOUBLE)::BIGINT AS vi
         | FROM events GROUP BY event_type, ts::DATE),
         |pr AS (
         | SELECT a.event_type,
         |  (b.vi - a.vi)::DOUBLE / (b.ed - a.ed) AS sl
         | FROM daily a JOIN daily b
         |   ON a.event_type = b.event_type AND a.ed < b.ed),
         |rs AS (
         | SELECT event_type, sl,
         |  row_number() OVER (PARTITION BY event_type ORDER BY sl) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS np
         | FROM pr),
         |sl AS MATERIALIZED (
         | SELECT event_type, max(np)::BIGINT AS n_pairs,
         |  (min(sl) + max(sl)) / 2.0 AS med_sl
         | FROM rs WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
         | GROUP BY event_type),
         |x0 AS (
         | SELECT event_type, min(ed)::BIGINT AS ed0, count(*)::BIGINT AS n_days
         | FROM daily GROUP BY event_type),
         |rr AS (
         | SELECT d.event_type,
         |  d.vi::DOUBLE - sl.med_sl * (d.ed - x0.ed0)::DOUBLE AS rs,
         |  row_number() OVER (PARTITION BY d.event_type
         |    ORDER BY d.vi::DOUBLE - sl.med_sl * (d.ed - x0.ed0)::DOUBLE) AS rn,
         |  count(*) OVER (PARTITION BY d.event_type) AS np
         | FROM daily d JOIN x0 USING (event_type) JOIN sl USING (event_type)),
         |ic AS (
         | SELECT event_type, (min(rs) + max(rs)) / 2.0 AS med_rs
         | FROM rr WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
         | GROUP BY event_type)
         |SELECT x0.event_type, x0.n_days, sl.n_pairs,
         | round(sl.med_sl, 6) AS slope, round(ic.med_rs, 4) AS intercept
         |FROM x0 JOIN sl USING (event_type) JOIN ic USING (event_type)
         |WHERE x0.n_days >= 2
         |ORDER BY event_type""".stripMargin)
}
