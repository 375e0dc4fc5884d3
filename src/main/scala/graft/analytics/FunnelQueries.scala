package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Product-analytics operators over the event stream: ordered funnel
  * progression and cohort retention — the two queries every event warehouse
  * serves daily.
  *
  * Scale posture: both are single-exchange plans. The funnel's three stage
  * timestamps are unordered window aggregates over the SAME user_id
  * partitioning, so Catalyst plans one Exchange feeding stacked Window
  * operators — no self-joins, no per-stage re-shuffle of the fact table
  * (the textbook funnel-via-3-joins shape shuffles facts once per stage).
  * Retention derives the cohort with the same single-exchange window trick,
  * then one map-side-combinable groupBy.
  */
object FunnelQueries extends graft.QueryModule {

  /** signup → click → purchase with a 24 h conversion window per hop:
    * stage N counts only if it happens after stage N-1 and within the
    * window — the standard product-funnel semantics (unbounded chains
    * saturate: every active user eventually hits all three types). */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val hop = expr("interval 24 hours")
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
    ev
      .withColumn("t1", min(when(col("event_type") === "signup", col("ts"))).over(byUser))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") > col("t1") && col("ts") <= col("t1") + hop, col("ts"))).over(byUser))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2") && col("ts") <= col("t2") + hop, col("ts"))).over(byUser))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("signup_ts"), min(col("t2")).as("click_ts"),
        min(col("t3")).as("purchase_ts"))
      .withColumn("stage",
        when(col("purchase_ts").isNotNull, lit(3L))
          .when(col("click_ts").isNotNull, lit(2L))
          .when(col("signup_ts").isNotNull, lit(1L))
          .otherwise(lit(0L)))
      .orderBy(col("user_id"))
  }

  /** Cohort retention: users grouped by first-active day, counted on each
    * later active day as (cohort_day, day_offset, n_users). */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort_day", min(col("day")).over(byUser))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q11_funnel"    -> (funnel _),
    "q12_retention" -> (retention _))

  val oracles: Map[String, String] = Map(
    "q11_funnel" ->
      """WITH s1 AS (
        | SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) OVER (PARTITION BY user_id) AS t1
        | FROM events),
        |s2 AS (
        | SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |     AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
        |   OVER (PARTITION BY user_id) AS t2
        | FROM s1),
        |s3 AS (
        | SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |     AND ts <= t2 + INTERVAL 24 HOUR THEN ts END)
        |   OVER (PARTITION BY user_id) AS t3
        | FROM s2)
        |SELECT user_id, min(t1) AS signup_ts, min(t2) AS click_ts, min(t3) AS purchase_ts,
        | (CASE WHEN min(t3) IS NOT NULL THEN 3
        |       WHEN min(t2) IS NOT NULL THEN 2
        |       WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS stage
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q12_retention" ->
      """WITH d AS (
        | SELECT user_id, ts::DATE AS day,
        |  min(ts::DATE) OVER (PARTITION BY user_id) AS cohort_day
        | FROM events)
        |SELECT cohort_day, (day - cohort_day)::BIGINT AS day_offset,
        | count(DISTINCT user_id) AS n_users
        |FROM d GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)
}
