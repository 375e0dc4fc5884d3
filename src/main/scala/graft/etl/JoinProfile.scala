package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #16d `etl_join_profile` — foreign-key join profiling (SURVEY.md §2).
  *
  * The pre-wiring audit a data engineer runs before joining two tables in
  * a pipeline: does the FK actually land (match rate, orphans), and what
  * fan-out will the join produce (min/avg/max children per parent —
  * the number that decides broadcast vs shuffle vs pre-aggregate)?
  * `etl_dq_report`'s referential check counts orphans as a pass/fail;
  * this emits the full join-planning profile for orders→customer. The
  * reference needed exactly this discipline: its crashes⋈intersections
  * and crosswalk joins silently fanned out on dirty keys.
  *
  * One-row output, all exact BIGINTs plus two fixed-form ratios.
  *
  * Scale posture: one map-side per-custkey count of orders, one full-outer
  * hash join against the customer keys (uniform key), one constant-size
  * aggregate — no fact-table fan-out anywhere (the profile is computed
  * FROM aggregates, which is the whole point of running it first). */
object JoinProfile extends graft.QueryModule {

  def profile(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"))
    val joined = cust.join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
    joined.agg(
        sum(coalesce(col("k"), lit(0L))).as("n_orders"),
        count(col("c_custkey")).as("n_customers"),
        sum(when(col("c_custkey").isNull, col("k")).otherwise(0L)).as("n_orphan_orders"),
        sum(when(col("c_custkey").isNotNull && col("k").isNull, 1L).otherwise(0L))
          .as("n_childless_customers"),
        min(when(col("c_custkey").isNotNull, coalesce(col("k"), lit(0L)))).as("fanout_min"),
        max(when(col("c_custkey").isNotNull, coalesce(col("k"), lit(0L)))).as("fanout_max"))
      .select(col("n_orders"), col("n_customers"), col("n_orphan_orders"),
        col("n_childless_customers"), col("fanout_min"), col("fanout_max"),
        round((col("n_orders") - col("n_orphan_orders")).cast("double") /
          col("n_orders"), 4).as("match_rate"),
        round((col("n_orders") - col("n_orphan_orders")).cast("double") /
          col("n_customers"), 4).as("fanout_avg"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_join_profile" -> (profile _))

  val oracles: Map[String, String] = Map(
    "etl_join_profile" ->
      """WITH pc AS (SELECT o_custkey, count(*)::BIGINT AS k FROM orders GROUP BY 1),
        |j AS (SELECT c.c_custkey, pc.k
        | FROM customer c FULL OUTER JOIN pc ON pc.o_custkey = c.c_custkey),
        |a AS (SELECT
        |  sum(coalesce(k, 0))::BIGINT AS n_orders,
        |  count(c_custkey)::BIGINT AS n_customers,
        |  sum(CASE WHEN c_custkey IS NULL THEN k ELSE 0 END)::BIGINT AS n_orphan_orders,
        |  sum(CASE WHEN c_custkey IS NOT NULL AND k IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_childless_customers,
        |  min(CASE WHEN c_custkey IS NOT NULL THEN coalesce(k, 0) END)::BIGINT AS fanout_min,
        |  max(CASE WHEN c_custkey IS NOT NULL THEN coalesce(k, 0) END)::BIGINT AS fanout_max
        | FROM j)
        |SELECT n_orders, n_customers, n_orphan_orders, n_childless_customers,
        | fanout_min, fanout_max,
        | round((n_orders - n_orphan_orders)::DOUBLE / n_orders, 4) AS match_rate,
        | round((n_orders - n_orphan_orders)::DOUBLE / n_customers, 4) AS fanout_avg
        |FROM a""".stripMargin)
}
