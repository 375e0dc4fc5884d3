package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #17f `etl_freshness` — the per-feed data-freshness SLA board: for each
  * event type its row count, last-seen event time, staleness in days
  * behind the corpus frontier, and the SLA verdict. The reference's
  * operators notice upstream breakage two ways — late arrivals
  * (`backlog/`, covered by `etl_backlog_check`) and SILENCE (a feed that
  * simply stopped; the failure-email hook `main.py:41-56` fires only when
  * the run crashes, so a quietly-empty source needs exactly this board).
  * Deterministic by construction: staleness is measured against the
  * corpus MAX timestamp (a property of the data), never wall-clock.
  *
  * Scale: one map-side-combinable (count, max) aggregate per type off one
  * pruned scan; the corpus frontier is the same aggregate un-keyed — a
  * one-row broadcast; the readout is |types| rows of integer day math. */
object Freshness extends graft.QueryModule {

  /** SLA: a feed more than this many days behind the frontier is stale. */
  val StaleDays = 7L

  def freshness(s: SparkSession, dir: String): DataFrame = {
    val perType = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(to_date(col("ts"))).as("last_day"))
    val frontier = Tables.events(s, dir)
      .agg(max(to_date(col("ts"))).as("frontier_day"))
    perType.crossJoin(broadcast(frontier))
      .select(col("event_type"), col("n_events"), col("last_day"),
        datediff(col("frontier_day"), col("last_day")).cast("long").as("days_behind"))
      .withColumn("stale", col("days_behind") > StaleDays)
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_freshness" -> (freshness _))

  val oracles: Map[String, String] = Map(
    "etl_freshness" ->
      s"""WITH t AS (
         | SELECT event_type, count(*)::BIGINT AS n_events,
         |  max(ts::DATE) AS last_day
         | FROM events GROUP BY 1),
         |f AS (SELECT max(ts::DATE) AS frontier_day FROM events)
         |SELECT event_type, n_events, last_day,
         | (f.frontier_day - t.last_day)::BIGINT AS days_behind,
         | ((f.frontier_day - t.last_day) > $StaleDays) AS stale
         |FROM t CROSS JOIN f ORDER BY event_type""".stripMargin)
}
