package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Streaming-shaped operators, batch-parity entries (SURVEY.md §2 #31-32).
  *
  * The true Structured Streaming paths (watermarked windowed aggregation and
  * stateful sessionization over MemoryStream) live in EventStream.scala and
  * are exercised by EventStreamSpec; these batch twins share the exact same
  * windowing/gap semantics so the DuckDB oracle can check them.
  */
object StreamQueries extends graft.QueryModule {

  val SessionGapSeconds = 1800L

  /** #31 Tumbling 1-hour window aggregation per event type. */
  def windowAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** #32 Gap-based sessionization (30-min inactivity), batch twin of the
    * flatMapGroupsWithState implementation. Gap comparison is done on
    * integer epoch-micros so both engines make identical decisions. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > SessionGapSeconds * 1000000L, 1L)
          .when(lag(col("us"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("user_id"), col("sid"))
  }

  /** #32b Purchase→click attribution join, batch twin of the stream-stream
    * interval join (EventStream.intervalJoin): each purchase joined to the
    * same user's clicks in the preceding 30 minutes. The batch plan is a
    * key equi-join with a time-range residual; the streaming plan bounds
    * state by the watermark + interval. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val c = Tables.events(s, dir).filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    p.join(c, Seq("user_id"))
      .filter(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** #32c Stream-static enrichment, batch twin of
    * EventStream.enrichedWindowAgg: each event joins a broadcast dimension
    * (user's nation via modulo key — the stand-in for a user-profile dim)
    * and the stream aggregates per window × nation. The static side is
    * broadcast, so the streaming plan keeps one shuffle (the windowed agg)
    * and no stream-side repartition for the join. */
  def enrich(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    Tables.events(s, dir)
      .join(broadcast(dim), col("user_id") % 25 === col("nk"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("n_name"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_name"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("n_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_agg" -> (windowAgg _),
    "stream_sessionize" -> (sessionize _),
    "stream_interval_join" -> (intervalJoin _),
    "stream_enrich" -> (enrich _))

  val oracles: Map[String, String] = Map(
    "stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin,
    "stream_enrich" ->
      """SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start, n.n_name,
        | count(*) AS n_events, round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY window_start, n_name""".stripMargin,
    "stream_window_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream_sessionize" ->
      s"""WITH t0 AS (
         | SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
         |t AS (
         | SELECT *,
         |  CASE WHEN us - lag(us, 1) OVER w > ${SessionGapSeconds} * 1000000 THEN 1
         |       WHEN lag(us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
         | FROM t0
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |u AS (
         | SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         | FROM t)
         |SELECT user_id, sid::BIGINT AS sid, min(ts) AS session_start, max(ts) AS session_end,
         | count(*) AS n_events, round(sum(value), 2) AS sum_value
         |FROM u GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin)
}
