package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #12c Golden-record survivorship merge (SURVEY.md §2).
  *
  * The master-data-management step after dedup: collapse an entity's
  * record versions into ONE golden row, each field taking its value from
  * the best surviving version under a declared rule. The reference's
  * upsert keeps the FIRST arrival forever (`main.py:368-371`); real MDM
  * wants recency-with-completeness — "latest version where the field is
  * actually populated" — which is exactly what a per-field `max_by` over
  * a validity-gated ordering key expresses.
  *
  * Per user_id: latest event_type, latest VALIDATED value (≥ 200, the
  * corpus' sparse-signal threshold — the ts family's convention), and
  * latest props carrying a real payload (the `{"k": 0}` sentinel is the
  * empty-payload case). Each field's ordering key is nulled where the
  * field is invalid, so `max_by`/`arg_max` skip those versions — both
  * engines define the aggregate to ignore null ordering keys — plus
  * first/last seen and version count. The ordering key packs (event
  * micros, event_id) into one BIGINT so ties at equal timestamps stay
  * total — determinism checklist.
  *
  * Scale: ONE map-side-combinable groupBy over the fact stream — no
  * windows, no joins, no second pass. The survivorship rule evaluates
  * per-row before the aggregate, so at 100 TB this is a plain partial
  * aggregate. */
object Survivorship extends graft.QueryModule {

  /** (micros since 2024-01-01) · 2^13 + event_id mod 2^13 — total order
    * for any corpus with < 8192 colliding-microsecond events per instant.
    * Shared with the streaming CDC snapshot and CEP so batch and stream
    * order versions identically. The multiplier is 2^13, NOT the 2^20 the
    * key originally used: 2^63 / 2^20 µs is only ~102 days past the
    * epoch, and a generative CEP spec tripped ANSI long-overflow on a
    * 267-day feed — 2^13 extends the exact range to ~35 years while 8192
    * id slots per microsecond instant still make collisions (same µs AND
    * same id mod 8192) practically impossible. */
  val OrderEpochMicros = 1704067200000000L
  val OrderIdSlots = 8192L
  private[graft] def orderKey = (unix_micros(col("ts")) - lit(OrderEpochMicros)) * OrderIdSlots +
    pmod(col("event_id"), lit(OrderIdSlots))

  def goldenRecords(s: SparkSession, dir: String): DataFrame = {
    val k = orderKey
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_versions"),
        min(col("ts")).as("first_seen"),
        max(col("ts")).as("last_seen"),
        max_by(col("event_type"), k).as("latest_type"),
        round(max_by(col("value"), when(col("value") >= 200.0, k)), 2).as("latest_valid_value"),
        max_by(col("props"), when(col("props").isNotNull && col("props") =!= ""
          && col("props") =!= """{"k": 0}""", k)).as("latest_payload_props"))
      .orderBy(col("user_id"))
  }

  /** #12d Point-in-time snapshot reconstruction (time travel) — rebuild
    * the per-entity table state AS OF a timestamp from the raw version
    * stream: the audit/debug primitive behind every "what did the row
    * look like when the model trained?" question, and the query engine
    * half of the reference's CDC pair (`etl_scd2` materializes validity
    * intervals eagerly; this answers one instant lazily, no interval
    * table needed). Per entity: the LATEST version at or before
    * [[AsOfTs]] via `max_by` over the time-gated packed ordering key
    * (same total-order contract as the golden record above), plus how
    * many versions existed by then. Entities born after T are absent —
    * exactly the table state at T. ONE map-side-combinable groupBy over
    * the version-window scan; at 100 TB the `ts <= T` predicate pushes
    * into the scan and a time-partitioned layout prunes everything
    * newer. */
  val AsOfTs = "2024-01-15 12:00:00"

  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val k = orderKey
    Tables.eventsUntil(s, dir, java.sql.Timestamp.valueOf(AsOfTs))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_versions_asof"),
        max(col("ts")).as("version_ts"),
        max_by(col("event_id"), k).as("version_event_id"),
        max_by(col("event_type"), k).as("as_of_type"),
        round(max_by(col("value"), k), 2).as("as_of_value"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_survivorship" -> (goldenRecords _),
    "etl_time_travel" -> (timeTravel _))

  val oracles: Map[String, String] = Map(
    "etl_time_travel" ->
      s"""WITH ev AS (SELECT *,
         |  (epoch_us(ts) - 1704067200000000) * 8192 + (event_id % 8192) AS k
         | FROM events WHERE ts <= TIMESTAMP '$AsOfTs')
         |SELECT user_id, count(*) AS n_versions_asof,
         | max(ts) AS version_ts,
         | arg_max(event_id, k) AS version_event_id,
         | arg_max(event_type, k) AS as_of_type,
         | round(arg_max(value, k), 2) AS as_of_value
         |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin,
    "etl_survivorship" ->
      """WITH ev AS (SELECT *,
        |  (epoch_us(ts) - 1704067200000000) * 8192 + (event_id % 8192) AS k
        | FROM events)
        |SELECT user_id, count(*) AS n_versions,
        | min(ts) AS first_seen, max(ts) AS last_seen,
        | arg_max(event_type, k) AS latest_type,
        | round(arg_max(value, CASE WHEN value >= 200.0 THEN k END), 2) AS latest_valid_value,
        | arg_max(props, CASE WHEN props IS NOT NULL AND props != ''
        |   AND props != '{"k": 0}' THEN k END) AS latest_payload_props
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin)
}
