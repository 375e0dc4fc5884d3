package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Streaming ingest dedup (SURVEY.md §2 #6b) — the reference's
  * `NOT IN (SELECT socrata_id …)` guard (main.py:368-371) as a continuous
  * operator: `dropDuplicatesWithinWatermark` keys state by event_id and
  * expires it once the watermark passes, so state stays bounded by the
  * late-data horizon instead of growing with history — the only shape that
  * survives an unbounded stream.
  */
object StreamDedup extends graft.QueryModule {

  /** Streaming path: exactly-one-per-event_id within the watermark. */
  def dedupStream(events: Dataset[EventStream.Event], watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .toDF()

  /** #6b batch twin for the oracle: first occurrence (by ts, then value
    * order is irrelevant — events are unique per id in the batch table, so
    * this is a keep-first dedup over a deliberately doubled input). */
  def dedupBatch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select("event_id", "ts", "event_type", "value")
    // simulate the re-delivered feed: the same window fetched twice
    // (the reference re-fetches overlapping 2-month windows every day)
    val redelivered = e.unionByName(e)
    val w = Window.partitionBy(col("event_id")).orderBy(col("ts"))
    redelivered
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("ts"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_dedup" -> (dedupBatch _))

  val oracles: Map[String, String] = Map(
    "stream_dedup" ->
      """WITH redelivered AS (
        | SELECT event_id, ts, event_type, value FROM events
        | UNION ALL
        | SELECT event_id, ts, event_type, value FROM events)
        |SELECT event_id, ts, event_type, round(value, 2) AS value FROM (
        | SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        | FROM redelivered) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin)
}
