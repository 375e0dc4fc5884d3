package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #31d `stream_late_data` — watermark DROP accounting: per event-type
  * counts of on-time vs late-within-watermark vs dropped-late rows at a
  * declared watermark delay (SURVEY.md §2; r13 verdict task #4).
  *
  * The streaming family proves restart recovery (`StreamRecoverySpec`) and
  * uses watermarks throughout (`EventStream`), but no operator reported
  * what the watermark DISCARDS — the streaming twin of
  * `etl_backlog_check`, and the number an SLA board reads next to
  * `etl_freshness`: "of yesterday's rows, how many arrived too late to
  * count". The reference's core operational pain is exactly late arrivals
  * (its daily poll re-fetches a 2-month window because records trickle in
  * late — reference main.py:79-132).
  *
  * DECLARED ARITHMETIC (pure event-time, fully SQL-statable — the
  * batch-parity discipline of `stream_window_agg`): arrival order is
  * `event_id` (the ingest sequence), micro-batches are fixed
  * [[BatchSize]]-id blocks (`bk = event_id div BatchSize`), and the
  * watermark applied to batch k is Spark's exact update rule — the max
  * event time over all PRIOR batches minus [[DelayMinutes]] (the
  * watermark advances between micro-batches, never within one). A row is
  *   - `on_time`  if no prior batch exists or its ts ≥ that running max,
  *   - `dropped`  if its ts < (running max − delay) — older than the
  *                watermark, exactly what a stateful operator discards,
  *   - `late_ok`  otherwise (late but within the watermark's grace).
  * `StreamLateDataSpec` replays a planted late batch through a REAL
  * micro-batch split (MemoryStream + withWatermark + per-row dedup state)
  * and proves Spark's own `numRowsDroppedByWatermark` matches this
  * arithmetic row-for-row.
  *
  * Scale: one fact scan → per-batch max ledger (map-side combinable;
  * ONE ROW PER MICRO-BATCH — an ops-metadata frame, ~86k rows/day at 1 s
  * triggers, the `sample_pps_systematic` bounded-single-partition class)
  * → prefix-max window on the ledger → broadcast join back to the stream
  * → one final per-type aggregate. Counts are exact integers; the ppm
  * readout is integer floor division — bit-identical in both engines.
  *
  * DECLARED RANGE (the betweenness-family envelope convention): the ppm
  * scaling computes `n_dropped · 10⁶` in BIGINT, so the contract holds
  * for n_dropped < 2⁶³/10⁶ ≈ 9.2·10¹² dropped rows PER EVENT TYPE —
  * ~292 years of 1 kHz full-drop arrivals; beyond it Spark (non-ANSI)
  * would wrap where the DuckDB oracle throws. Any real ledger is orders
  * of magnitude inside the envelope. */
object StreamLateData extends graft.QueryModule {

  val BatchSize = 1000L
  val DelayMinutes = 30L
  val DelayMicros: Long = DelayMinutes * 60L * 1000000L

  def lateData(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("bk", expr(s"event_id div $BatchSize"))
    // per-micro-batch max-event-time ledger (bounded: one row per batch)
    val ledger = e.groupBy(col("bk")).agg(max(col("us")).as("bmax"))
    val wLed = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = ledger
      .withColumn("prev_max", max(col("bmax")).over(wLed))
      .select(col("bk"), col("prev_max"))
    val cls = e.join(broadcast(run), Seq("bk"), "left")
      .withColumn("status",
        when(col("prev_max").isNull || col("us") >= col("prev_max"), lit("on_time"))
          .when(col("us") < col("prev_max") - lit(DelayMicros), lit("dropped"))
          .otherwise(lit("late_ok")))
    cls.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("status") === "on_time", 1L).otherwise(0L)).as("n_on_time"),
        sum(when(col("status") === "late_ok", 1L).otherwise(0L)).as("n_late_ok"),
        sum(when(col("status") === "dropped", 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("drop_ppm", expr("(n_dropped * 1000000L) div n_events"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_late_data" -> (lateData _))

  val oracles: Map[String, String] = Map(
    "stream_late_data" ->
      s"""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us,
         |  event_id // $BatchSize AS bk FROM events),
         |led AS (SELECT bk, max(us) AS bmax FROM e GROUP BY bk),
         |run AS (SELECT bk, max(bmax) OVER (ORDER BY bk
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         | FROM led),
         |cls AS (SELECT e.event_type,
         |  CASE WHEN run.prev_max IS NULL OR e.us >= run.prev_max THEN 'on_time'
         |       WHEN e.us < run.prev_max - $DelayMicros THEN 'dropped'
         |       ELSE 'late_ok' END AS status
         | FROM e JOIN run USING (bk))
         |SELECT event_type, count(*)::BIGINT AS n_events,
         | sum(CASE WHEN status = 'on_time' THEN 1 ELSE 0 END)::BIGINT AS n_on_time,
         | sum(CASE WHEN status = 'late_ok' THEN 1 ELSE 0 END)::BIGINT AS n_late_ok,
         | sum(CASE WHEN status = 'dropped' THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         | ((sum(CASE WHEN status = 'dropped' THEN 1 ELSE 0 END) * 1000000)
         |   // count(*))::BIGINT AS drop_ppm
         |FROM cls GROUP BY event_type ORDER BY event_type""".stripMargin)
}
