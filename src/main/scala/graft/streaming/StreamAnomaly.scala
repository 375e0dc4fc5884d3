package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.Tables
import graft.timeseries.TsQueries

/** #33e Streaming ingest-volume anomaly detection — the continuous form of
  * the monitoring the reference does by eyeballing its daily-run row counts
  * (`main.py:79-132` logs how many rows each window fetch returned): flag a
  * day whose event VOLUME spikes or craters against its own trailing
  * 28-day history. `ts_anomaly` watches value mass in batch; this watches
  * arrival counts continuously.
  *
  * Shape: the upstream watermarked 1-day tumbling count (the windowedAgg
  * pattern) finalizes one row per (type, day) in event-time order; this
  * stage consumes that feed with `flatMapGroupsWithState` keyed by type.
  * State per key is the trailing history ring only — at most [[HistDays]]
  * (epoch_day, n_events) pairs, O(types × 28) total regardless of stream
  * length, the bound that lets the detector run forever. Same z-score
  * contract as `ts_anomaly`: history window EXCLUDES the current day (a
  * spike cannot mask itself), variance from explicit sums over a ROUNDED
  * gate (counts are integers, so the sums are bit-exact in doubles), flag
  * at |z| ≥ AnomZ after ≥ MinHistoryDays of history.
  *
  * The batch twin (`stream_anomaly`, oracle-checked) runs the identical
  * math as one range-frame window over the daily-count aggregate; the spec
  * proves stream ≡ batch however the feed is micro-batched. */
object StreamAnomaly extends graft.QueryModule {

  val HistDays = 28

  /** One finalized daily count — the append-mode output of the upstream
    * windowed aggregation, re-keyed to integer epoch-day. */
  case class DailyVolume(event_type: String, epoch_day: Long, n_events: Long)

  /** Trailing ring per type: `lastDay` is the finalized frontier (a
    * re-delivered day at or before it is dropped — the upstream watermark
    * already finalized it), `days`/`counts` the retained history, parallel
    * arrays because they encode to a flat struct. */
  case class VolState(lastDay: Long, days: Array[Long], counts: Array[Long])

  case class VolFlag(event_type: String, epoch_day: Long, n_events: Long,
      hist_days: Long, z: Option[Double], is_anomaly: Boolean)

  /** Spark/DuckDB `round` semantics (BigDecimal HALF_UP) for the driver-side
    * replay — named apart from `functions.round` so the column form stays
    * usable in the same scope. */
  private def roundAt(v: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The z-score of `x` against history `(day, count)` pairs within
    * [d-HistDays, d-1] — the one definition the streaming path uses and the
    * spec replays; the batch twin's window expression states the same math
    * declaratively. */
  def zScore(x: Long, hist: Seq[(Long, Long)]): (Long, Option[Double]) = {
    val n = hist.size
    if (n < TsQueries.MinHistoryDays) (n.toLong, None)
    else {
      var sm = 0.0; var sq = 0.0
      hist.foreach { case (_, c) => val v = c.toDouble; sm += v; sq += v * v }
      val variance = roundAt((sq - sm * sm / n) / (n - 1), 6)
      if (variance > 0) (n.toLong, Some(roundAt((x - sm / n) / math.sqrt(variance), 4)))
      else (n.toLong, None)
    }
  }

  /** Streaming path: bounded-state per-type trailing z over the finalized
    * daily feed. NoTimeout — state is bounded by construction, nothing to
    * expire. */
  def anomalyStream(daily: Dataset[DailyVolume]): Dataset[VolFlag] = {
    import daily.sparkSession.implicits._
    daily.groupByKey(_.event_type)
      .flatMapGroupsWithState[VolState, VolFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, rows: Iterator[DailyVolume], state) =>
          var st = state.getOption.getOrElse(
            VolState(Long.MinValue, Array.empty, Array.empty))
          val out = Seq.newBuilder[VolFlag]
          // within one micro-batch several finalized days can arrive at
          // once (a watermark jump closes them together); process in
          // event-time order, exactly as they would have arrived singly
          rows.toSeq.sortBy(_.epoch_day).foreach { p =>
            if (p.epoch_day > st.lastDay) {
              val hist = st.days.zip(st.counts)
                .filter { case (d, _) => d >= p.epoch_day - HistDays && d <= p.epoch_day - 1 }
              val (n, z) = zScore(p.n_events, hist.toSeq)
              out += VolFlag(tpe, p.epoch_day, p.n_events, n, z,
                z.exists(v => math.abs(v) >= TsQueries.AnomZ))
              // retain only days a FUTURE day's window can still see
              // (next processable day is ≥ lastDay+1, whose window starts
              // at lastDay+1-HistDays)
              val kept = (st.days.zip(st.counts) :+ (p.epoch_day, p.n_events))
                .filter { case (d, _) => d >= p.epoch_day + 1 - HistDays }
              st = VolState(p.epoch_day, kept.map(_._1), kept.map(_._2))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Batch twin for the oracle: identical math as one range-frame window
    * over the single-pass daily count aggregate (the TsQueries posture —
    * windows run on |types × days| rows, never facts). */
  def volumeAnomalyBatch(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-HistDays, -1)
    val x = col("n_events").cast("double")
    val n = count(lit(1)).over(w)
    val sm = sum(x).over(w)
    val sq = sum(x * x).over(w)
    // counts are integers: the sums are exact in doubles, but the variance
    // gate still sits on a rounded value so both engines agree a flat
    // stream is flat (determinism checklist)
    val variance = round((sq - sm * sm / n) / (n - 1), 6)
    val z = when(n >= TsQueries.MinHistoryDays && variance > 0,
      round((x - sm / n) / sqrt(variance), 4))
    d.select(col("event_type"), col("day"), col("n_events"),
        n.as("hist_days"), z.as("z"),
        (z.isNotNull && abs(z) >= TsQueries.AnomZ).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_anomaly" -> (volumeAnomalyBatch _))

  val oracles: Map[String, String] = Map(
    "stream_anomaly" ->
      s"""WITH d AS (
         | SELECT event_type, ts::DATE AS day, count(*) AS n_events
         | FROM events GROUP BY 1, 2),
         |s AS (
         | SELECT event_type, day, n_events,
         |  count(*) OVER w AS hist_days,
         |  sum(n_events::DOUBLE) OVER w AS sm,
         |  sum(n_events::DOUBLE * n_events::DOUBLE) OVER w AS sq
         | FROM d
         | WINDOW w AS (PARTITION BY event_type ORDER BY (day - DATE '1970-01-01')
         |   RANGE BETWEEN $HistDays PRECEDING AND 1 PRECEDING)),
         |zt AS (
         | SELECT event_type, day, n_events, hist_days,
         |  CASE WHEN hist_days >= ${TsQueries.MinHistoryDays}
         |        AND round((sq - sm * sm / hist_days) / (hist_days - 1), 6) > 0
         |   THEN round((n_events::DOUBLE - sm / hist_days)
         |     / sqrt(round((sq - sm * sm / hist_days) / (hist_days - 1), 6)), 4) END AS z
         | FROM s)
         |SELECT event_type, day, n_events, hist_days, z,
         | (z IS NOT NULL AND abs(z) >= ${TsQueries.AnomZ}) AS is_anomaly
         |FROM zt ORDER BY event_type, day""".stripMargin)
}
