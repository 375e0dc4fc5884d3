package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.Tables

/** #33f Continuous per-window top-N ranking — the "trending now" operator:
  * as each day finalizes, emit that day's top users by event count per
  * type. The reference's high-crash ranking (`highcrash_intersections/` →
  * `etl_highcrash_rank`) is this over its full history; a live pipeline
  * wants the ranking to MATERIALIZE per closed window instead of re-running
  * the batch query.
  *
  * Shape: the upstream watermarked windowed count finalizes all
  * (type, day, user) rows of a day together (append mode emits a window's
  * aggregates in the micro-batch whose watermark passes its end — the same
  * co-arrival contract `stream_anomaly` builds on); this stage, keyed by
  * type, ranks each finalized day and emits exactly TopN rows, ties to the
  * lowest user_id. State per key is ONE long (the finalized-day frontier,
  * dropping re-delivered days) — the ranking itself needs no cross-day
  * state at all, which is what makes the operator run forever: O(types)
  * state regardless of stream length, and each emitted day is immutable.
  *
  * The batch twin (`stream_topk`, oracle-checked) is the same ranking as
  * one groupBy + per-(type, day) window over the |types × days × users|
  * aggregate — facts are touched once, map-side combinable. */
object StreamTopK extends graft.QueryModule {

  val TopN = 3

  /** One finalized per-user daily count — the append-mode output of the
    * upstream watermarked windowed aggregation. */
  case class DailyUserCount(event_type: String, epoch_day: Long, user_id: Long, n: Long)

  /** The finalized-day frontier per type: a re-delivered day at or before
    * it was already ranked and emitted — drop it. */
  case class TopkState(lastDay: Long)

  case class TopkRow(event_type: String, epoch_day: Long, user_id: Long, n: Long, rk: Long)

  /** Streaming path: rank-and-emit per finalized day, frontier-only state. */
  def topkStream(counts: Dataset[DailyUserCount]): Dataset[TopkRow] = {
    import counts.sparkSession.implicits._
    counts.groupByKey(_.event_type)
      .flatMapGroupsWithState[TopkState, TopkRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, rows: Iterator[DailyUserCount], state) =>
          var last = state.getOption.fold(Long.MinValue)(_.lastDay)
          val out = Seq.newBuilder[TopkRow]
          // several days can finalize in one micro-batch (a watermark jump
          // closes them together); rank each in event-time order
          rows.toSeq.groupBy(_.epoch_day).toSeq.sortBy(_._1).foreach {
            case (day, rs) =>
              if (day > last) {
                rs.sortBy(r => (-r.n, r.user_id)).take(TopN).zipWithIndex.foreach {
                  case (r, i) => out += TopkRow(tpe, day, r.user_id, r.n, i + 1L)
                }
                last = day
              }
          }
          state.update(TopkState(last))
          out.result().iterator
      }
  }

  /** Batch twin for the oracle: identical ranking, declaratively. */
  def topkBatch(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("event_type"), col("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("n").desc, col("user_id"))
    c.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopN)
      .orderBy(col("event_type"), col("day"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_topk" -> (topkBatch _))

  val oracles: Map[String, String] = Map(
    "stream_topk" ->
      s"""WITH c AS (
         | SELECT event_type, ts::DATE AS day, user_id, count(*) AS n
         | FROM events GROUP BY 1, 2, 3)
         |SELECT event_type, day, user_id, n, rk FROM (
         | SELECT *, row_number() OVER (PARTITION BY event_type, day
         |   ORDER BY n DESC, user_id) AS rk
         | FROM c) t
         |WHERE rk <= $TopN ORDER BY event_type, day, rk""".stripMargin)
}
