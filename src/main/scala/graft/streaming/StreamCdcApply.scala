package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.Tables
import EventStream.Event

/** #33g Continuous CDC snapshot materialization (SURVEY.md §2).
  *
  * The streaming twin of the reference's upsert loop as a LIVE
  * latest-version-per-key view: every arriving change either advances its
  * entity's materialized row (emit the new snapshot row) or is recognized
  * as stale/out-of-order/re-delivered and emits nothing. Complements the
  * existing sinks: `EventStream.cdcApply` materializes into warehouse
  * FILES per micro-batch; this keeps the view in bounded OPERATOR STATE
  * and emits the change feed downstream consumers subscribe to.
  *
  * Version order is the `etl_survivorship`/`etl_time_travel` packed
  * (micros, event_id) total order ([[graft.etl.Survivorship.orderKey]]),
  * computed identically here on the deserialized event — batch and stream
  * cannot disagree on which version wins. State per key is TWO longs (the
  * winning key + the delivered-record count), so the operator runs
  * forever at O(entities) state — the inherent floor for any
  * latest-per-key materialization. `n_versions` counts DELIVERED records:
  * exactly-once feeds match the batch twin exactly (the spec's
  * equivalence); under at-least-once re-delivery the snapshot row stays
  * correct while the count reflects deliveries (documented, and re-
  * delivered stale records emit nothing either way).
  *
  * The batch twin (`stream_cdc_apply`, FULL oracle) is ONE map-side-
  * combinable max_by groupBy over the fact stream. */
object StreamCdcApply extends graft.QueryModule {

  case class CdcState(bestK: Long, n: Long)
  case class SnapshotRow(user_id: Long, version_event_id: Long,
    latest_type: String, latest_value: Double, n_versions: Long)

  private def packedKey(e: Event): Long = {
    val micros = e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
    (micros - graft.etl.Survivorship.OrderEpochMicros) * graft.etl.Survivorship.OrderIdSlots +
      java.lang.Math.floorMod(e.event_id, graft.etl.Survivorship.OrderIdSlots)
  }

  private def round2(v: Double): Double =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Streaming path: emit the advanced snapshot row per key per batch. */
  def snapshotStream(events: Dataset[Event]): Dataset[SnapshotRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, SnapshotRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Event], state) =>
          val rs = rows.toSeq
          val st = state.getOption.getOrElse(CdcState(Long.MinValue, 0L))
          val n2 = st.n + rs.size
          // several versions of one key can share a batch: only the batch
          // winner can advance the view
          val best = rs.maxBy(packedKey)
          if (packedKey(best) > st.bestK) {
            state.update(CdcState(packedKey(best), n2))
            Iterator.single(SnapshotRow(uid, best.event_id, best.event_type,
              round2(best.value), n2))
          } else {
            state.update(st.copy(n = n2))
            Iterator.empty
          }
      }
  }

  /** Batch twin for the oracle: the same winner, declaratively. */
  def snapshotBatch(s: SparkSession, dir: String): DataFrame = {
    val k = graft.etl.Survivorship.orderKey
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        max_by(col("event_id"), k).as("version_event_id"),
        max_by(col("event_type"), k).as("latest_type"),
        round(max_by(col("value"), k), 2).as("latest_value"),
        count(lit(1)).as("n_versions"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cdc_apply" -> (snapshotBatch _))

  val oracles: Map[String, String] = Map(
    "stream_cdc_apply" ->
      s"""WITH ev AS (SELECT *,
         |  (epoch_us(ts) - ${graft.etl.Survivorship.OrderEpochMicros}) * 8192
         |   + (event_id % 8192) AS k
         | FROM events)
         |SELECT user_id,
         | arg_max(event_id, k) AS version_event_id,
         | arg_max(event_type, k) AS latest_type,
         | round(arg_max(value, k), 2) AS latest_value,
         | count(*) AS n_versions
         |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin)
}
