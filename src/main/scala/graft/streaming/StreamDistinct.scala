package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.Tables
import graft.stats.Hll

/** #33j `stream_distinct` — continuous per-day approximate-distinct users
  * per event type via the SAME HyperLogLog register chain as
  * `stats_hll_distinct`: the canonical streaming use of a mergeable
  * sketch (counting daily uniques over an unbounded stream is THE textbook
  * HLL deployment — exact distinct needs the day's whole key set in
  * state; the sketch needs [[Hll.M]] registers per open day).
  *
  * Shape (the `stream_topk` two-stage architecture): the upstream
  * watermarked windowed aggregation maintains max-ρ per (type, day,
  * bucket) — registers ARE max-aggregates, so Structured Streaming's
  * incremental agg state IS the sketch, merged across micro-batches for
  * free — and append mode finalizes a day's ≤[[Hll.M]] register rows
  * together when the watermark passes. This stage, keyed by type with a
  * one-long frontier state, folds each finalized day's registers through
  * the IDENTICAL estimator arithmetic ([[estimate]] — same fold order,
  * same HALF_UP rounding as the batch Columns) and emits one immutable
  * row per closed day. State: O(types · open-days · M) longs upstream,
  * O(types) here — runs forever.
  *
  * The registered batch twin computes the same (type, day) readout
  * declaratively off one events scan (FULL oracle — the per-day variant
  * of the `stats_hll_distinct` chain); StreamDistinctSpec pins stream ≡
  * batch under 1/5-way micro-batching plus replay-drop. */
object StreamDistinct extends graft.QueryModule {

  /** One finalized register row from the upstream windowed max-agg. */
  case class RegRow(event_type: String, epoch_day: Long, bucket: Long, m_j: Long)

  /** Finalized-day frontier per type (re-delivered days are dropped). */
  case class DistinctState(lastDay: Long)

  case class DistinctRow(event_type: String, epoch_day: Long, n_buckets: Long,
      v_zero: Long, s_scaled: Long, est_distinct: Double)

  /** The estimator fold shared by the streaming path and the spec replica
    * — bit-identical to the batch Column math: integer harmonic sum,
    * ((α·m²)·2⁵³)/S left-assoc, Math.log, HALF_UP round-4. */
  def estimate(regs: Seq[(Long, Long)]): (Long, Long, Long, Double) = {
    val occ = regs.length.toLong
    val sOcc = regs.map { case (_, mj) => 1L << (53 - mj) }.sum
    val s = sOcc + (Hll.M - occ) * Hll.Scale.toLong
    val v = Hll.M - occ
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val eRaw = Hll.Alpha * (Hll.M * Hll.M).toDouble * Hll.Scale / s.toDouble
    val est =
      if (eRaw <= 2.5 * Hll.M && v > 0L)
        r4(Hll.M.toDouble * math.log(Hll.M.toDouble / v.toDouble))
      else r4(eRaw)
    (occ, v, s, est)
  }

  /** Streaming finalizer: estimate-and-emit per closed day, frontier-only
    * state (the day's ≤M register rows co-arrive, per the upstream
    * append-mode contract). */
  def distinctStream(regs: Dataset[RegRow]): Dataset[DistinctRow] = {
    import regs.sparkSession.implicits._
    regs.groupByKey(_.event_type)
      .flatMapGroupsWithState[DistinctState, DistinctRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, rows: Iterator[RegRow], state) =>
          var last = state.getOption.fold(Long.MinValue)(_.lastDay)
          val out = Seq.newBuilder[DistinctRow]
          rows.toSeq.groupBy(_.epoch_day).toSeq.sortBy(_._1).foreach {
            case (day, rs) =>
              if (day > last) {
                val (occ, v, s, est) = estimate(rs.map(r => (r.bucket, r.m_j)))
                out += DistinctRow(tpe, day, occ, v, s, est)
                last = day
              }
          }
          state.update(DistinctState(last))
          out.result().iterator
      }
  }

  /** Batch twin for the oracle: the per-(type, day) HLL readout off one
    * events scan — `stats_hll_distinct`'s chain with `day` in the key. */
  def distinctBatch(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("event_type", "day")
    val ev = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    Hll.readout(Hll.registers(ev, keys), keys)
      .orderBy(col("event_type"), col("day"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_distinct" -> (distinctBatch _))

  val oracles: Map[String, String] = Map(
    "stream_distinct" ->
      (Hll.hllSqlBy("event_type, ts::DATE AS day", "event_type, day") +
        "\nORDER BY event_type, day"))
}
