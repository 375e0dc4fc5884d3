package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.stats.Linreg

/** #33l `stream_linreg` — the LIVE capacity model: `stats_linreg`'s
  * multiple regression (value ~ hour + dow per event type) maintained on
  * an unbounded event stream. The deployment insight is that OLS via the
  * normal equations is ALREADY a streaming algorithm: the ten sufficient
  * moments are sums and a count — exactly the mergeable statistics
  * Structured Streaming's aggregation state holds natively — and the
  * whole Cramer/R² solve is a STATELESS projection over the moment row,
  * legal after a streaming aggregation. So the live model is
  * `readout(momentsOf(stream))` in update mode: O(|types|) state forever,
  * no window, no custom state class, and every micro-batch emits the
  * refreshed coefficients per type — the "is the weekend dip real?"
  * number, continuously current.
  *
  * Stream ≡ batch is EXACT, not approximate: integer moment sums are
  * order- and batching-independent, and the readout is the same shared
  * formula strings `stats_linreg` feeds to both engines — so the
  * streaming coefficients after any micro-batching equal the batch
  * query's bit for bit (spec-pinned across batchings, including the
  * mid-stream update trajectory being the batch answer of each prefix).
  *
  * The registered batch twin runs the identical momentsOf→readout chain
  * over the batch fact frame; its oracle IS the registered
  * `stats_linreg` oracle (the `stream_quality_score` triangle: streaming
  * path ≡ batch twin ≡ cross-engine replay). */
object StreamLinreg extends graft.QueryModule {

  /** Streaming-legal scorer: works on any (event_type, y, x1, x2) frame,
    * batch or streaming. Update-mode aggregation + stateless readout. */
  def modelFrame(facts: DataFrame): DataFrame =
    Linreg.readout(Linreg.momentsOf(facts))

  /** Batch twin for the gate. */
  def modelBatch(s: SparkSession, dir: String): DataFrame =
    modelFrame(Linreg.factFrame(s, dir)).orderBy(col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_linreg" -> (modelBatch _))

  val oracles: Map[String, String] = Map(
    "stream_linreg" -> Linreg.oracles("stats_linreg"))
}
