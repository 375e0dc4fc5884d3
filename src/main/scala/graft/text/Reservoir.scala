package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28q `sample_reservoir` — distributed uniform reservoir sample via
  * hash-priority bottom-k (Vitter's reservoir semantics made deterministic
  * and mergeable: assign every document the priority md5(doc_id), keep the
  * k smallest). This is THE distributed form of reservoir sampling — each
  * partition keeps its own k smallest (a per-partition reservoir), and the
  * merge of reservoirs is just "k smallest of the union", which is exactly
  * what Spark's TakeOrderedAndProject computes (per-partition heads, one
  * k-row driver merge — never a global sort). Unlike `rand()`-based
  * TABLESAMPLE the sample is content-stable: the same corpus yields the
  * same sample on any engine, any partitioning, any cluster size, and the
  * sample is INCREMENTALLY maintainable (new docs only displace old ones
  * if their hash is smaller — the bottom-k sketch union). Complements the
  * family: `sample_stratified`/`sample_temperature` pick by rates,
  * `sample_pps_systematic` by weight, this is the unweighted-uniform
  * primitive.
  *
  * Scale: one map-side projection (md5 of an 8-byte id), one TakeOrdered
  * of k rows per partition; zero shuffles, zero windows. */
object Reservoir extends graft.QueryModule {

  /** Reservoir size k. */
  val TargetK = 64

  def reservoir(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(TargetK)
  }

  // ------------------------------------------------------------------
  // Streaming twin: the bottom-k sketch maintained as keyed state.
  // The scaladoc's "incrementally maintainable" claim made executable: a
  // live ingest keeps the SAME sample the batch query computes, with
  // O(shards · k) total state however long the stream runs. Sharding by
  // doc_id % NumShards is the distributed form — per-shard reservoirs are
  // independent keyed state (no global hot key), and the global sample is
  // the bottom-k of the union of shard reservoirs (the sketch-union
  // property: every global bottom-k row is its shard's bottom-k row).
  // Each update emits the shard's full (≤k-row) reservoir; the final
  // sample is the bottom-k over all emissions — displaced rows rank
  // strictly worse, so the union can only add losers.
  // ------------------------------------------------------------------

  val NumShards = 8

  case class DocIn(doc_id: Long, lang: String, n_chars: Long)
  case class ResRow(shard: Int, priority: String, doc_id: Long,
    lang: String, n_chars: Long)
  case class ShardState(rows: Seq[ResRow])

  private[text] def md5Hex(v: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def reservoirStream(in: org.apache.spark.sql.Dataset[DocIn])
      : org.apache.spark.sql.Dataset[ResRow] = {
    import in.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    in.groupByKey(d => (d.doc_id % NumShards).toInt)
      .flatMapGroupsWithState[ShardState, ResRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[DocIn], state) =>
          val fresh = rows.map(d =>
            ResRow(shard, md5Hex(d.doc_id.toString), d.doc_id, d.lang, d.n_chars))
          val merged = (state.getOption.fold(Seq.empty[ResRow])(_.rows) ++ fresh)
            .distinctBy(_.doc_id)
            .sortBy(r => (r.priority, r.doc_id)).take(TargetK)
          state.update(ShardState(merged))
          merged.iterator
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_reservoir" -> (reservoir _))

  val oracles: Map[String, String] = Map(
    "sample_reservoir" ->
      s"""SELECT doc_id, lang, n_chars, md5(doc_id::VARCHAR) AS priority
         |FROM documents
         |ORDER BY priority, doc_id
         |LIMIT $TargetK""".stripMargin)
}
