package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import graft.dedup.MinHashLsh

/** Streaming near-duplicate detection — the MinHash-band dedup an
  * INCREMENTAL corpus ingest needs: each arriving document is checked
  * against history without ever joining against it. State is keyed by LSH
  * band bucket and holds only signatures (K longs per doc, never text or
  * shingle sets), so per-bucket state is tiny and uniformly spread; a new
  * doc compares against just its colliding buckets — O(bucket occupancy),
  * not O(history).
  *
  * Near-dup decision: estimated Jaccard = fraction of matching signature
  * components (the unbiased MinHash estimator) ≥ `SimThreshold`. Matches
  * are emitted per colliding band; consumers take DISTINCT (doc, earlier)
  * pairs — the same convention as the batch LSH family.
  *
  * State bound: `MaxPerBucket` newest signatures per bucket (a bucket that
  * hot-spots past that is, by construction, a pile of near-identical docs —
  * the newest members are the ones future arrivals need). Batch twin below
  * is rows-only for the driver (MinHash is not SQL-expressible);
  * StreamNearDupSpec replays stream-vs-batch equality across micro-batch
  * splits.
  */
object StreamNearDup extends graft.QueryModule {

  final case class Doc(doc_id: Long, text: String)
  final case class BucketState(docs: List[(Long, Seq[Long])])
  final case class NearDupMatch(doc_id: Long, earlier_id: Long, est_jaccard: Double)

  val SimThreshold = 0.5
  val MaxPerBucket = 64
  private val K = MinHashLsh.K

  /** Unbiased MinHash Jaccard estimate: matching components / K. Iterator
    * walk, so it is O(K) for ANY Seq runtime type (positional access on a
    * restored List state would be O(K²)). */
  def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var m = 0; var n = 0
    val ia = a.iterator; val ib = b.iterator
    while (ia.hasNext && ib.hasNext) { if (ia.next() == ib.next()) m += 1; n += 1 }
    math.round(m.toDouble / n * 10000) / 10000.0
  }

  /** Band-bucketed (bkey, doc_id, sig) rows — shared by the stream state,
    * the batch twin, and IncrementalNearDup's persisted signature store
    * (one definition, so the banding scheme cannot diverge between the
    * online and offline paths). */
  def banded(docs: DataFrame): DataFrame = {
    val sig = graft.functions.HashExprs.minhashSig(
      graft.functions.HashExprs.shingles3(col("text")))
    docs
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(MinHashLsh.Bands - 1))).as("band"))
      .select(MinHashLsh.bandKey(col("band"), col("sig")).as("bkey"),
        col("doc_id"), col("sig"))
  }

  /** Streaming path: stateful per-bucket signature store. Docs are assumed
    * to arrive in doc_id order across micro-batches (an ingest sequence
    * number); within a batch they are sorted, so pair flags are identical
    * however the stream is split into batches. */
  def nearDupStream(docs: Dataset[Doc]): Dataset[NearDupMatch] = {
    val s = docs.sparkSession
    import s.implicits._
    graft.functions.HashExprs.register(s)
    banded(docs.toDF()).as[(Long, Long, Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, NearDupMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Seq[Long])], state: GroupState[BucketState]) =>
          var st = state.getOption.getOrElse(BucketState(Nil))
          val out = List.newBuilder[NearDupMatch]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, sig) =>
            st.docs.foreach { case (eid, esig) =>
              if (eid < id) {
                val j = estJaccard(esig, sig)
                if (j >= SimThreshold) out += NearDupMatch(id, eid, j)
              }
            }
            if (!st.docs.exists(_._1 == id))
              st = BucketState(((id, sig) :: st.docs).take(MaxPerBucket))
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Batch twin (`stream_neardup`): DISTINCT (later, earlier) pairs whose
    * signatures collide in any band with estimated Jaccard ≥ threshold.
    * Stream ≡ batch EXACTLY while every bucket stays within
    * `MaxPerBucket` (true on the driver corpora; spec-proven across
    * micro-batch splits); past the bound the stream deliberately forgets a
    * bucket's oldest members — the documented state/recall trade of any
    * bounded streaming dedup — while the batch twin, which has the whole
    * corpus at once, keeps them. Rows-only for the driver (MinHash is not
    * SQL-expressible). */
  def nearDupBatch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    // persist: the self-join below would otherwise scan the corpus and
    // compute shingles + signatures twice (the dominant sketch cost);
    // tracked in CacheRegistry so the session releases it after the query
    val b = graft.CacheRegistry.track(
      banded(Tables.documents(s, dir).select(col("doc_id"), col("text"))))
    val a = b.select(col("bkey"), col("doc_id").as("earlier_id"), col("sig").as("a_sig"))
    val c = b.select(col("bkey"), col("doc_id").as("doc_id"), col("sig").as("b_sig"))
    // compiled single-pass component match count — the zip_with+aggregate
    // lambda formulation is interpreted AND re-inlined by Catalyst into both
    // the join condition and the downstream projection (SURVEY §6)
    val matches = round(
      graft.functions.HashExprs.sigMatchCount(col("a_sig"), col("b_sig"))
        .cast("double") / K, 4)
    a.join(c, Seq("bkey"))
      .filter(col("earlier_id") < col("doc_id"))
      .withColumn("est_jaccard", matches)
      .filter(col("est_jaccard") >= SimThreshold)
      .select("doc_id", "earlier_id", "est_jaccard")
      .distinct()
      .orderBy(col("doc_id"), col("earlier_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_neardup" -> (nearDupBatch _))

  /** Rows-only: MinHash signatures are not SQL-expressible. StreamNearDupSpec
    * replays stream-vs-batch equality and RowsOnlyCanarySpec pins the output. */
  val oracles: Map[String, String] = Map.empty
}
