package graft.stats

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** Exact heavy hitters via a Misra-Gries candidate sketch + exact verify
  * pass — the two-phase shape frequency mining takes at 100 TB, where a
  * plain `groupBy(term).count().orderBy(n)` shuffles the ENTIRE vocabulary
  * (billions of distinct tokens on a web corpus) to rank a handful.
  *
  *  - Phase 1: a typed `Aggregator` runs the Misra-Gries summary (m
  *    counters) map-side per partition and merges summaries on the
  *    combiner tree — only m (term, weight) pairs per partition ever move.
  *    MG guarantees every term with true frequency > n/(m+1) survives.
  *  - Phase 2: the ≤m candidates broadcast back, and ONLY their rows are
  *    counted exactly (map-side combinable groupBy over a semi-joined
  *    stream). Output = exact top-k with exact counts, provided the k-th
  *    hitter clears the n/(m+1) bar — which it does by orders of magnitude
  *    on any corpus where top-k is a meaningful question (the spec pins the
  *    guarantee on adversarial synthetic data, including sketch eviction).
  *
  * The DuckDB oracle is the plain exact top-k: the sketch changes the
  * PLAN, never the answer.
  */
object HeavyHitters extends graft.QueryModule {

  val Counters = 256
  val TopK = 20

  /** Misra-Gries summary over a stream of terms, carrying the exact total
    * term count beside the counter map (the n the survival guarantee is
    * stated against — free to track, saves a separate counting pass). The
    * buffer map is bounded at `m` entries; reduce is amortized O(1) (every
    * decrement round removes mass added earlier). */
  final class MisraGries(m: Int)
      extends Aggregator[String, (mutable.HashMap[String, Long], Long), (Array[String], Long)] {
    def zero: (mutable.HashMap[String, Long], Long) = (mutable.HashMap.empty, 0L)

    def reduce(buf: (mutable.HashMap[String, Long], Long), w: String): (mutable.HashMap[String, Long], Long) = {
      val b = buf._1
      b.get(w) match {
        case Some(c) => b.update(w, c + 1)
        case None if b.size < m => b.update(w, 1L)
        case None =>
          // decrement-all: drop one unit of every counter (and the new item)
          val dead = mutable.ArrayBuffer.empty[String]
          b.foreach { case (k, c) => if (c == 1L) dead += k else b.update(k, c - 1) }
          dead.foreach(b.remove)
      }
      (b, buf._2 + 1)
    }

    def merge(buf1: (mutable.HashMap[String, Long], Long), buf2: (mutable.HashMap[String, Long], Long)): (mutable.HashMap[String, Long], Long) = {
      val b1 = buf1._1
      buf2._1.foreach { case (k, c) => b1.update(k, b1.getOrElse(k, 0L) + c) }
      if (b1.size > m) {
        // standard summary merge: subtract the (m+1)-th largest weight so at
        // most m survive; preserves the freq > n/(m+1) survival guarantee
        val cut = b1.values.toArray.sorted(Ordering[Long].reverse).apply(m)
        val dead = mutable.ArrayBuffer.empty[String]
        b1.foreach { case (k, c) => if (c - cut <= 0L) dead += k else b1.update(k, c - cut) }
        dead.foreach(b1.remove)
      }
      (b1, buf1._2 + buf2._2)
    }

    def finish(b: (mutable.HashMap[String, Long], Long)): (Array[String], Long) =
      (b._1.keys.toArray.sorted, b._2)
    def bufferEncoder: Encoder[(mutable.HashMap[String, Long], Long)] = Encoders.kryo
    def outputEncoder: Encoder[(Array[String], Long)] = Encoders.kryo
  }

  /** Candidate terms (≤ m strings) and the exact total term count from one
    * distributed MG pass. */
  private[stats] def candidates(s: SparkSession, dir: String, m: Int): (Array[String], Long) = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "").as[String]
      .select(new MisraGries(m).toColumn)
      .head()
  }

  /** `stats_heavy_hitters`: exact top-20 corpus terms, sketch-pruned. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cand, total) = candidates(s, dir, Counters)
    // degenerate guarantee failure: a distribution so flat that NO term
    // cleared n/(m+1) — the sketch's decrement/trim rounds emptied it. An
    // empty "top-k" over a non-empty corpus would be silently wrong; the
    // row-level check below cannot fire on zero rows, so fail here.
    require(cand.nonEmpty || total == 0,
      s"heavy-hitters guarantee violated: the sketch retained no candidates " +
        s"over $total terms (every count ≤ n/(m+1)); raise Counters")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term"))
    Tables.documents(s, dir)
      .select(explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      // only candidate terms are counted — the vocabulary-wide shuffle is
      // replaced by a broadcast-semi prune + a ≤m-key aggregation
      .join(broadcast(cand.toSeq.toDF("term")), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      // global candidate stats for the completeness check below — the
      // unpartitioned window runs over ≤ m rows, not the corpus
      .withColumn("_cand_terms", count(lit(1)).over(wAll))
      .withColumn("_cand_mass", sum(col("n")).over(wAll))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      // runtime guarantee checks (assert_true raises at EXECUTION, once the
      // exact counts exist):
      // (a) every emitted hitter's exact count must clear the n/(m+1)
      //     survival bar — only terms ABOVE it provably cannot be outranked
      //     by a non-candidate;
      .filter(assert_true(col("n") * (Counters + 1) > lit(total),
        lit(s"heavy-hitters guarantee violated: a top-$TopK count is ≤ " +
          s"n/(m+1) and a non-candidate could outrank it; raise Counters")).isNull)
      // (b) completeness: fewer than TopK candidates while non-candidate
      //     terms exist (candidate mass < total) means ranks beyond the
      //     candidate list belong to terms the sketch lost — the "top-k"
      //     would be silently truncated, not exact
      .filter(assert_true(
        col("_cand_terms") >= TopK || col("_cand_mass") === lit(total),
        lit(s"heavy-hitters guarantee violated: the sketch kept fewer than " +
          s"$TopK candidate terms while unseen vocabulary remains; raise Counters")).isNull)
      .drop("_cand_terms", "_cand_mass")
      .orderBy(col("rk"))
  }

  private def wAll = org.apache.spark.sql.expressions.Window
    .partitionBy()
    .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_heavy_hitters" -> (heavyHitters _))

  private val w = "regexp_split_to_array(text, '\\s+')"

  val oracles: Map[String, String] = Map(
    "stats_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($w) AS term FROM documents),
         |c AS (SELECT term, count(*) AS n FROM t WHERE term != '' GROUP BY term)
         |SELECT term, n, rk FROM (
         | SELECT *, row_number() OVER (ORDER BY n DESC, term) AS rk FROM c) z
         |WHERE rk <= $TopK ORDER BY rk""".stripMargin)
}
