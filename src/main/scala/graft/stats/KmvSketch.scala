package graft.stats

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** #35d KMV (k-minimum-values) distinct-count sketch (SURVEY.md §2).
  *
  * The mergeable distinct-count sketch (Bar-Yossef et al. 2002; the theta-
  * sketch family's simplest member): keep the K smallest hash values seen;
  * if fewer than K exist the sketch IS the exact distinct count, otherwise
  * n̂ = (K−1)·M / h(K) where h(K) is the K-th minimum and M the hash range.
  * Per-partition buffers are K longs, merges are min-set unions — the
  * partial-aggregate shape that counts distinct users per key at 100 TB by
  * moving K values per partition instead of shuffling the key universe
  * (`stats_approx` demonstrates Spark's built-in HLL++; this is the same
  * contract as a from-scratch typed `Aggregator`, and unlike HLL it is
  * FULLY oracle-checkable).
  *
  * Everything is deterministic: the hash is an integer LCG both engines
  * evaluate exactly, the K-th minimum of a set has one value however the
  * data is partitioned (the spec pins partitioning invariance), and the
  * estimator is one fixed-form IEEE expression — so the oracle replays the
  * whole sketch with `row_number() ... WHERE rn <= K`, hash-exact. Sequential
  * ids under a golden-ratio multiplier are low-discrepancy (three-distance
  * theorem), so accuracy here is better than the random-hash K⁻¹ᐟ² bound —
  * the spec checks the weaker random-hash bound.
  */
object KmvSketch extends graft.QueryModule {

  val K = 64
  val HashP = 2147483647L // 2^31 − 1: hash range M, also the estimator scale
  val HashA = 2654435761L // Knuth's golden-ratio multiplier
  val HashB = 40503L

  /** Bounded min-set as a sorted ascending Array[Long] of ≤ k DISTINCT
    * values (a primitive array survives the kryo buffer round-trip exactly;
    * ordered collections do not). The common post-warmup case — a full
    * sketch and h ≥ current cap — is a branch and no allocation. */
  final class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], (Long, Long)] {
    def zero: Array[Long] = Array.emptyLongArray

    def reduce(b: Array[Long], h: Long): Array[Long] = {
      if (b.length >= k && h >= b(b.length - 1)) return b
      val i = java.util.Arrays.binarySearch(b, h)
      if (i >= 0) return b // already held
      val at = -i - 1
      val n = math.min(b.length + 1, k)
      val out = new Array[Long](n)
      System.arraycopy(b, 0, out, 0, at)
      out(at) = h
      System.arraycopy(b, at, out, at + 1, n - at - 1)
      out
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
      var acc = big
      var i = 0
      while (i < small.length) { acc = reduce(acc, small(i)); i += 1 }
      acc
    }

    /** (k_used, kth_hash): how many minima the sketch holds and the largest
      * of them — the two numbers the estimator needs. */
    def finish(b: Array[Long]): (Long, Long) =
      (b.length.toLong, if (b.isEmpty) 0L else b(b.length - 1))

    def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo
    def outputEncoder: Encoder[(Long, Long)] = Encoders.product
  }

  /** `stats_kmv_distinct`: distinct users per event type, sketch-estimated.
    * At sf0.001 every type has < K distinct users (exact branch); at
    * sf0.01/sf0.1 the estimator branch runs — both paths oracle-checked. */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val est = when(col("k_used") < K, round(col("k_used").cast("double"), 4))
      .otherwise(round(lit(K - 1) * lit(2147483647.0) / col("kth_hash"), 4))
    Tables.events(s, dir)
      .select(col("event_type"),
        ((col("user_id") * HashA + HashB) % HashP).as("hv"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new KmvAgg(K).toColumn.name("kmv"))
      .toDF("event_type", "kmv")
      .select(col("event_type"), col("kmv._1").as("k_used"),
        col("kmv._2").as("kth_hash"))
      .withColumn("est_distinct", est)
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_kmv_distinct" -> (kmvDistinct _))

  val oracles: Map[String, String] = Map(
    "stats_kmv_distinct" ->
      s"""WITH h AS (
         | SELECT DISTINCT event_type,
         |  (user_id * $HashA + $HashB) % $HashP AS hv
         | FROM events),
         |r AS (SELECT event_type, hv,
         |  row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         | FROM h),
         |k AS (SELECT event_type, count(*) AS k_used, max(hv) AS kth_hash
         | FROM r WHERE rn <= $K GROUP BY 1)
         |SELECT event_type, k_used, kth_hash,
         | CASE WHEN k_used < $K THEN round(k_used::DOUBLE, 4)
         |      ELSE round(($K - 1) * 2147483647.0 / kth_hash, 4) END AS est_distinct
         |FROM k ORDER BY event_type""".stripMargin)
}
