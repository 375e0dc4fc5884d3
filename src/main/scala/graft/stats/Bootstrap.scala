package graft.stats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #35p `stats_bootstrap` — Poisson-bootstrap confidence interval of the
  * per-type mean value: THE resampling scheme that actually works on
  * cluster-scale data (Chamandy et al., "Estimating Uncertainty for
  * Massive Data Streams", Google 2012; Kleiner et al.'s BLB is the other
  * lineage). Classic bootstrap resamples n rows WITH replacement B times —
  * impossible without materializing B copies or coordinating a global
  * sample; the Poisson approximation gives every (row, replicate) an
  * independent Poisson(1) multiplicity, turning all B resamples into ONE
  * scan with a per-row explode and a map-side-combinable weighted
  * aggregate. The CI a team actually wants next to `stats_ttest`'s
  * parametric t: distribution-free error bars on any corpus mean.
  *
  * Determinism contract (the house checklist):
  *  - multiplicities are pure hash arithmetic — ONE 48-bit md5 coordinate
  *    per ROW (h = first 12 md5 hex chars of the event id), fanned to the
  *    B replicates by the affine family hu_b = ((2b+1)·h + 40503·b + 13)
  *    mod 2⁴⁸ (the MinHash signature trick, `HashExprs.minhashSig`: an
  *    odd multiplier is a bijection of the 2⁴⁸ ring, so every replicate
  *    coordinate stays uniform while the corpus pays |rows| digests
  *    instead of |rows|·B — the difference between 0.6 M and 38 M md5
  *    calls at sf0.1); weight = #{k : hu_b ≥ [[Thresholds]](k)} with
  *    T(k) = ⌊P(Poisson(1) ≤ k)·2⁴⁸⌋ — integer compares against literals
  *    interpolated into BOTH engines from the same Scala constants (zero
  *    drift by construction; (2b+1)·h < 2⁵⁵ keeps the product BIGINT-safe
  *    in both engines);
  *  - row values integerize at the source (vi = round(value·10⁴) BIGINT),
  *    so Σ(k·vi) and Σk are exact order-independent integers; each
  *    replicate mean is ONE fixed-form IEEE readout (skv/sk/10⁴);
  *  - the CI is ORDER STATISTICS, not float arithmetic: lo = the
  *    (⌊R·25/1000⌋+1)-th smallest replicate mean, hi = the mirrored
  *    index from the top (R = surviving replicates; B=64 → ranks 2 and
  *    63 — an empirical ~95% interval), integer rank arithmetic in both
  *    engines.
  *
  * Scale: the explode is ×[[B]] on the value+id projection only (a 100 TB
  * fact table pays one pruned-scan × 64 pass — embarrassingly parallel,
  * no skew since weights are iid); the aggregate is |types|·B rows, the
  * order-statistics pass runs on that bounded frame (collect_list of B
  * doubles per type — the `emb_kmeans` bounded-artifact pattern). Range
  * trade declared: Σ(k·vi) < 7·10⁴·|v|max·n — BIGINT-safe below ~10¹⁴
  * rows per type at |v|max = 10³. */
object Bootstrap extends graft.QueryModule {

  /** Bootstrap replicates. */
  val B = 64
  /** Poisson(1) weight cap: P(K > 7) < 1.1e-5 — the truncation is part of
    * the declared scheme (both engines apply the identical CDF table). */
  val MaxK = 7
  /** Row-value fixed-point scale (1e-4 units). */
  val VScale = 10000L

  /** T(k) = ⌊P(Poisson(1) ≤ k)·2⁴⁸⌋ for k = 0..MaxK-1; a 48-bit hash
    * coordinate ≥ T(k) means the multiplicity exceeds k. Interpolated
    * verbatim into the Spark Columns AND the DuckDB oracle. */
  val Thresholds: Seq[Long] = {
    var term = math.exp(-1.0) // P(K = 0)
    var cum = 0.0
    (0 until MaxK).map { k =>
      cum += term
      term = term / (k + 1).toDouble
      (cum * 281474976710656.0).toLong // 2^48
    }
  }

  private def weight(hu: Column): Column =
    Thresholds.map(t => when(hu >= lit(t), 1L).otherwise(0L)).reduce(_ + _)

  /** 2⁴⁸ — the hash-coordinate ring. */
  val HSpace = 281474976710656L

  def bootstrap(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_type"),
        conv(substring(md5(col("event_id").cast("string")), 1, 12), 16, 10)
          .cast("long").as("h"),
        round(col("value") * lit(VScale.toDouble), 0).cast("long").as("vi"))
    val hu = ((lit(2L) * col("b") + 1L) * col("h") +
      lit(40503L) * col("b") + 13L) % lit(HSpace)
    val reps = base
      .select(col("event_type"), col("h"), col("vi"),
        explode(sequence(lit(0L), lit(B - 1L))).as("b"))
      .select(col("event_type"), col("b"), col("vi"), weight(hu).as("k"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("k") * col("vi")).as("skv"), sum(col("k")).as("sk"))
      .filter(col("sk") > 0L)
      .select(col("event_type"), col("b"),
        (col("skv").cast("double") / col("sk") / lit(VScale.toDouble)).as("mean_r"))
    val ci = reps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_reps"),
        sort_array(collect_list(col("mean_r"))).as("ms"))
      .select(col("event_type"), col("n_reps"),
        element_at(col("ms"),
          (expr("(n_reps * 25) div 1000") + 1L).cast("int")).as("lo"),
        element_at(col("ms"),
          (col("n_reps") - expr("(n_reps * 25) div 1000")).cast("int")).as("hi"))
    val full = Tables.events(s, dir)
      .select(col("event_type"),
        round(col("value") * lit(VScale.toDouble), 0).cast("long").as("vi"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("vi")).as("svi"))
    // both sides are |types|-row aggregates — the join broadcasts
    full.join(broadcast(ci), Seq("event_type"))
      .select(col("event_type"), col("n_rows"),
        round(col("svi").cast("double") / col("n_rows") / lit(VScale.toDouble), 4)
          .as("mean_full"),
        col("n_reps"), round(col("lo"), 4).as("ci_lo"), round(col("hi"), 4).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_bootstrap" -> (bootstrap _))

  private val thrSql = Thresholds.map(t => s"(hu >= $t)::INT").mkString(" + ")

  val oracles: Map[String, String] = Map(
    "stats_bootstrap" ->
      s"""WITH base AS MATERIALIZED (
         | SELECT event_type,
         |  ('0x' || substr(md5(event_id::VARCHAR), 1, 12))::BIGINT AS h,
         |  round(value * $VScale.0, 0)::BIGINT AS vi
         | FROM events),
         |reps AS MATERIALIZED (
         | SELECT event_type, b, sum(k * vi)::BIGINT AS skv, sum(k)::BIGINT AS sk
         | FROM (
         |  SELECT event_type, vi, b, ($thrSql)::BIGINT AS k
         |  FROM (
         |   SELECT event_type, vi, r.b AS b,
         |    ((2 * r.b + 1) * h + 40503 * r.b + 13) % $HSpace AS hu
         |   FROM base CROSS JOIN (SELECT unnest(range(0, $B))::BIGINT AS b) r))
         | GROUP BY 1, 2 HAVING sum(k) > 0),
         |ranked AS (
         | SELECT event_type, skv::DOUBLE / sk / $VScale.0 AS mean_r,
         |  row_number() OVER (PARTITION BY event_type ORDER BY skv::DOUBLE / sk / $VScale.0) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS n_reps
         | FROM reps),
         |sel AS (
         | SELECT event_type, n_reps::BIGINT AS n_reps,
         |  max(CASE WHEN rn = (n_reps * 25) // 1000 + 1 THEN mean_r END) AS lo,
         |  max(CASE WHEN rn = n_reps - (n_reps * 25) // 1000 THEN mean_r END) AS hi
         | FROM ranked GROUP BY 1, 2),
         |f AS (
         | SELECT event_type, count(*)::BIGINT AS n_rows,
         |  sum(round(value * $VScale.0, 0)::BIGINT)::BIGINT AS svi
         | FROM events GROUP BY 1)
         |SELECT f.event_type, f.n_rows,
         | round(f.svi::DOUBLE / f.n_rows / $VScale.0, 4) AS mean_full,
         | s.n_reps, round(s.lo, 4) AS ci_lo, round(s.hi, 4) AS ci_hi
         |FROM f JOIN sel s USING (event_type)
         |ORDER BY event_type""".stripMargin)
}
