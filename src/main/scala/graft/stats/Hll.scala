package graft.stats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #35m `stats_hll_distinct` + #35n `stats_sketch_eval` (SURVEY.md §2).
  *
  * HyperLogLog (Flajolet et al. 2007) — THE industry distinct-count sketch
  * (Redis PFCOUNT, BigQuery APPROX_COUNT_DISTINCT, Spark's own
  * approx_count_distinct): [[M]] registers each holding the maximum
  * "leading-zero rank" ρ seen in its hash sub-stream; the harmonic mean of
  * 2^−register estimates the cardinality. Registers are max-aggregates —
  * map-side combinable, mergeable across partitions/days/tables — so the
  * sketch costs M bytes per group however large the stream: the
  * constant-state sibling of `stats_kmv_distinct`'s K-values state (HLL
  * trades KMV's unbiased-small-range exactness for 8× less state at equal
  * error — exactly the trade `stats_sketch_eval` measures).
  *
  * Unlike Spark's built-in HLL++ (`stats_approx`, engine-private binary —
  * rows-only by declared design), THIS sketch is built from cross-engine
  * primitives and is FULLY oracle-checked:
  *  - hash = md5 of the value's decimal string (the house md5-twin
  *    convention): bucket = low 6 bits of the first byte (hex chars 1-2),
  *    ρ-window w = hex chars 3-15 (52 independent bits);
  *  - ρ = 53 − bitlength(w) (leading zeros + 1), bitlength via the
  *    length of the base-2 string — `conv(w,10,2)` (Spark) / `bin(w)`
  *    (DuckDB) both render positive integers without leading zeros, so
  *    the rank is integer-exact in both engines;
  *  - the harmonic sum is kept INTEGER: Σ 2^(53−ρ_max) per register (each
  *    term ≤ 2^52, 64 registers + empty-register terms of 2^53 ⇒ sum
  *    < 2^60 — no float-sum order dependence, the `ts_lttb` discipline);
  *    the estimate is ONE float division of exact integers, α·m²·2^53/S,
  *    with the standard linear-counting small-range correction
  *    m·ln(m/V) when E ≤ 2.5m and V>0 empty registers remain.
  *
  * Scale: one map-side projection (md5 + substrings), a (group, bucket)
  * max-aggregate (≤ 64·|groups| rows), a |groups|-row readout. Nothing
  * super-linear, no driver state, mergeable by construction.
  */
object Hll extends graft.QueryModule {

  /** Register count m (p = 6 index bits). */
  val M = 64
  /** Bias constant α₆₄ (Flajolet et al. §4 give α₆₄ = 0.709 for m=64). */
  val Alpha = 0.709
  /** 2^53 — the integer scaling of the harmonic sum (max ρ = 53). */
  val Scale = 9007199254740992.0

  private def hex(c: Column): Column = md5(c.cast("string").cast("binary"))

  /** The (key, bucket) → register frame: one row per occupied register.
    * `ev` must carry the group-key columns plus `user_id`. Exposed so the
    * streaming twin (`stream_distinct`) feeds the SAME register chain
    * through its stateful finalizer. */
  private[graft] def registers(ev: DataFrame, keys: Seq[String]): DataFrame = {
    val h = hex(col("user_id"))
    val bucket = (conv(substring(h, 1, 2), 16, 10).cast("long") % M).as("bucket")
    val w = conv(substring(h, 3, 13), 16, 10).cast("long")
    val rho = when(w === 0L, lit(53L))
      .otherwise(lit(53L) - length(conv(w, 10, 2)).cast("long"))
    ev.select(keys.map(col) :+ bucket :+ rho.as("rho"): _*)
      .groupBy((keys :+ "bucket").map(col): _*).agg(max(col("rho")).as("m_j"))
  }

  /** Register frame → per-key sketch readout (occupied count, empty count,
    * exact integer harmonic sum, α-estimate with linear counting). */
  private[graft] def readout(regs: DataFrame, keys: Seq[String]): DataFrame = {
    val sOcc = sum(call_function("shiftleft", lit(1L),
      (lit(53L) - col("m_j")).cast("int"))).as("s_occ")
    val sScaled = (col("s_occ") +
      (lit(M.toLong) - col("occ")) * lit(Scale.toLong)).as("s_scaled")
    val eRaw = lit(Alpha) * lit((M * M).toDouble) * lit(Scale) /
      col("s_scaled").cast("double")
    val est = when(eRaw <= lit(2.5 * M) && col("v_zero") > 0L,
        round(lit(M.toDouble) * log(lit(M.toDouble) / col("v_zero").cast("double")), 4))
      .otherwise(round(eRaw, 4))
    regs.groupBy(keys.map(col): _*).agg(count(lit(1)).as("occ"), sOcc)
      .select(keys.map(col) :+ col("occ").as("n_buckets") :+
        (lit(M.toLong) - col("occ")).as("v_zero") :+ sScaled: _*)
      .withColumn("est_distinct", est)
  }

  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("event_type")
    readout(registers(Tables.events(s, dir), keys), keys)
      .orderBy(col("event_type"))
  }

  /** #35n `stats_sketch_eval` — measured relative error of BOTH shipped
    * distinct sketches (KMV, HLL) against the exact distinct count, per
    * group: the `ann_recall_eval` discipline applied to the sketch family
    * (the audit that tells a team which sketch/size to trust before a
    * 100 TB rollout). Drift-proof composition: re-runs each sketch's own
    * registered query; the oracle embeds each sketch's own registered
    * oracle. Exact truth is expensive BY DEFINITION (a full distinct per
    * group — affordable at gate scale, the point of the sketches at 100
    * TB; the audit runs on a sampled slice there, like the recall evals). */
  def sketchEval(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.events(s, dir).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val kmv = KmvSketch.kmvDistinct(s, dir)
      .select(col("event_type"), col("est_distinct").as("kmv_est"))
    val hll = hllDistinct(s, dir)
      .select(col("event_type"), col("est_distinct").as("hll_est"))
    // n_exact = 0 (a group whose rows all carry NULL user_id) would divide
    // by zero: Spark NULL vs DuckDB inf — guard both engines identically.
    def err(est: Column): Column =
      when(col("n_exact") > 0L, round((est - col("n_exact")) / col("n_exact"), 4))
    // |event types| rows per side — broadcast the sketch readouts
    exact.join(broadcast(kmv), Seq("event_type"))
      .join(broadcast(hll), Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        col("kmv_est"), err(col("kmv_est")).as("kmv_rel_err"),
        col("hll_est"), err(col("hll_est")).as("hll_rel_err"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_hll_distinct" -> (hllDistinct _),
    "stats_sketch_eval" -> (sketchEval _))

  /** The whole sketch chain in DuckDB, parameterized by group key
    * (`keyExpr` projects it from events, `keyCols` names it downstream) —
    * shared verbatim by `stats_hll_distinct`, `stats_sketch_eval`, and the
    * streaming twin's per-day oracle. */
  private[graft] def hllSqlBy(keyExpr: String, keyCols: String): String =
    s"""WITH hh AS (
       | SELECT $keyExpr,
       |  ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::BIGINT % $M AS bucket,
       |  ('0x' || substr(md5(user_id::VARCHAR), 3, 13))::BIGINT AS w
       | FROM events),
       |reg AS (
       | SELECT $keyCols, bucket,
       |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END)::BIGINT AS m_j
       | FROM hh GROUP BY $keyCols, bucket),
       |agg AS (
       | SELECT $keyCols, count(*)::BIGINT AS occ,
       |  sum(1::BIGINT << (53 - m_j))::BIGINT AS s_occ
       | FROM reg GROUP BY $keyCols),
       |fin AS (
       | SELECT $keyCols, occ AS n_buckets, ($M - occ)::BIGINT AS v_zero,
       |  (s_occ + ($M - occ) * (1::BIGINT << 53))::BIGINT AS s_scaled
       | FROM agg)
       |SELECT $keyCols, n_buckets, v_zero, s_scaled,
       | CASE WHEN $Alpha * ${M * M}.0 * $Scale / s_scaled <= ${2.5 * M}
       |        AND v_zero > 0
       |      THEN round($M.0 * ln($M.0 / v_zero), 4)
       |      ELSE round($Alpha * ${M * M}.0 * $Scale / s_scaled, 4) END AS est_distinct
       |FROM fin""".stripMargin

  private val hllSql: String = hllSqlBy("event_type", "event_type")

  val oracles: Map[String, String] = Map(
    "stats_hll_distinct" -> s"$hllSql\nORDER BY event_type",
    "stats_sketch_eval" ->
      s"""WITH x AS (
         | SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
         | FROM events GROUP BY 1),
         |kv AS (SELECT event_type, est_distinct AS kmv_est FROM (
         |${KmvSketch.oracles("stats_kmv_distinct")}
         |) tk),
         |hv AS (SELECT event_type, est_distinct AS hll_est FROM (
         |$hllSql
         |) th)
         |SELECT x.event_type, x.n_exact,
         | kv.kmv_est,
         | CASE WHEN x.n_exact > 0
         |   THEN round((kv.kmv_est - x.n_exact) / x.n_exact, 4) END AS kmv_rel_err,
         | hv.hll_est,
         | CASE WHEN x.n_exact > 0
         |   THEN round((hv.hll_est - x.n_exact) / x.n_exact, 4) END AS hll_rel_err
         |FROM x JOIN kv USING (event_type) JOIN hv USING (event_type)
         |ORDER BY event_type""".stripMargin)
}
