package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #35s `stats_mannwhitney` — Mann–Whitney U rank-sum test per event-type
  * pair (Mann & Whitney 1947; the normal approximation with tie
  * correction per Lehmann, Nonparametrics 1975) (SURVEY.md §2).
  *
  * The robust complement to `stats_ttest`: Welch's t asks "do the MEANS
  * differ" and one heavy-tailed day can swing it; the U test asks "does
  * one distribution stochastically dominate" using only RANKS — the
  * test an experimenter trusts when value distributions are skewed
  * (they always are: the events table is exponential). Same samples as
  * the t-test (the per-(type, day) integerized daily sums — one shared
  * definition, so the two tests disagree only for DISTRIBUTIONAL
  * reasons, never data-prep reasons).
  *
  * Exactness: tie-averaged ranks are half-integers, so DOUBLED ranks
  * stay exact BIGINTs — rank2 = 2·min_rank + (tie_size − 1); the rank
  * sum R2a and doubled statistic U2a = R2a − na(na+1) are exact integer
  * sums; the tie correction Σ(t³ − t) is exact; z is ONE fixed-form
  * expression of those integers (round 4), NULL when the pooled sample
  * is constant (σ = 0 — no fake significance). `significant` at
  * |z| ≥ 1.96.
  *
  * Scale: the daily integerization is one map-side aggregate over the
  * fact stream (shared with `stats_ttest`); everything pairwise runs on
  * the |types|²·|days| microframe (≤ 10 pairs × 60 rows here — windows
  * partition per PAIR, the bounded-microframe class), so the corpus-
  * proportional cost is exactly one pass. */
object MannWhitney extends graft.QueryModule {

  val ZFlag = 1.96

  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val d = graft.CacheRegistry.track(
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")).cast("long").as("vi")))
    val types = d.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(broadcast(types.select(col("event_type").as("type_b"))))
      .filter(col("type_a") < col("type_b"))
    // pooled per-pair sample, tagged by side
    val pooled = pairs.join(d, col("event_type") === col("type_a") ||
        col("event_type") === col("type_b"))
      .select(col("type_a"), col("type_b"),
        (col("event_type") === col("type_a")).as("is_a"), col("vi"))
    val wRank = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("vi"))
    val wTie = Window.partitionBy(col("type_a"), col("type_b"), col("vi"))
    val ranked = pooled
      .withColumn("r2", lit(2L) * rank().over(wRank) + count(lit(1)).over(wTie) - 1L)
    val agg = ranked.groupBy(col("type_a"), col("type_b"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("is_a"), col("r2")).otherwise(0L)).as("r2a"))
    val ties = pooled.groupBy(col("type_a"), col("type_b"), col("vi"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    val u2a = col("r2a") - col("na") * (col("na") + 1L)
    val nn = col("na") + col("nb")
    // σ² of U with tie correction: na·nb/12 · ((N+1) − Σ(t³−t)/(N(N−1)))
    val sigma2 = col("na").cast("double") * col("nb").cast("double") / 12.0 *
      ((nn + 1L).cast("double") -
        col("tsum").cast("double") / (nn * (nn - 1L)).cast("double"))
    val z = (u2a.cast("double") / 2.0 -
      col("na").cast("double") * col("nb").cast("double") / 2.0) / sqrt(sigma2)
    agg.join(ties, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        round(u2a.cast("double") / 2.0, 1).as("u_a"),
        when(col("na") > 0 && col("nb") > 0 && nn > 1L && sigma2 > 0.0,
          round(z, 4)).as("z"))
      .withColumn("significant", coalesce(abs(col("z")) >= ZFlag, lit(false)))
      .orderBy(col("type_a"), col("type_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_mannwhitney" -> (mannWhitney _))

  val oracles: Map[String, String] = Map(
    "stats_mannwhitney" ->
      s"""WITH d AS (SELECT event_type, ts::DATE AS day,
         |  CAST(round(sum(value::DECIMAL(18,2))::DOUBLE) AS BIGINT) AS vi
         | FROM events GROUP BY 1, 2),
         |ty AS (SELECT DISTINCT event_type FROM d),
         |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b
         | FROM ty a, ty b WHERE a.event_type < b.event_type),
         |pl AS (SELECT pr.type_a, pr.type_b,
         |  (d.event_type = pr.type_a) AS is_a, d.vi
         | FROM pr JOIN d ON d.event_type = pr.type_a OR d.event_type = pr.type_b),
         |rk AS (SELECT *,
         |  2 * rank() OVER (PARTITION BY type_a, type_b ORDER BY vi)
         |   + count(*) OVER (PARTITION BY type_a, type_b, vi) - 1 AS r2
         | FROM pl),
         |ag AS (SELECT type_a, type_b,
         |  sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS na,
         |  sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS nb,
         |  sum(CASE WHEN is_a THEN r2 ELSE 0 END)::BIGINT AS r2a
         | FROM rk GROUP BY 1, 2),
         |ti AS (SELECT type_a, type_b, sum(t * t * t - t)::BIGINT AS tsum FROM (
         |  SELECT type_a, type_b, vi, count(*)::BIGINT AS t FROM pl GROUP BY 1, 2, 3) g
         | GROUP BY 1, 2),
         |fin AS (SELECT ag.type_a, ag.type_b, na, nb,
         |  (r2a - na * (na + 1))::BIGINT AS u2a, tsum, (na + nb)::BIGINT AS nn
         | FROM ag JOIN ti ON ti.type_a = ag.type_a AND ti.type_b = ag.type_b)
         |SELECT type_a, type_b, na, nb,
         | round(u2a::DOUBLE / 2.0, 1) AS u_a,
         | CASE WHEN na > 0 AND nb > 0 AND nn > 1 AND (nn + 1)::DOUBLE - tsum::DOUBLE / (nn * (nn - 1))::DOUBLE > 0 THEN
         |  round((u2a::DOUBLE / 2.0 - na::DOUBLE * nb::DOUBLE / 2.0) /
         |   sqrt(na::DOUBLE * nb::DOUBLE / 12.0 *
         |    ((nn + 1)::DOUBLE - tsum::DOUBLE / (nn * (nn - 1))::DOUBLE)), 4)
         | END AS z,
         | coalesce(abs(CASE WHEN na > 0 AND nb > 0 AND nn > 1 AND (nn + 1)::DOUBLE - tsum::DOUBLE / (nn * (nn - 1))::DOUBLE > 0 THEN
         |  round((u2a::DOUBLE / 2.0 - na::DOUBLE * nb::DOUBLE / 2.0) /
         |   sqrt(na::DOUBLE * nb::DOUBLE / 12.0 *
         |    ((nn + 1)::DOUBLE - tsum::DOUBLE / (nn * (nn - 1))::DOUBLE)), 4)
         | END) >= $ZFlag, false) AS significant
         |FROM fin ORDER BY type_a, type_b""".stripMargin)
}
