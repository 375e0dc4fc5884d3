package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #16c `etl_schema_drift` — semi-structured schema-drift audit
  * (SURVEY.md §2).
  *
  * The upstream-contract monitor for a JSON payload column: producers add,
  * drop, and rename keys without telling anyone (the reference survived
  * exactly this — SODA field renames are why `main.py:135-183` coalesces
  * three spellings of every column). This audit compares the KEY SET and
  * per-key presence rate of `props` between the first and second half of
  * the observed time range and classifies every key: `new` (absent early,
  * present late), `dropped` (the reverse), `rate_shift` (presence rate
  * moved by more than [[ShiftNum]]/[[ShiftDen]]), else `stable` — the
  * schema-evolution alarm a `from_json`-based pipeline (`etl_json_flatten`)
  * needs BEFORE its hard-coded schema silently nulls a renamed field.
  *
  * Determinism: rate comparison is exact integer cross-multiplication —
  * ShiftDen·|n₁·N₂ − n₂·N₁| > ShiftNum·N₁·N₂ — so the verdict never
  * touches a float; the displayed rates are rounded 4-decimal doubles.
  *
  * Scale posture: one fact pass; `json_object_keys` + explode is the only
  * row multiplier (×|keys per payload|); the aggregate is |keys| × 2 rows;
  * the half totals are a one-row broadcast. The key-classify join runs on
  * the |keys|-row aggregate. */
object SchemaDrift extends graft.QueryModule {

  /** Presence-rate shift threshold as an exact fraction: 1/5 = 20 points. */
  val ShiftNum = 1L
  val ShiftDen = 5L

  def drift(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(unix_date(to_date(col("ts"))).as("ed"), col("props"))
    val mid = base.agg(expr("(min(ed) + max(ed)) div 2").as("mid"))
    val tagged = graft.CacheRegistry.track(
      base.crossJoin(broadcast(mid))
        .select(when(col("ed") <= col("mid"), 1L).otherwise(2L).as("half"), col("props")))
    val totals = tagged.groupBy(col("half")).agg(count(lit(1)).as("nh"))
      .agg(max(when(col("half") === 1L, col("nh"))).as("n1_total"),
        max(when(col("half") === 2L, col("nh"))).as("n2_total"))
      .select(coalesce(col("n1_total"), lit(0L)).as("n1_total"),
        coalesce(col("n2_total"), lit(0L)).as("n2_total"))
    val perKey = tagged
      .select(col("half"), explode(json_object_keys(col("props"))).as("key"))
      .groupBy(col("key"))
      .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 2L, 1L).otherwise(0L)).as("n2"))
    val shifted = lit(ShiftDen) * abs(col("n1") * col("n2_total") - col("n2") * col("n1_total")) >
      lit(ShiftNum) * col("n1_total") * col("n2_total")
    perKey.crossJoin(broadcast(totals))
      .select(col("key"), col("n1"), col("n2"),
        when(col("n1_total") > 0, round(col("n1").cast("double") / col("n1_total"), 4)).as("rate1"),
        when(col("n2_total") > 0, round(col("n2").cast("double") / col("n2_total"), 4)).as("rate2"),
        when(col("n1") === 0, "new")
          .when(col("n2") === 0, "dropped")
          .when(col("n1_total") > 0 && col("n2_total") > 0 && shifted, "rate_shift")
          .otherwise("stable").as("verdict"))
      .orderBy(col("key"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_schema_drift" -> (drift _))

  val oracles: Map[String, String] = Map(
    "etl_schema_drift" ->
      s"""WITH b AS (SELECT (ts::DATE - DATE '1970-01-01') AS ed, props FROM events),
         |m AS (SELECT (min(ed) + max(ed)) // 2 AS mid FROM b),
         |t AS (SELECT CASE WHEN ed <= mid THEN 1 ELSE 2 END AS half, props FROM b, m),
         |tot AS (SELECT
         |  coalesce(sum(CASE WHEN half = 1 THEN 1 END), 0)::BIGINT AS n1_total,
         |  coalesce(sum(CASE WHEN half = 2 THEN 1 END), 0)::BIGINT AS n2_total FROM t),
         |k AS (SELECT half, unnest(json_keys(props)) AS key FROM t),
         |p AS (SELECT key,
         |  sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |  sum(CASE WHEN half = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
         | FROM k GROUP BY key)
         |SELECT key, n1, n2,
         | CASE WHEN n1_total > 0 THEN round(n1::DOUBLE / n1_total, 4) END AS rate1,
         | CASE WHEN n2_total > 0 THEN round(n2::DOUBLE / n2_total, 4) END AS rate2,
         | CASE WHEN n1 = 0 THEN 'new'
         |      WHEN n2 = 0 THEN 'dropped'
         |      WHEN n1_total > 0 AND n2_total > 0
         |       AND $ShiftDen * abs(n1 * n2_total - n2 * n1_total)
         |         > $ShiftNum * n1_total * n2_total THEN 'rate_shift'
         |      ELSE 'stable' END AS verdict
         |FROM p, tot ORDER BY key""".stripMargin)
}
