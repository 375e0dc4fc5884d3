package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #16e `etl_profile_suggest` — column profiling with constraint
  * suggestions (SURVEY.md §2).
  *
  * The Deequ-style "suggestion" pass that BOOTSTRAPS a data-quality suite:
  * `etl_dq_report` checks rules somebody already wrote; this profiles every
  * column of the fact stream and proposes the rules the data currently
  * supports — not-null (zero nulls observed), unique (distinct count equals
  * non-null count: a key candidate), enum (≤ [[EnumMaxValues]] distinct
  * values: a domain-check candidate). Exactly how a platform team onboards
  * an unknown feed.
  *
  * Shape: the table MELTS to (column, value-string) rows — stack is the
  * only row multiplier (×columns) — and distinct counts come from the
  * two-level (column, value)→column aggregate, NEVER a multi-column
  * count(DISTINCT) (which plans as an Expand ×columns over the facts —
  * the house no-distinct-expand discipline). The string form only needs to
  * be injective WITHIN an engine for counting, so cross-engine float
  * formatting differences cannot matter; no raw values are emitted.
  * `approx_count_distinct` is the documented 100 TB swap. */
object ProfileSuggest extends graft.QueryModule {

  val EnumMaxValues = 20L

  def suggest(s: SparkSession, dir: String): DataFrame = {
    val melted = Tables.events(s, dir).selectExpr(
      """stack(6,
        | 'event_id', cast(event_id as string),
        | 'ts', cast(unix_micros(ts) as string),
        | 'user_id', cast(user_id as string),
        | 'event_type', event_type,
        | 'value', cast(value as string),
        | 'props', props) AS (column, v)""".stripMargin)
    val perValue = melted.groupBy(col("column"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    perValue.groupBy(col("column"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_null"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_distinct"))
      .select(col("column"), col("n"), col("n_null"), col("n_distinct"),
        (col("n_null") === 0).as("suggest_not_null"),
        (col("n_distinct") > 0 && col("n_distinct") === col("n") - col("n_null"))
          .as("suggest_unique"),
        (col("n_distinct").between(1, EnumMaxValues)).as("suggest_enum"))
      .orderBy(col("column"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_profile_suggest" -> (suggest _))

  val oracles: Map[String, String] = Map(
    "etl_profile_suggest" ->
      s"""WITH m AS (
         | SELECT 'event_id' AS col0, event_id::VARCHAR AS v FROM events
         | UNION ALL SELECT 'ts', epoch_us(ts)::VARCHAR FROM events
         | UNION ALL SELECT 'user_id', user_id::VARCHAR FROM events
         | UNION ALL SELECT 'event_type', event_type FROM events
         | UNION ALL SELECT 'value', value::VARCHAR FROM events
         | UNION ALL SELECT 'props', props FROM events),
         |pv AS (SELECT col0, v, count(*)::BIGINT AS cnt FROM m GROUP BY 1, 2),
         |p AS (SELECT col0, sum(cnt)::BIGINT AS n,
         |  sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END)::BIGINT AS n_null,
         |  sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_distinct
         | FROM pv GROUP BY 1)
         |SELECT col0 AS "column", n, n_null, n_distinct,
         | (n_null = 0) AS suggest_not_null,
         | (n_distinct > 0 AND n_distinct = n - n_null) AS suggest_unique,
         | (n_distinct BETWEEN 1 AND $EnumMaxValues) AS suggest_enum
         |FROM p ORDER BY "column"""".stripMargin)
}
