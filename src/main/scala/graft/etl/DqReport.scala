package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #17b Data-quality audit report (SURVEY.md §2).
  *
  * The reference runs data-quality repair as scattered one-off scripts
  * (null-geometry backfill `fixnullgeom/`, tally mismatch `fixtallies/`,
  * late-arrival audit `backlog/`); a warehouse wants the CHECKS as one
  * standing report the scheduler alerts on. Each row is one named check
  * with its violation count and the scanned population — the shape a DQ
  * dashboard ingests directly.
  *
  * Checks cover the three DQ families: completeness (nulls), validity
  * (domain ranges), and referential integrity (orphaned foreign keys —
  * the classic fact→dim anti-join). Every check is a map-side-combinable
  * conditional aggregate over ONE scan of its table; the two referential
  * checks are anti-join shapes where the dim side ships as a broadcast
  * (or at true scale, the `etl_ingest_bloom` sketch path). The final
  * report is a union of per-check single rows — constant size however
  * large the inputs.
  */
object DqReport extends graft.QueryModule {

  /** Validity ceiling for `value` (the sensor-range rule shared by the
    * report and the quarantine — one source of truth). */
  val ValueCeiling = 100.0

  def dqReport(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // completeness + validity over one events scan
    val evChecks = ev.agg(
      count(lit(1)).as("n"),
      sum(when(col("props").isNull || col("props") === "", 1L).otherwise(0L)).as("null_props"),
      sum(when(col("value") < 0.0 || col("value").isNull, 1L).otherwise(0L)).as("bad_value"),
      sum(when(col("user_id").isNull || col("user_id") < 0L, 1L).otherwise(0L)).as("bad_user"),
      sum(when(col("value") > ValueCeiling, 1L).otherwise(0L)).as("over_ceiling"))
    val evRows = evChecks.select(explode(array(
      struct(lit("events").as("tbl"), lit("null_props").as("check"),
        col("null_props").as("violations"), col("n").as("population")),
      struct(lit("events").as("tbl"), lit("negative_or_null_value").as("check"),
        col("bad_value").as("violations"), col("n").as("population")),
      struct(lit("events").as("tbl"), lit("bad_user_id").as("check"),
        col("bad_user").as("violations"), col("n").as("population")),
      struct(lit("events").as("tbl"), lit("value_above_ceiling").as("check"),
        col("over_ceiling").as("violations"), col("n").as("population")))).as("r"))
      .select(col("r.*"))
    // uniqueness: duplicated event ids (two-level aggregate, no distinct expand)
    val dupIds = ev.groupBy(col("event_id")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1L, col("c"))), lit(0L)).as("violations"),
        coalesce(sum(col("c")), lit(0L)).as("population"))
      .select(lit("events").as("tbl"), lit("duplicate_event_id").as("check"),
        col("violations"), col("population"))
    // referential integrity: facts whose FK misses the dim — a broadcast
    // LEFT join + one conditional aggregate gives violations AND the
    // population in a single fact pass (an anti-join would need a second
    // pass, or a 1×1 cross join, for the denominator)
    def orphanCheck(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
        tbl: String, name: String): DataFrame =
      fact.select(col(fk))
        .join(broadcast(dim.select(col(pk)).distinct()), col(fk) === col(pk), "left")
        .agg(sum(when(col(pk).isNull, 1L).otherwise(0L)).as("violations"),
          count(lit(1)).as("population"))
        .select(lit(tbl).as("tbl"), lit(name).as("check"),
          coalesce(col("violations"), lit(0L)).as("violations"), col("population"))
    val liOrphans = orphanCheck(Tables.lineitem(s, dir), "l_orderkey",
      Tables.orders(s, dir), "o_orderkey", "lineitem", "orphan_orderkey")
    val ordOrphans = orphanCheck(Tables.orders(s, dir), "o_custkey",
      Tables.customer(s, dir), "c_custkey", "orders", "orphan_custkey")
    evRows.unionByName(dupIds).unionByName(liOrphans).unionByName(ordOrphans)
      .orderBy(col("tbl"), col("check"))
  }

  /** #17d `etl_dq_quarantine` — the ROW-level half of the DQ pass: every
    * violating events row with its '|'-joined failed-check list, i.e. the
    * quarantine table a pipeline writes next to the clean output so repair
    * jobs (and humans) see WHICH rule broke per record, not just the
    * counts `etl_dq_report` dashboards. Shares the report's rule
    * definitions verbatim (one source of truth for the conditions).
    *
    * Plan: the three scalar rules are ONE map-side conditional projection
    * over the events scan; the uniqueness rule joins the (event_id,
    * count>1) aggregate back — a hash join on the table's own key
    * (uniform), never a broadcast assumption (duplicate mass is unbounded
    * in adversarial input). concat_ws skips the NULL branches in both
    * engines, so the check list needs no array (driver-gate scalar rule). */
  def dqQuarantine(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dup = ev.groupBy(col("event_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L).select(col("event_id"), lit(true).as("is_dup"))
    val nullProps = col("props").isNull || col("props") === ""
    val badValue = col("value") < 0.0 || col("value").isNull
    val badUser = col("user_id").isNull || col("user_id") < 0L
    ev.join(dup, Seq("event_id"), "left")
      .select(col("event_id"),
        concat_ws("|",
          when(nullProps, lit("null_props")),
          when(badValue, lit("negative_or_null_value")),
          when(badUser, lit("bad_user_id")),
          when(col("is_dup"), lit("duplicate_event_id")),
          when(col("value") > ValueCeiling, lit("value_above_ceiling"))).as("failed_checks"),
        (when(nullProps, 1L).otherwise(0L) + when(badValue, 1L).otherwise(0L) +
          when(badUser, 1L).otherwise(0L) +
          when(col("is_dup"), 1L).otherwise(0L) +
          when(col("value") > ValueCeiling, 1L).otherwise(0L)).as("n_failed"))
      .filter(col("n_failed") > 0L)
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_dq_report" -> (dqReport _),
    "etl_dq_quarantine" -> (dqQuarantine _))

  val oracles: Map[String, String] = Map(
    "etl_dq_report" ->
      """WITH ev AS (
        | SELECT 'events' AS tbl, 'null_props' AS chk,
        |  sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)::BIGINT AS violations,
        |  count(*)::BIGINT AS population FROM events
        | UNION ALL
        | SELECT 'events', 'negative_or_null_value',
        |  sum(CASE WHEN value < 0.0 OR value IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(*)::BIGINT FROM events
        | UNION ALL
        | SELECT 'events', 'bad_user_id',
        |  sum(CASE WHEN user_id IS NULL OR user_id < 0 THEN 1 ELSE 0 END)::BIGINT,
        |  count(*)::BIGINT FROM events
        | UNION ALL
        | SELECT 'events', 'duplicate_event_id',
        |  coalesce((SELECT sum(c) FROM (SELECT count(*) AS c FROM events
        |    GROUP BY event_id HAVING count(*) > 1)), 0)::BIGINT,
        |  count(*)::BIGINT FROM events
        | UNION ALL
        | SELECT 'events', 'value_above_ceiling',
        |  sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)::BIGINT,
        |  count(*)::BIGINT FROM events
        | UNION ALL
        | SELECT 'lineitem', 'orphan_orderkey',
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders))::BIGINT,
        |  (SELECT count(*) FROM lineitem)::BIGINT
        | UNION ALL
        | SELECT 'orders', 'orphan_custkey',
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer))::BIGINT,
        |  (SELECT count(*) FROM orders)::BIGINT)
        |SELECT tbl, chk AS "check", violations, population
        |FROM ev ORDER BY tbl, chk""".stripMargin,
    "etl_dq_quarantine" ->
      """WITH dup AS (SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1),
        |q AS (SELECT e.event_id,
        |  concat_ws('|',
        |   CASE WHEN e.props IS NULL OR e.props = '' THEN 'null_props' END,
        |   CASE WHEN e.value < 0.0 OR e.value IS NULL THEN 'negative_or_null_value' END,
        |   CASE WHEN e.user_id IS NULL OR e.user_id < 0 THEN 'bad_user_id' END,
        |   CASE WHEN d.event_id IS NOT NULL THEN 'duplicate_event_id' END,
        |   CASE WHEN e.value > 100.0 THEN 'value_above_ceiling' END) AS failed_checks,
        |  ((e.props IS NULL OR e.props = '')::INT + (e.value < 0.0 OR e.value IS NULL)::INT +
        |   (e.user_id IS NULL OR e.user_id < 0)::INT + (d.event_id IS NOT NULL)::INT +
        |   CASE WHEN e.value > 100.0 THEN 1 ELSE 0 END)::BIGINT AS n_failed
        | FROM events e LEFT JOIN dup d USING (event_id))
        |SELECT event_id, failed_checks, n_failed FROM q
        |WHERE n_failed > 0 ORDER BY event_id""".stripMargin)
}
