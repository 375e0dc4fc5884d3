package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #17e `etl_run_report` — per-step run summary, generalizing the
  * reference's failure-notification hook (`main.py:41-56`
  * `send_email_notification`, invoked from `main()`'s except branch at
  * `main.py:1200` with a failure message) into the end-of-run artifact a
  * real operator wants: one standing row per pipeline step with its
  * output row count, i.e. the monitoring table a scheduler alerts on
  * ("0 inserted for 3 days" is how upstream breakage actually surfaces).
  *
  * Drift-proof BY CONSTRUCTION: each step row re-runs the step's OWN
  * registered query and the oracle wraps the step's OWN registered oracle
  * SQL in a count — the report cannot disagree with the steps it reports
  * on, ever (the `etl_dq_quarantine` one-source-of-truth discipline
  * applied across whole queries).
  *
  * Scale: each step inherits its own operator's posture; counts are
  * map-side-combinable aggregates of those plans, and the report is a
  * union of |steps| single-row frames — constant output however large the
  * run. */
object RunReport extends graft.QueryModule {

  /** The reference daily-run steps whose outputs the summary reports —
    * the FULL `main()` sequence (`main.py:1132+`): ingest, both CDC
    * passes, the 8-zone refresh, intersection tallies, the vehicle
    * crosswalk, blame allocation, plus the DQ/backlog monitors. */
  val Steps: Seq[String] = Seq(
    "etl_ingest_dedup",            // new rows inserted past the NOT-IN dedup
    "etl_cdc_tallies",             // updated kill/injury counts applied
    "etl_cdc_geom",                // moved/geocoded geometries applied
    "etl_zone_assign",             // primary zone join refreshed
    "etl_zone_multi",              // the ×8 zone-table refresh fan-out
    "etl_intersection_crashcount", // intersection crash tallies rebuilt
    "etl_vehicle_crosswalk",       // vehicle-code crosswalk applied
    "etl_blame_allocation",        // contributing-factor blame split
    "etl_dq_quarantine",           // rows routed to repair
    "etl_backlog_check")           // late-arrival months flagged

  def runReport(s: SparkSession, dir: String): DataFrame = {
    val all = EtlQueries.queries ++ DqReport.queries
    Steps.map { k =>
      all(k)(s, dir).agg(count(lit(1)).as("n_rows"))
        .select(lit(k).as("step"), col("n_rows"))
    }.reduce(_.unionByName(_)).orderBy(col("step"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_run_report" -> (runReport _))

  val oracles: Map[String, String] = Map(
    "etl_run_report" -> {
      val all = EtlQueries.oracles ++ DqReport.oracles
      Steps.map { k =>
        s"SELECT '$k' AS step, count(*)::BIGINT AS n_rows FROM (\n${all(k)}\n)"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY step")
    })
}
