package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #12f `etl_compact_plan` — small-file compaction planning (SURVEY.md §2).
  *
  * The maintenance pass every partitioned warehouse runs (Delta `OPTIMIZE`,
  * Iceberg `rewrite_data_files`): the reference's daily loop appends one
  * small batch per day (`main.py:79-132`), and after a year each month
  * partition holds dozens of files far below target scan size — the
  * "small-file problem" that multiplies task-scheduling and footer-read
  * overhead at 100 TB. This operator emits the REWRITE PLAN: which files
  * coalesce into which output file, per partition.
  *
  * The file ledger models one file per ingest day — (month, day, bytes,
  * rows) with bytes = Σ(payload + [[RowOverhead]]) — i.e. exactly what a
  * file listing of the daily-append layout returns. Bin assignment is the
  * declared rule "quantile-aligned sequential fill": files ordered by day
  * within their month partition, bin = floor(cum_bytes_before /
  * [[TargetBytes]]). That rule is deterministic, one-pass, and
  * SQL-expressible — and it guarantees the cumulative bytes through every
  * non-final bin reach the next Target multiple (spec-pinned), so no
  * output file except the partition's last is pathologically small.
  *
  * Scale posture: the ledger is ONE map-side-combinable fact aggregate
  * (|days| rows at any corpus size — the 100 TB input would be the file
  * manifest, not the data); the cumulative window partitions by month, so
  * no global sort; everything downstream runs on |days| rows. */
object CompactionPlan extends graft.QueryModule {

  val TargetBytes = 131072L // 128 KiB per planned output file
  val SmallBytes = 16384L   // a source file below this is a "small file"
  val RowOverhead = 64L

  def plan(s: SparkSession, dir: String): DataFrame = {
    val ledger = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"),
        (coalesce(octet_length(col("props")), lit(0L)) + RowOverhead).as("b"))
      .groupBy(trunc(col("day"), "month").as("month"), col("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("b")).as("file_bytes"))
    val w = Window.partitionBy(col("month")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ledger
      .withColumn("cum_before", coalesce(sum(col("file_bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $TargetBytes"))
      .groupBy(col("month"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("file_bytes")).as("group_bytes"),
        sum(col("n_rows")).as("n_rows"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"),
        sum(when(col("file_bytes") < SmallBytes, 1L).otherwise(0L)).as("n_small"))
      .orderBy(col("month"), col("bin"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_compact_plan" -> (plan _))

  val oracles: Map[String, String] = Map(
    "etl_compact_plan" ->
      s"""WITH f AS (SELECT date_trunc('month', ts::DATE) AS month, ts::DATE AS day,
         |  count(*)::BIGINT AS n_rows,
         |  sum(coalesce(octet_length(props::BLOB), 0) + $RowOverhead)::BIGINT AS file_bytes
         | FROM events GROUP BY 1, 2),
         |c AS (SELECT *, coalesce(sum(file_bytes) OVER (PARTITION BY month ORDER BY day
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
         | FROM f)
         |SELECT month, cum_before // $TargetBytes AS bin,
         | count(*)::BIGINT AS n_files, sum(file_bytes)::BIGINT AS group_bytes,
         | sum(n_rows)::BIGINT AS n_rows,
         | min(day) AS first_day, max(day) AS last_day,
         | sum(CASE WHEN file_bytes < $SmallBytes THEN 1 ELSE 0 END)::BIGINT AS n_small
         |FROM c GROUP BY month, cum_before // $TargetBytes
         |ORDER BY month, bin""".stripMargin)
}
