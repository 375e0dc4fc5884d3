package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pruned parquet loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Each loader is a `spark.read.parquet` whose schema is inferred once per
  * session: inference runs a one-task Spark job over a parquet footer, so a
  * later read of the same unchanged table supplies the remembered schema and
  * runs none. Column pruning and filter pushdown are left to Catalyst, which
  * propagates the query's `select`s and `filter`s down into the scan
  * (visible as ReadSchema / PushedFilters in `explain("formatted")`). At
  * 100 TB these become partitioned tables; the loaders are the single seam
  * where partition-pruned paths would be applied.
  */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Per-session memo: (path, nanosAsLong) → (TableFingerprint, schema).
    * The fingerprint is a file listing, so an overwrite in place (fresh
    * part-file names) misses and re-infers; nanosAsLong changes the
    * inferred type of a TIMESTAMP(NANOS) column. Weak keys let a stopped
    * session's entries go with it. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[(String, String), (String, StructType)]]())

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val fingerprint =
      try Some(sources.TableFingerprint.of(spark, path))
      catch { case _: java.io.FileNotFoundException => None }
    fingerprint match {
      case None => spark.read.parquet(path) // raises Spark's own path-not-found error
      case Some(fp) =>
        val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        val slot = (path, spark.conf.get(NanosAsLong, "false"))
        memo.get(slot) match {
          case (`fp`, known) => spark.read.schema(known).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            memo.put(slot, (fp, df.schema))
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark's vectorized reader rejects, so it's read as raw nanos via the
    * legacy conf and truncated to micros (the same truncation DuckDB
    * applies loading TIMESTAMP_NS) — or as plain timestamp[us], which
    * Spark reads as TIMESTAMP_NTZ. Both normalize to a session-TZ (UTC)
    * TimestampType column with identical values, chosen off the actual
    * file schema so a driver-side regeneration of the test data cannot
    * break the loaders. */
  def events(s: SparkSession, d: String): DataFrame = loadEvents(s, d)(PartialFunction.empty)

  /** events with `ts >= cutoff`, filtered on the RAW stored column so the
    * predicate pushes into the parquet scan (a filter on a converted
    * timestamp column cannot — `timestamp_micros(ts div 1000) >= c` wraps
    * the column in an expression). Exact for whole-microsecond cutoffs:
    * floor(ns/1000) >= c_us  ⟺  ns >= c_us·1000. At 100 TB this is the
    * difference between scanning a window and scanning history. */
  def eventsSince(s: SparkSession, d: String, cutoff: java.sql.Timestamp): DataFrame =
    loadEvents(s, d) {
      case LongType => col("ts") >= cutoff.getTime * 1000000L
      case TimestampNTZType => col("ts") >= lit(cutoff).cast(TimestampNTZType)
      case _ => col("ts") >= cutoff
    }

  /** events with `ts <= cutoff`, filtered on the RAW stored column (the
    * [[eventsSince]] contract mirrored for the time-travel scan): exact
    * for whole-microsecond cutoffs — floor(ns/1000) <= c_us ⟺
    * ns < (c_us+1)·1000. */
  def eventsUntil(s: SparkSession, d: String, cutoff: java.sql.Timestamp): DataFrame =
    loadEvents(s, d) {
      case LongType => col("ts") < (cutoff.getTime * 1000L + 1L) * 1000L
      case TimestampNTZType => col("ts") <= lit(cutoff).cast(TimestampNTZType)
      case _ => col("ts") <= cutoff
    }

  /** Reads events, keeps the rows that `rawFilter` (if defined for the
    * stored `ts` type) accepts, then normalizes `ts`. A TIMESTAMP(NANOS)
    * `ts` reads as LongType under the legacy nanos conf that
    * [[GraftSession]] sets. */
  private def loadEvents(s: SparkSession, d: String)(
      rawFilter: PartialFunction[DataType, Column]): DataFrame = {
    val raw = table(s, d, "events")
    val stored = raw.schema("ts").dataType
    val kept = rawFilter.lift(stored).fold(raw)(c => raw.filter(c))
    stored match {
      case LongType => kept.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => kept.withColumn("ts", col("ts").cast(TimestampType))
      case _ => kept
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
