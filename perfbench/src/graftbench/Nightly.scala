package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, SparkEntry}
import graft.etl.CrashPipeline
import graft.operators.{Compaction, ZOrder}
import graft.sources.{SodaJsonSource, WarehouseSink}

/** The reference's night on disk (main.py:1132-1197), hop by hop:
  * SODA ingest of two overlapping batches, enrichment, first warehouse
  * merge, z-order layout, compaction, same-day replay, next-day delta
  * merge, then the CDC, tally and backlog queries.
  *
  * Each hop is one timed operation. Checks run between hops, outside the
  * timed spans: conservation by fingerprint, unique keys, the delta
  * winning on key collision, and the SODA counts the generator planted. */
final class Nightly(spark: SparkSession, run: Run, dataDir: String, seed: Long) {
  import Nightly._

  /** Seeded slices of the history's last two months, like the reference's
    * 2-month fetch window, of fixed size so every seed does the same amount
    * of work: the late slice (a tenth) misses day 1 and arrives with the
    * delta; the changed slice (a thirteenth) gets a refreshed tally. */
  val lateRem: Long = seed.abs % 10
  val changedMod: Long = 13L
  val changedRem: Long = seed.abs / 10 % changedMod

  val CdcKeys = Seq("etl_cdc_tallies", "etl_cdc_geom")
  val TallyKey = "etl_intersection_crashcount"
  val BacklogKey = "etl_backlog_check"

  /** Order-insensitive content fingerprint over the identity and the
    * columns downstream consumers read, with the distinct key count:
    * (rows, xor of row hashes, distinct event_id). */
  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.select(col("event_id"), xxhash64(col("event_id"), col("event_type"), col("ti"),
        col("tk"), col("zone"), col("blame_factor")).as("h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)"), countDistinct(col("event_id")))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def files(path: String): Long = spark.read.parquet(path).inputFiles.length.toLong

  /** Runs one night into `dir` and returns the night's own measurements.
    *
    * The hops run one after another, each one operation followed by a
    * cache release; the output checks run between hops, outside the
    * operations. The warm-up night (`timed = false`) runs the same way, and
    * is checked the same way; only its operations are not timing samples. */
  def night(dir: String, soda: Batches, timed: Boolean): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double]
    val hop: Hop = (layer, name) => body => {
      val r = run.op(name, layer, timed)(body)
      CacheRegistry.releaseAll()
      r
    }
    ingest(s"$dir/soda", soda, hop)
    chain(dir, m, hop)
    def query(layer: String, key: String): Unit =
      hop(layer, key)(SparkEntry.queries(key)(spark, dataDir)
        .write.format("noop").mode("overwrite").save())
    CdcKeys.foreach(k => query("etl.cdc", k))
    query("etl.tally", TallyKey)
    query("etl.backlog", BacklogKey)
    m("stored_bytes") = Seq("crashes", "crashes_z", "soda")
      .map(d => Main.dirBytes(java.nio.file.Paths.get(s"$dir/$d"))).sum.toDouble
    m.toMap
  }

  private type Hop = (String, String) => (=> Any) => Option[Any]

  /** SODA ingest: two overlapping batches merged in fetch order. */
  private def ingest(sodaWh: String, soda: Batches, hop: Hop): Unit = {
    Seq(soda.a, soda.b).zipWithIndex.foreach { case (p, i) =>
      hop("sources.ingest", s"soda_merge_$i") {
        WarehouseSink.merge(spark, SodaJsonSource.read(spark, p.path), sodaWh, "socrata_id")
      }
      run.check(s"soda_$i", {
        val raw = SodaJsonSource.readRaw(spark, p.path).cache()
        val corrupt = raw.agg(sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)),
          count(col("collision_id"))).head().getLong(0)
        raw.unpersist()
        val r = SodaJsonSource.read(spark, p.path)
          .agg(count(lit(1)), sum(when(col("latitude").isNull, 1L).otherwise(0L)),
            sum(when(col("ti").isNull || col("tk").isNull, 1L).otherwise(0L))).head()
        corrupt == p.malformed && r.getLong(0) == p.valid && r.getLong(1) == p.noGeo &&
          r.getLong(2) == 0
      }, s"corrupt records, rows, rows without coordinates or underived persons totals " +
        s"differ from the planted ${p.malformed} malformed, ${p.valid} valid, ${p.noGeo} no-geo")
    }
    run.check("soda_merged", {
      val w = spark.read.parquet(sodaWh)
      val c = w.agg(count(lit(1)), countDistinct(col("socrata_id"))).head()
      val b = SodaJsonSource.read(spark, soda.b.path).select(col("socrata_id"), col("ti").as("b_ti"))
      val r = w.join(b, "socrata_id")
        .agg(count(lit(1)), sum(when(col("ti") =!= col("b_ti"), 1L).otherwise(0L))).head()
      c.getLong(0) == soda.mergedRows && c.getLong(1) == c.getLong(0) &&
        r.getLong(0) == soda.b.valid && r.getLong(1) == 0L
    }, s"merged SODA warehouse is not ${soda.mergedRows} unique keys with batch B winning")
  }

  /** Enrich, first merge, z-order, compaction, replay, next-day delta. */
  private def chain(dir: String, m: collection.mutable.Map[String, Double], hop: Hop): Unit = {
    val wh = s"$dir/crashes"
    val zpath = s"$dir/crashes_z"
    def conserved(name: String, got: => (Long, Long, Long), want: => (Long, Long, Long)): Unit =
      run.check(name, { val (g, w) = (got, want); g._1 == w._1 && g._2 == w._2 && g._3 == g._1 },
        "row count, content fingerprint or key uniqueness differs")

    val enriched = hop("etl.enrich", "enrich") {
      CrashPipeline.enrichedCrashes(spark, dataDir).localCheckpoint(true)
    }.getOrElse(return).asInstanceOf[DataFrame]
    val lastMonth = enriched.agg(max(col("year") * 12 + col("month"))).head().getLong(0)
    val recent = col("year") * 12 + col("month") >= lit(lastMonth - 1)
    val isLate = recent && col("event_id") % 10 === lateRem
    val day1 = enriched.filter(!isLate)
    lazy val fp0 = fingerprint(day1)
    hop("sources.merge_first", "merge_first")(WarehouseSink.merge(spark, day1, wh, "event_id"))
    conserved("first_load", fingerprint(spark.read.parquet(wh)), fp0)

    val cellx = floor((col("lng") + lit(74.25)) / lit(0.5) * lit(1024.0)).cast("long")
    val celly = floor((col("lat") - lit(40.50)) / lit(0.4) * lit(1024.0)).cast("long")
    hop("operators.zorder", "zorder") {
      ZOrder.writeClustered(
        spark.read.parquet(wh).withColumn("cellx", coalesce(cellx, lit(-1L)))
          .withColumn("celly", coalesce(celly, lit(-1L))),
        "cellx", "celly", 10, files = 8, path = zpath)
    }
    conserved("zorder", fingerprint(spark.read.parquet(zpath)), fp0)

    val filesBefore = files(wh)
    hop("operators.compact", "compact") {
      Compaction.compact(spark, wh, targetRowsPerFile = 500000, partitionCols = Seq("year", "month"))
    }
    val filesAfter = files(wh)
    m("operators.compact_files_out") = filesAfter.toDouble
    conserved("compact", fingerprint(spark.read.parquet(wh)), fp0)
    run.check("compact_files", filesAfter <= filesBefore, s"$filesBefore -> $filesAfter files")

    hop("sources.merge_replay", "merge_replay")(WarehouseSink.merge(spark, day1, wh, "event_id"))
    conserved("replay", fingerprint(spark.read.parquet(wh)), fp0)

    // refreshed tallies plus the late slice
    val isChanged = recent && col("event_id") % changedMod === changedRem && !isLate
    val changed = enriched.filter(isChanged).withColumn("ti", col("ti") + lit(1L))
    val late = enriched.filter(isLate)
    val delta = changed.unionByName(late).localCheckpoint(true)
    hop("sources.merge_delta", "merge_delta")(WarehouseSink.merge(spark, delta, wh, "event_id"))
    val merged = spark.read.parquet(wh)
    conserved("delta", fingerprint(merged),
      fingerprint(enriched.withColumn("ti", when(isChanged, col("ti") + lit(1L)).otherwise(col("ti")))))
    run.check("delta_wins",
      merged.join(changed.select(col("event_id"), col("ti").as("want_ti")), "event_id")
        .filter(col("ti") =!= col("want_ti")).isEmpty,
      "changed rows kept the old tally")
    m("delta_rows") = delta.count().toDouble
  }
}

object Nightly {
  /** What one SODA batch file holds, by construction (perfbench/gen.py). */
  final case class Planted(path: String, valid: Long, malformed: Long, noGeo: Long,
      noTotals: Long)

  /** The two batches and the row count the merged SODA warehouse must have. */
  final case class Batches(a: Planted, b: Planted, mergedRows: Long)

  /** Reads the generator's planted.tsv. */
  def planted(path: String): Batches = {
    val lines = scala.io.Source.fromFile(path).getLines().map(_.split("\t")).toSeq
    val batches = lines.filter(_(0) == "batch").map(f =>
      Planted(f(1), f(2).toLong, f(3).toLong, f(4).toLong, f(5).toLong))
    Batches(batches(0), batches(1), lines.find(_(0) == "merged").get.apply(1).toLong)
  }
}
