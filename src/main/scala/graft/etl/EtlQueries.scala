package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.geo.GeoFunctions
import Synth._

/** The reference ETL surface re-expressed as declarative Spark plans
  * (SURVEY.md §2 #6-18). Each operator cites the reference behavior it
  * re-expresses. The warehouse ("carto") and source ("soda") snapshots are
  * synthesized from `events` per Synth.
  */
object EtlQueries extends graft.QueryModule {

  private val IngestCutoff = java.sql.Timestamp.valueOf("2024-01-25 00:00:00")
  private val MergeCutoff  = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
  private val TallyCutoff  = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")

  /** #6 Incremental ingest with anti-join dedup (main.py:79-132, the
    * `WHERE socrata_id NOT IN (...)` guard at main.py:368-371). The
    * existing-keys side is pruned to the same time window BEFORE the join —
    * at 100 TB this makes the anti-join window×window, never window×history.
    */
  def ingestDedup(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val incoming = Tables.eventsSince(s, dir, IngestCutoff)
    val existing = Tables.eventsSince(s, dir, IngestCutoff)
      .filter(inCarto(col("event_id")))
      .select("event_id")
    incoming.join(existing, Seq("event_id"), "left_anti")
      .select(id, col("ts"), year(col("ts")).cast("long").as("yr"),
        month(col("ts")).cast("long").as("mon"), col("event_type"),
        mk(id).as("mk"), mi(id).as("mi"), ck(id).as("ck"), ci(id).as("ci"),
        pk(id).as("pk"), Synth.pi(id).as("pi"), tk(id).as("tk"), ti(id).as("ti"),
        sodaLng(id).as("lng"), sodaLat(id).as("lat"))
      .orderBy(id)
  }

  /** #6b Bloom-prefiltered incremental ingest — the 100 TB shape of #6's
    * anti-join dedup (`WHERE socrata_id NOT IN (...)`, main.py:368-371).
    * The existing-keys side (window-pruned, like #6) is sketched into a
    * Bloom filter ONCE (distributed build: per-partition sketches merged,
    * `df.stat.bloomFilter`) and probed map-side inside whole-stage codegen:
    * rows the filter rejects are PROVABLY new (no false negatives) and
    * bypass the join entirely; only the maybe-present sliver (~dups +
    * fpp·batch) reaches the exact anti-join. Results are bit-identical to
    * the plain anti-join — the oracle IS #6's NOT EXISTS — but the join's
    * probe side shrinks from the full batch to the sliver, which is how a
    * daily feed dedups against a warehouse without shuffling the feed. */
  def ingestBloom(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val existing = Tables.eventsSince(s, dir, IngestCutoff)
      .filter(inCarto(col("event_id")))
      .select("event_id")
    // capacity from the actual key count (a hardcoded capacity saturates at
    // scale — fpp → 1 and the prefilter silently stops pruning); the count
    // is one cheap agg over the already-window-pruned keys.
    // Deliberately NOT folded into the sketch pass: a Bloom filter's bit
    // array must be sized BEFORE keys are added, so a one-pass build needs
    // a capacity guess — and the only safe guess (the table's metadata row
    // count, an upper bound over the window-pruned keys) sizes the bitmap
    // for all of history: at warehouse scale that turns a few-MB broadcast
    // into a multi-GB one. Two passes over one pruned int64 column is the
    // cheaper side of that trade at every scale factor.
    // stat.bloomFilter NPEs on a 0-row frame (its aggregate yields null
    // bytes); an empty filter (rejects everything → all rows definitely
    // new) is the correct degenerate sketch
    val nKeys = existing.count()
    val bloom =
      if (nKeys == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, 0.01)
      else existing.stat.bloomFilter("event_id", nKeys, 0.01)
    // null keys probe to NULL; coalesce to false so they ride the
    // definitely-new branch — exactly what the anti-join does (a null key
    // matches nothing), keeping the bit-identical contract
    val probe = coalesce(
      graft.functions.BloomExprs.mightContainLong(bloom, id), lit(false))
    val incoming = Tables.eventsSince(s, dir, IngestCutoff)
      .select(id, col("ts"), col("event_type"))
    val definitelyNew = incoming.filter(!probe)
    val confirmedNew = incoming.filter(probe)
      .join(existing, Seq("event_id"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
      .select(id, col("ts"), col("event_type"))
      .orderBy(id)
  }

  /** #7 Record normalization (main.py:185-298): timestamp-derived fields,
    * JSON prop extraction, derived totals, geometry presence. */
  def normalize(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    Tables.events(s, dir)
      .select(id, col("ts"),
        year(col("ts")).cast("long").as("yr"),
        month(col("ts")).cast("long").as("mon"),
        col("event_type"),
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long").as("propk"),
        mk(id).as("mk"), mi(id).as("mi"), ck(id).as("ck"), ci(id).as("ci"),
        pk(id).as("pk"), Synth.pi(id).as("pi"), tk(id).as("tk"), ti(id).as("ti"),
        cartoLng(id).as("lng"), cartoLat(id).as("lat"),
        cartoLng(id).isNotNull.as("has_geom"))
      .orderBy(id)
  }

  /** #8 Multi-value text field → trimmed, de-quoted array
    * (main.py:135-163: comma split, strip quotes/spaces, drop blanks). */
  def arrayParse(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(lit("'"), col("p_brand"), lit("' , "),
      regexp_replace(col("p_type"), " ", ","))
    Tables.part(s, dir)
      .select(col("p_partkey"), raw.as("raw"))
      .select(col("p_partkey"),
        filter(
          transform(split(col("raw"), ","), x => regexp_replace(trim(x), "'", "")),
          x => x =!= "").as("factors_arr"))
      // '|'-joined string form: the driver's pandas row-sort cannot hash
      // array cells, so the oracle-visible column is scalar.
      .select(col("p_partkey"),
        array_join(col("factors_arr"), "|").as("factors"),
        size(col("factors_arr")).cast("long").as("n_factors"))
      .orderBy(col("p_partkey"))
  }

  /** #9 Out-of-extent geometry nulling (main.py:378-405: bbox of nyc_borough,
    * anything outside has the_geom set NULL). */
  def geoBbox(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val lng = cartoLng(id)
    val lat = cartoLat(id)
    val bad = lng.isNotNull && !inExtent(lng, lat)
    Tables.events(s, dir)
      .select(id,
        when(bad, lit(null).cast("double")).otherwise(lng).as("clean_lng"),
        when(bad, lit(null).cast("double")).otherwise(lat).as("clean_lat"),
        bad.as("geom_nulled"))
      .orderBy(id)
  }

  /** #10 Containment-zone assignment (main.py:408-533: 8 ST_Within UPDATE
    * joins). Zone dim is derived from `region` (5 boxes) and broadcast —
    * the fact side never shuffles. */
  def zoneAssign(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val ev = Tables.events(s, dir)
      .select(id, cartoLng(id).as("lng"), cartoLat(id).as("lat"))
    val zones = Tables.region(s, dir).select(
      col("r_name").as("zone"),
      (lit(-74.25) + col("r_regionkey") * lit(0.1)).as("west"),
      (lit(-74.25) + (col("r_regionkey") + lit(1)) * lit(0.1)).as("east"),
      lit(40.50).as("south"), lit(40.90).as("north"))
    ev.join(broadcast(zones),
        col("lng") >= col("west") && col("lng") < col("east") &&
        col("lat") >= col("south") && col("lat") < col("north"), "left")
      .select(id, col("zone"))
      .orderBy(id)
  }

  /** #10b Polygon containment-zone assignment — the reference's real zone
    * join is ST_Within(point, multipolygon) over 8 zone dims
    * (main.py:408-533; bootstrap initialpolygonlinkage/linkthem.py), not a
    * bbox test. Zones here are deterministic hexagons derived from the
    * region dim (vertices are plain rational arithmetic on r_regionkey, so
    * the DuckDB oracle reproduces them bit-for-bit); the join is a broadcast
    * bbox prefilter plus the exact ray-cast expression — the fact side never
    * shuffles, exactly the §5 scale posture. */
  def zonePolygon(s: SparkSession, dir: String): DataFrame = {
    GeoFunctions.register(s)
    val id = col("event_id")
    val ev = Tables.events(s, dir)
      .select(id, cartoLng(id).as("lng"), cartoLat(id).as("lat"))
    val r = col("r_regionkey").cast("double")
    val zones = Tables.region(s, dir).select(
      col("r_name").as("zone"),
      (lit(-74.25) + r * lit(0.1) + lit(0.05)).as("cx"),
      (lit(40.55) + r * lit(0.04)).as("cy"),
      (lit(0.03) + r * lit(0.004)).as("rx"),
      (lit(0.06) + r * lit(0.01)).as("ry"))
    // hexagon: E, NE, NW, W, SW, SE (flat [x, y, ...] — disjoint across
    // regions because adjacent half-widths sum below the 0.1 center spacing)
    val poly = array(
      col("cx") + col("rx"), col("cy"),
      col("cx") + col("rx") / 2, col("cy") + col("ry"),
      col("cx") - col("rx") / 2, col("cy") + col("ry"),
      col("cx") - col("rx"), col("cy"),
      col("cx") - col("rx") / 2, col("cy") - col("ry"),
      col("cx") + col("rx") / 2, col("cy") - col("ry"))
    ev.join(broadcast(zones),
        col("lng") >= col("cx") - col("rx") && col("lng") <= col("cx") + col("rx") &&
        col("lat") >= col("cy") - col("ry") && col("lat") <= col("cy") + col("ry") &&
        GeoFunctions.pointInPoly(col("lng"), col("lat"), poly), "left")
      .select(id, col("zone"))
      .orderBy(id)
  }

  /** The reference's 8 parallel zone dimensions, in main.py:408-533 order. */
  val ZoneTypes: Seq[String] = Seq("borough", "city_council", "senate", "assembly",
    "businessdistrict", "community_board", "neighborhood", "nypd_precinct")

  /** Per-type y offset as a decimal literal string, so the Spark lit() and
    * the oracle's ::DOUBLE literal parse to the identical double. */
  private[etl] val ZoneYOff: Seq[String] =
    Seq("0.0", "0.01", "0.02", "0.03", "0.04", "0.05", "0.06", "0.07")

  private def zoneDim(s: SparkSession, dir: String, toff: String): DataFrame = {
    val r = col("r_regionkey").cast("double")
    Tables.region(s, dir).select(
      col("r_name").as("zone"),
      (lit(-74.25) + r * lit(0.1) + lit(0.05)).as("cx"),
      (lit(40.55) + r * lit(0.04) + lit(toff.toDouble)).as("cy"),
      (lit(0.03) + r * lit(0.004)).as("rx"),
      (lit(0.05) + r * lit(0.008)).as("ry"))
  }

  /** Appends the 8 multipolygon zone columns to any frame carrying
    * (lng, lat) — shared by `zoneMulti` and the flagship CrashPipeline. */
  private[etl] def withMultiZones(s: SparkSession, dir: String, ev: DataFrame): DataFrame = {
    GeoFunctions.register(s)
    // size-based routing: with the rule installed, each zone join below
    // flips from the broadcast NLJ (optimal for this 5-row dim) to the
    // grid-cell equi-join AUTOMATICALLY when the zone dim outgrows
    // spark.sql.autoBroadcastJoinThreshold (40k intersections, census
    // blocks) — same operator code, no caller change; the broadcast hint
    // is advisory in that regime (ZoneMultiAutoRouteSpec)
    graft.plans.RewriteContainmentJoin.install(s)
    ZoneTypes.zip(ZoneYOff).foldLeft(ev) { case (acc, (zt, toff)) =>
      val cx = col("cx"); val cy = col("cy"); val rx = col("rx"); val ry = col("ry")
      val sy = cy - ry - lit(0.03)
      // ring 1: the zonePolygon hexagon; ring 2: a satellite diamond below
      // it (same x band, so zones within a type stay disjoint)
      val ring1 = array(
        cx + rx, cy, cx + rx / 2, cy + ry, cx - rx / 2, cy + ry,
        cx - rx, cy, cx - rx / 2, cy - ry, cx + rx / 2, cy - ry)
      val ring2 = array(
        cx + rx / 2, sy, cx, sy + lit(0.015), cx - rx / 2, sy, cx, sy - lit(0.015))
      acc.join(broadcast(zoneDim(s, dir, toff).withColumnRenamed("zone", zt)),
          col("lng") >= cx - rx && col("lng") <= cx + rx &&
          col("lat") >= cy - ry - lit(0.045) && col("lat") <= cy + ry &&
          GeoFunctions.pointInMultiPoly(col("lng"), col("lat"), array(ring1, ring2)),
          "left")
        .drop("cx", "cy", "rx", "ry")
    }
  }

  /** #10d Multipolygon 8-zone single-pass assignment — the reference's
    * actual daily workload shape: ONE pass over the fact table assigns all
    * 8 zone dims (borough … nypd_precinct, main.py:408-533) instead of 8
    * separate UPDATE joins, and each zone is a MULTIPOLYGON (main hexagon +
    * disjoint satellite ring — boroughs have islands), tested with the
    * multi-ring ray cast. Every dim is broadcast; the fact side is scanned
    * once and never hash-exchanged — at 100 TB this is 8 broadcast NLJs
    * riding one scan, zero fact shuffles (plan-asserted in PlanSpec). */
  def zoneMulti(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val ev = Tables.events(s, dir)
      .select(id, cartoLng(id).as("lng"), cartoLat(id).as("lat"))
    withMultiZones(s, dir, ev).select(id +: ZoneTypes.map(col): _*).orderBy(id)
  }

  /** #11 Intersection crash counts (main.py:613-647): per intersection,
    * crashes within 600 m in the window having any injury/fatality. The
    * intersections dim (from `part`) is broadcast; distance is the fused
    * codegen haversine expression. */
  def intersectionCrashcount(s: SparkSession, dir: String): DataFrame = {
    GeoFunctions.register(s)
    val id = col("event_id")
    val ix = Tables.part(s, dir).filter(col("p_partkey") < 100).select(
      col("p_partkey").as("intersection_id"),
      (lit(-74.25) + (col("p_partkey") % 10) * lit(0.05) + lit(0.025)).as("ilng"),
      (lit(40.50) + (col("p_partkey") / lit(10)).cast("long") % 10 * lit(0.04) + lit(0.02)).as("ilat"))
    val crashes = Tables.eventsSince(s, dir, TallyCutoff)
      .select(id, cartoLng(id).as("lng"), cartoLat(id).as("lat"),
        tk(id).as("tk"), ti(id).as("ti"))
      .filter(col("lng").isNotNull && (col("tk") > 0 || col("ti") > 0))
    // cheap bbox pre-check before the 4-trig haversine: 0.01° ≈ 1113 m lat
    // / ≥ 841 m lng at these latitudes, a strict superset of the 600 m
    // circle — so results are identical but the trig runs ~100× less often
    crashes.join(broadcast(ix),
        abs(col("lat") - col("ilat")) <= 0.01 && abs(col("lng") - col("ilng")) <= 0.01 &&
        GeoFunctions.haversineM(col("ilat"), col("ilng"), col("lat"), col("lng")) <= 600.0)
      .groupBy(col("intersection_id"))
      .agg(count(lit(1)).as("crashcount"))
      .orderBy(col("intersection_id"))
  }

  /** #12 CDC on tallies (main.py:817-965, fixtallies/): join refreshed
    * source against warehouse, keep rows where any of the 8 counters
    * changed, emit the new counters. */
  def cdcTallies(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val soda = Tables.events(s, dir).select(id,
      mk(id).as("s_mk"), sodaMi(id).as("s_mi"), ck(id).as("s_ck"), ci(id).as("s_ci"),
      sodaPk(id).as("s_pk"), Synth.pi(id).as("s_pi"), sodaTk(id).as("s_tk"), sodaTi(id).as("s_ti"))
    val carto = Tables.events(s, dir).filter(inCarto(id)).select(id,
      mk(id).as("c_mk"), mi(id).as("c_mi"), ck(id).as("c_ck"), ci(id).as("c_ci"),
      pk(id).as("c_pk"), Synth.pi(id).as("c_pi"), tk(id).as("c_tk"), ti(id).as("c_ti"))
    soda.join(carto, Seq("event_id"))
      .filter(
        col("s_mk") =!= col("c_mk") || col("s_mi") =!= col("c_mi") ||
        col("s_ck") =!= col("c_ck") || col("s_ci") =!= col("c_ci") ||
        col("s_pk") =!= col("c_pk") || col("s_pi") =!= col("c_pi") ||
        col("s_tk") =!= col("c_tk") || col("s_ti") =!= col("c_ti"))
      .select(id, col("s_mk").as("new_mk"), col("s_mi").as("new_mi"),
        col("s_ck").as("new_ck"), col("s_ci").as("new_ci"),
        col("s_pk").as("new_pk"), col("s_pi").as("new_pi"),
        col("s_tk").as("new_tk"), col("s_ti").as("new_ti"))
      .orderBy(id)
  }

  /** #13 CDC on geometry (main.py:968-1079, findgeomupdates/, fixnullgeom/):
    * moved ≥ 15 m (haversine) or newly geocoded after NULL. */
  def cdcGeom(s: SparkSession, dir: String): DataFrame = {
    GeoFunctions.register(s)
    val id = col("event_id")
    val soda = Tables.events(s, dir)
      .select(id, sodaLng(id).as("s_lng"), sodaLat(id).as("s_lat"))
      .filter(col("s_lng").isNotNull)
    val carto = Tables.events(s, dir).filter(inCarto(id))
      .select(id, cartoLng(id).as("c_lng"), cartoLat(id).as("c_lat"))
    soda.join(carto, Seq("event_id"))
      .withColumn("reason",
        when(col("c_lng").isNull, lit("geocoded"))
          .when(GeoFunctions.haversineM(col("c_lat"), col("c_lng"), col("s_lat"), col("s_lng")) >= 15.0,
            lit("moved"))
          .otherwise(lit(null).cast("string")))
      .filter(col("reason").isNotNull)
      .select(id, col("s_lng").as("new_lng"), col("s_lat").as("new_lat"), col("reason"))
      .orderBy(id)
  }

  // ---------------- vehicle crosswalk + blame (#14/#15) ----------------
  //
  // The reference's 8-class surface: vehicletype_crosswalk_prod maps
  // free-form vehicle_type[] values to 8 crashmapper classes
  // (main.py:1082-1102), then blame is allocated per mode × victim class ×
  // {injured, killed} with bike/scooter special-casing (main.py:650-790).

  /** The 8 crashmapper vehicle classes, in the reference's mode order. */
  val ModeClasses: Seq[String] =
    Seq("bike", "scooter", "motorcycle", "busvan", "car", "suv", "truck", "other")

  /** Class → free-form aliases (the vehicletype_crosswalk_prod rows). */
  val CrosswalkAliases: Seq[(String, Seq[String])] = Seq(
    "bike"       -> Seq("bike", "bicycle"),
    "scooter"    -> Seq("scooter", "e-scooter"),
    "motorcycle" -> Seq("motorcycle", "moped"),
    "busvan"     -> Seq("bus", "van"),
    "car"        -> Seq("sedan", "taxi"),
    "suv"        -> Seq("suv", "station wagon"),
    "truck"      -> Seq("truck", "box truck"),
    "other"      -> Seq("unknown", "other"))

  /** Victim classes → (killed, injured) tally columns; persons = the derived
    * total, as in main.py:714-717. */
  private val Victims: Seq[(String, String, String)] = Seq(
    ("cyclist", "ck", "ci"), ("motorist", "mk", "mi"),
    ("pedestrian", "pk", "pi"), ("persons", "tk", "ti"))

  /** The crosswalk as a real dimension table. */
  def crosswalkDim(s: SparkSession): DataFrame = {
    import s.implicits._
    CrosswalkAliases.flatMap { case (c, as) => as.map(c -> _) }.toDF("cls", "alias")
  }

  /** Adds the 9 hasvehicle_* booleans to a frame with a `vehicles` array.
    *
    * The per-class alias lists are collected ONCE from the dim — the same
    * driver-side handful of strings the reference's scalar subquery
    * (ARRAY_AGG ... WHERE crashmapper_vehicletype = X) materializes — and
    * each flag is then a pure map-side arrays_overlap expression. No join,
    * no shuffle: at 100 TB the fact table is scanned once and never
    * exchanged (the previous formulation broadcast-NLJ'd the dim and then
    * re-collapsed with a full-fact groupBy(event_id)). */
  private[etl] def withCrosswalkFlags(s: SparkSession, df: DataFrame): DataFrame = {
    val aliases = CrosswalkAliases.toMap
    val flagged = df.withColumns(
      ModeClasses.map(c =>
        s"hasvehicle_$c" -> arrays_overlap(col("vehicles"), typedlit(aliases(c)))).toMap)
    val sum8 = ModeClasses.map(c => col(s"hasvehicle_$c").cast("int")).reduce(_ + _)
    // catch-all: TRUE when no class matched at all (main.py:656-668)
    flagged.withColumn("hasvehicle_other_unspecified",
      when(sum8 === lit(0), lit(true)).otherwise(col("hasvehicle_other")))
  }

  /** Adds bike_blame + blame_factor_raw (main.py:669-700): bikes/scooters
    * take the blame only when no motor vehicle is involved; otherwise blame
    * splits evenly across involved motor classes (+1 for the no-data case). */
  private[etl] def withBlame(df: DataFrame): DataFrame = {
    val motor = Seq("motorcycle", "busvan", "car", "suv", "truck", "other")
      .map(c => col(s"hasvehicle_$c").cast("int")).reduce(_ + _)
    val sum8 = ModeClasses.map(c => col(s"hasvehicle_$c").cast("int")).reduce(_ + _)
    df.withColumn("bike_blame",
        (col("hasvehicle_bike") || col("hasvehicle_scooter")) && motor === lit(0))
      .withColumn("blame_factor_raw",
        when(col("bike_blame"),
          lit(1.0) / nullif(
            col("hasvehicle_bike").cast("int") + col("hasvehicle_scooter").cast("int"), lit(0)))
        .otherwise(lit(1.0) / nullif(
          motor + when(sum8 === lit(0), lit(1)).otherwise(lit(0)), lit(0))))
  }

  /** Whether mode m takes allocated blame (main.py:718-790): bike/scooter
    * only under bike_blame; `other` via the unspecified catch-all. */
  private def modeGate(m: String): org.apache.spark.sql.Column = m match {
    case "bike" | "scooter" => col("bike_blame") && col(s"hasvehicle_$m")
    case "other"            => col("hasvehicle_other_unspecified")
    case _                  => col(s"hasvehicle_$m")
  }

  /** Adds the 8 *_allocated counters and the 64 per-mode columns in two
    * single projections (main.py:702-790). */
  private[etl] def withAllocations(df: DataFrame): DataFrame = {
    val allocated = df.withColumns(
      Victims.flatMap { case (v, kc, ic) => Seq(
        s"${v}_injured_allocated" -> round(col("blame_factor_raw") * col(ic), 4),
        s"${v}_killed_allocated"  -> round(col("blame_factor_raw") * col(kc), 4))
      }.toMap)
    allocated.withColumns(
      (for { m <- ModeClasses; (v, _, _) <- Victims; sfx <- Seq("injured", "killed") }
        yield s"${v}_${sfx}_by$m" ->
          when(modeGate(m), col(s"${v}_${sfx}_allocated")).otherwise(lit(0.0))).toMap)
  }

  /** #14 Array-overlap crosswalk → 8 has-class booleans + the unspecified
    * catch-all (main.py:1082-1102). */
  def vehicleCrosswalk(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val base = Tables.events(s, dir).select(id, vehicleArr(id).as("vehicles"))
    withCrosswalkFlags(s, base).drop("vehicles").orderBy(id)
  }

  /** #15 Blame allocation (main.py:650-790): the full mode × victim-class ×
    * {injured, killed} matrix — 64 per-mode columns + 8 allocated totals. */
  def blameAllocation(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val base = Tables.events(s, dir).select(id, vehicleArr(id).as("vehicles"),
      ck(id).as("ck"), ci(id).as("ci"), mk(id).as("mk"), mi(id).as("mi"),
      pk(id).as("pk"), Synth.pi(id).as("pi"), tk(id).as("tk"), ti(id).as("ti"))
    val full = withAllocations(withBlame(withCrosswalkFlags(s, base)))
    full.select(
      Seq(id, round(col("blame_factor_raw"), 4).as("blame_factor"), col("bike_blame")) ++
      Victims.flatMap { case (v, _, _) =>
        Seq(col(s"${v}_injured_allocated"), col(s"${v}_killed_allocated")) } ++
      (for { m <- ModeClasses; (v, _, _) <- Victims; sfx <- Seq("injured", "killed") }
        yield col(s"${v}_${sfx}_by$m")): _*)
      .orderBy(id)
  }

  /** #16 Backlog audit (backlog/check_backlog.py, esp. the per-month
    * SODA-vs-warehouse ID-set diff at ~200-320): per month, how many source
    * records are missing from the warehouse AND which ones — the missing-ID
    * list is the actionable output. The list is bounded (first 50 ids,
    * ascending) so a bad month cannot blow up the report row: the bound is
    * applied with a per-month rank BEFORE collecting, so no unbounded
    * collect_list state exists even when a month is missing millions of
    * rows; counts/min/max still cover the full missing set. */
  def backlogCheck(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val soda = Tables.events(s, dir).select(id, col("ts"))
    val carto = Tables.events(s, dir).filter(inCarto(id)).select("event_id")
    val missing = soda.join(carto, Seq("event_id"), "left_anti")
      .select(id, date_trunc("month", col("ts")).as("month"))
    val w = Window.partitionBy(col("month")).orderBy(id)
    missing
      .withColumn("rk", row_number().over(w))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_missing"), min(id).as("min_id"), max(id).as("max_id"),
        array_join(sort_array(collect_list(when(col("rk") <= 50, id))), "|").as("missing_ids"))
      .orderBy(col("month"))
  }

  /** #17 High-crash cells (highcrash_intersections/): severity-weighted
    * top-20 grid cells. */
  def highcrashRank(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val pts = Tables.events(s, dir)
      .select(id, cartoLng(id).as("lng"), cartoLat(id).as("lat"),
        (tk(id) * 3 + ti(id)).as("weight"))
      .filter(col("lng").isNotNull && inExtent(col("lng"), col("lat")))
    val cells = pts
      .withColumn("cx", floor((col("lng") + lit(74.25)) / lit(0.05)).cast("long"))
      .withColumn("cy", floor((col("lat") - lit(40.5)) / lit(0.04)).cast("long"))
      .groupBy(col("cx"), col("cy"))
      .agg(sum(col("weight")).as("total_weight"), count(lit(1)).as("n_crashes"))
    val w = Window.orderBy(col("total_weight").desc, col("cx"), col("cy"))
    cells.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .orderBy(col("rk"))
  }

  /** #18 Full upsert merge (insert-new + update-changed in one pass —
    * main.py:301-375 + 817-965 combined, as a MERGE would express it). */
  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val soda = Tables.eventsSince(s, dir, MergeCutoff)
      .select(id, sodaTk(id).as("s_tk"), sodaTi(id).as("s_ti"),
        mk(id).as("s_mk"), sodaMi(id).as("s_mi"), sodaPk(id).as("s_pk"))
    val carto = Tables.eventsSince(s, dir, MergeCutoff)
      .filter(inCarto(id))
      .select(id, tk(id).as("c_tk"), ti(id).as("c_ti"),
        mk(id).as("c_mk"), mi(id).as("c_mi"), pk(id).as("c_pk"))
    soda.join(carto, Seq("event_id"), "left")
      .withColumn("action",
        when(col("c_tk").isNull, lit("insert"))
          .when(col("s_tk") =!= col("c_tk") || col("s_ti") =!= col("c_ti") ||
                col("s_mk") =!= col("c_mk") || col("s_mi") =!= col("c_mi") ||
                col("s_pk") =!= col("c_pk"), lit("update"))
          .otherwise(lit(null).cast("string")))
      .filter(col("action").isNotNull)
      .select(id, col("action"), col("s_tk").as("new_tk"), col("s_ti").as("new_ti"))
      .orderBy(id)
  }

  /** #14b Crosswalk coverage audit (vehicletypecrosswalk/
    * check_vehicletypes.py): free-form vehicle values not mapped by any
    * crosswalk alias, with frequency and a sample record — the feed
    * constantly invents new variants, and unmapped values silently drop out
    * of the hasvehicle_* filters (they only surface via the unspecified
    * catch-all). The synthetic feed plants "tractor"/"golfcart" as the
    * just-appeared variants. */
  def crosswalkAudit(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val known = crosswalkDim(s).select(col("alias"))
    Tables.events(s, dir)
      .select(id, explode(vehicleArr(id)).as("vt"))
      .join(broadcast(known), col("vt") === col("alias"), "left_anti")
      .groupBy(col("vt").as("unmatched_value"))
      .agg(count(lit(1)).as("n"), min(id).as("sample_id"))
      .orderBy(col("unmatched_value"))
  }

  /** #17b Day-of-week × hour crash heatmap — the aggregation behind the
    * crashmapper frontend's time-of-day filtering. Spark's dayofweek is
    * 1-7 Sun-Sat, DuckDB's 0-6 Sun-Sat; normalized to 0-6 here. */
  def dowHourHeatmap(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    Tables.events(s, dir)
      .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"),
        tk(id).as("tk"), ti(id).as("ti"))
      .groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_crashes"),
        sum(col("tk")).as("total_killed"), sum(col("ti")).as("total_injured"))
      .orderBy(col("dow"), col("hr"))
  }

  /** #17c Pivot: event-type × day-of-week counts as wide columns — the
    * reshape the crashmapper frontend's weekly chart needs. The pivot value
    * list is explicit, so Spark skips the distinct-values discovery job and
    * the plan is a single partial-aggregable groupBy; at 100 TB an implicit
    * pivot would add a full extra scan just to learn the 7 column names. */
  def pivotDow(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .groupBy(col("event_type"))
      .pivot("dow", (0 to 6).map(Integer.valueOf))
      .agg(count(lit(1)))
      .select(col("event_type") +: (0 to 6).map(d => coalesce(col(d.toString), lit(0L)).as(s"d$d")): _*)
      .orderBy(col("event_type"))
  }

  /** #18b SCD type-2 history build: per user, compress the event_type
    * timeline into validity intervals [valid_from, valid_to) with change
    * detection (lag → change flag → cumulative group id → interval bounds
    * via lead). The shape every warehouse dimension-history job needs and
    * the reference approximates with its CDC update scans (main.py:817-965).
    * All three window passes share one hash partitioning on user_id, so the
    * fact table shuffles exactly once. */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byFrom = Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("grp"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTs).isNull ||
          lag(col("event_type"), 1).over(byTs) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("chg")).over(byTs.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("grp"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byFrom))
      .withColumn("is_current", col("valid_to").isNull)
      .select("user_id", "grp", "event_type", "valid_from", "valid_to", "is_current", "n_events")
      .orderBy(col("user_id"), col("grp"))
  }

  /** #12b CDC reconciliation report: full-outer compare of the refreshed
    * source window vs the warehouse copy, classifying every key — new,
    * deleted-upstream (SODA does retract collisions), changed, unchanged —
    * with counts and sample-id bounds per class. The summary the reference's
    * CDC scripts print before applying fixes (main.py:817-965, backlog/).
    * Retraction stand-in: source drops window rows with id % 37 == 5.
    * Scale: both sides are pruned to the refresh window before the join, so
    * the full-outer join is window×window; the report is 4 rows. */
  def reconcile(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val soda = Tables.eventsSince(s, dir, TallyCutoff)
      .filter(id % 37 =!= 5)
      .select(id.as("s_id"),
        sodaTk(id).as("s_tk"), sodaTi(id).as("s_ti"),
        sodaLng(id).as("s_lng"), sodaLat(id).as("s_lat"))
    val carto = Tables.eventsSince(s, dir, TallyCutoff)
      .filter(inCarto(id))
      .select(id.as("c_id"), tk(id).as("c_tk"), ti(id).as("c_ti"),
        cartoLng(id).as("c_lng"), cartoLat(id).as("c_lat"))
    // geometry differs if presence flips either way, or either coordinate
    // moved — the symmetric test (a lat-only check misses the reference's
    // bad-longitude geocodes, main.py:378-405)
    val geomChanged =
      (col("s_lat").isNull =!= col("c_lat").isNull) ||
        (col("s_lat").isNotNull && col("c_lat").isNotNull &&
          (col("s_lat") =!= col("c_lat") || col("s_lng") =!= col("c_lng")))
    soda.join(carto, col("s_id") === col("c_id"), "full_outer")
      .select(coalesce(col("s_id"), col("c_id")).as("event_id"),
        when(col("c_id").isNull, lit("new"))
          .when(col("s_id").isNull, lit("deleted_upstream"))
          .when(col("s_tk") =!= col("c_tk") || col("s_ti") =!= col("c_ti") ||
            geomChanged, lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("status"))
  }

  /** #12c Incremental aggregate maintenance: roll the CDC delta into the
    * stored per-month tallies instead of recomputing from history. The
    * changed-row set is tiny (the updated_at window in the reference), so
    * at 100 TB the delta aggregation scans only changed partitions and the
    * merge is a broadcast join against the stored state — history is never
    * rescanned. Verified here by deriving old state, delta, and new state
    * in one plan; new_injured must equal a from-scratch recompute. */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val old = Tables.events(s, dir).filter(inCarto(id))
      .groupBy(year(col("ts")).cast("long").as("yr"), month(col("ts")).cast("long").as("mon"),
        col("event_type"))
      .agg(sum(ti(id)).as("old_injured"))
    // the delta: rows whose refreshed tallies differ from the warehouse copy
    // (tally bumps on %13/%29) plus late-arriving rows (%10==3)
    val delta = Tables.events(s, dir)
      .filter((id % 13 === 0) || (id % 29 === 0) || !inCarto(id))
      .select(year(col("ts")).cast("long").as("yr"), month(col("ts")).cast("long").as("mon"),
        col("event_type"),
        (sodaTi(id) - when(inCarto(id), ti(id)).otherwise(lit(0L))).as("d"))
      .groupBy(col("yr"), col("mon"), col("event_type"))
      .agg(sum(col("d")).as("delta_injured"))
    old.join(delta, Seq("yr", "mon", "event_type"), "full_outer")
      .select(col("yr"), col("mon"), col("event_type"),
        coalesce(col("old_injured"), lit(0L)).as("old_injured"),
        coalesce(col("delta_injured"), lit(0L)).as("delta_injured"),
        (coalesce(col("old_injured"), lit(0L)) + coalesce(col("delta_injured"), lit(0L))).as("new_injured"))
      .orderBy(col("yr"), col("mon"), col("event_type"))
  }

  /** #10c Z-order curve values for the crash grid — the layout key
    * `operators/ZOrder.writeClustered` clusters by so box queries prune to
    * few files (ZOrderSpec measures the locality win). 10-bit cells over
    * the NYC extent; the interleave is codegen bit arithmetic. */
  def zorder(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val cellx = floor((baseLng(id) + lit(74.25)) / lit(0.5) * lit(1024.0)).cast("long")
    val celly = floor((baseLat(id) - lit(40.50)) / lit(0.4) * lit(1024.0)).cast("long")
    Tables.events(s, dir)
      .select(id, cellx.as("cellx"), celly.as("celly"))
      .withColumn("zval", graft.operators.ZOrder.zValue(col("cellx"), col("celly"), 10))
      .orderBy(id)
  }

  /** #7b Schema'd JSON flattening of the raw payload column — the
    * reference receives each record as SODA JSON (main.py:135-183) and
    * plucks typed fields; here `props` is parsed with an explicit schema
    * via from_json (codegen'd Jackson path, no regexp, no UDF) and
    * flattened into typed columns plus derived buckets. Map-side only. */
  def jsonFlatten(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k").as("k"))
      .select(col("event_id"), col("k"),
        (col("k") % 2 === 0).as("k_even"),
        expr("k div 10").as("k_bucket"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_json_flatten"            -> (jsonFlatten _),
    "etl_zorder"                  -> (zorder _),
    "etl_reconcile"               -> (reconcile _),
    "etl_incr_agg"                -> (incrementalAgg _),
    "etl_pivot"                   -> (pivotDow _),
    "etl_scd2"                    -> (scd2History _),
    "etl_crosswalk_audit"         -> (crosswalkAudit _),
    "etl_dow_heatmap"             -> (dowHourHeatmap _),
    "etl_ingest_dedup"            -> (ingestDedup _),
    "etl_ingest_bloom"            -> (ingestBloom _),
    "etl_normalize"               -> (normalize _),
    "etl_array_parse"             -> (arrayParse _),
    "etl_geo_bbox"                -> (geoBbox _),
    "etl_zone_assign"             -> (zoneAssign _),
    "etl_zone_polygon"            -> (zonePolygon _),
    "etl_zone_multi"              -> (zoneMulti _),
    "etl_intersection_crashcount" -> (intersectionCrashcount _),
    "etl_cdc_tallies"             -> (cdcTallies _),
    "etl_cdc_geom"                -> (cdcGeom _),
    "etl_vehicle_crosswalk"       -> (vehicleCrosswalk _),
    "etl_blame_allocation"        -> (blameAllocation _),
    "etl_backlog_check"           -> (backlogCheck _),
    "etl_highcrash_rank"          -> (highcrashRank _),
    "etl_upsert_merge"            -> (upsertMerge _))

  // ---------------- DuckDB oracle SQL (mirrors the plans above) ----------------

  private val e = "event_id"

  // crosswalk/blame SQL fragments generated from the same class/alias/victim
  // tables the Spark plans use, so the two sides cannot drift
  private def aliasListSql(c: String): String =
    CrosswalkAliases.toMap.apply(c).map(a => s"'$a'").mkString("[", ", ", "]")
  private val flagsSelectSql: String = ModeClasses
    .map(c => s"list_has_any(va, ${aliasListSql(c)}) AS hasvehicle_$c").mkString(",\n  ")
  private val sum8Sql: String = ModeClasses.map(c => s"hasvehicle_$c::INT").mkString(" + ")
  private val motorSql: String = Seq("motorcycle", "busvan", "car", "suv", "truck", "other")
    .map(c => s"hasvehicle_$c::INT").mkString(" + ")
  private val victimsSql = Seq(
    ("cyclist", ckSql(e), ciSql(e)), ("motorist", mkSql(e), miSql(e)),
    ("pedestrian", pkSql(e), piSql(e)), ("persons", tkSql(e), tiSql(e)))
  private def modeGateSql(m: String): String = m match {
    case "bike" | "scooter" => s"(bike_blame AND hasvehicle_$m)"
    case "other"            => "hasvehicle_other_unspecified"
    case _                  => s"hasvehicle_$m"
  }
  private val byModeSelectSql: String =
    (for { m <- ModeClasses; (v, _, _) <- victimsSql; sfx <- Seq("injured", "killed") }
      yield s"CASE WHEN ${modeGateSql(m)} THEN ${v}_${sfx}_allocated ELSE 0.0 END AS ${v}_${sfx}_by$m")
      .mkString(",\n  ")

  val oracles: Map[String, String] = Map(
    "etl_json_flatten" ->
      """SELECT event_id, json_extract(props, '$.k')::BIGINT AS k,
        | (json_extract(props, '$.k')::BIGINT % 2 = 0) AS k_even,
        | json_extract(props, '$.k')::BIGINT // 10 AS k_bucket
        |FROM events ORDER BY event_id""".stripMargin,
    "etl_zorder" ->
      s"""WITH c AS (
         | SELECT event_id,
         |  floor((${baseLngSql(e)} + 74.25) / 0.5 * 1024.0)::BIGINT AS cellx,
         |  floor((${baseLatSql(e)} - 40.50) / 0.4 * 1024.0)::BIGINT AS celly
         | FROM events)
         |SELECT event_id, cellx, celly,
         | ${graft.operators.ZOrder.zValueSql("cellx", "celly", 10)} AS zval
         |FROM c ORDER BY event_id""".stripMargin,
    "etl_reconcile" ->
      s"""WITH soda AS (
         | SELECT event_id AS s_id, ${sodaTkSql(e)} AS s_tk, ${sodaTiSql(e)} AS s_ti,
         |  ${sodaLngSql(e)} AS s_lng, ${sodaLatSql(e)} AS s_lat
         | FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND event_id % 37 != 5),
         |carto AS (
         | SELECT event_id AS c_id, ${tkSql(e)} AS c_tk, ${tiSql(e)} AS c_ti,
         |  ${cartoLngSql(e)} AS c_lng, ${cartoLatSql(e)} AS c_lat
         | FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND event_id % 10 != 3),
         |j AS (
         | SELECT coalesce(s_id, c_id) AS event_id,
         |  CASE WHEN c_id IS NULL THEN 'new'
         |       WHEN s_id IS NULL THEN 'deleted_upstream'
         |       WHEN s_tk != c_tk OR s_ti != c_ti
         |            OR ((s_lat IS NULL) != (c_lat IS NULL))
         |            OR (s_lat IS NOT NULL AND c_lat IS NOT NULL
         |                AND (s_lat != c_lat OR s_lng != c_lng)) THEN 'changed'
         |       ELSE 'unchanged' END AS status
         | FROM soda FULL OUTER JOIN carto ON s_id = c_id)
         |SELECT status, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
         |FROM j GROUP BY status ORDER BY status""".stripMargin,
    "etl_incr_agg" ->
      s"""WITH old AS (
         | SELECT year(ts)::BIGINT AS yr, month(ts)::BIGINT AS mon, event_type,
         |  sum(${tiSql(e)})::BIGINT AS old_injured
         | FROM events WHERE event_id % 10 != 3 GROUP BY 1, 2, 3),
         |delta AS (
         | SELECT year(ts)::BIGINT AS yr, month(ts)::BIGINT AS mon, event_type,
         |  sum(${sodaTiSql(e)} - CASE WHEN event_id % 10 != 3 THEN ${tiSql(e)} ELSE 0 END)::BIGINT
         |    AS delta_injured
         | FROM events WHERE event_id % 13 = 0 OR event_id % 29 = 0 OR event_id % 10 = 3
         | GROUP BY 1, 2, 3)
         |SELECT coalesce(old.yr, delta.yr) AS yr, coalesce(old.mon, delta.mon) AS mon,
         | coalesce(old.event_type, delta.event_type) AS event_type,
         | coalesce(old_injured, 0) AS old_injured,
         | coalesce(delta_injured, 0) AS delta_injured,
         | coalesce(old_injured, 0) + coalesce(delta_injured, 0) AS new_injured
         |FROM old FULL OUTER JOIN delta ON old.yr = delta.yr AND old.mon = delta.mon
         |  AND old.event_type = delta.event_type
         |ORDER BY yr, mon, event_type""".stripMargin,
    "etl_pivot" ->
      """SELECT event_type,
        | sum(CASE WHEN dayofweek(ts) = 0 THEN 1 ELSE 0 END)::BIGINT AS d0,
        | sum(CASE WHEN dayofweek(ts) = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
        | sum(CASE WHEN dayofweek(ts) = 2 THEN 1 ELSE 0 END)::BIGINT AS d2,
        | sum(CASE WHEN dayofweek(ts) = 3 THEN 1 ELSE 0 END)::BIGINT AS d3,
        | sum(CASE WHEN dayofweek(ts) = 4 THEN 1 ELSE 0 END)::BIGINT AS d4,
        | sum(CASE WHEN dayofweek(ts) = 5 THEN 1 ELSE 0 END)::BIGINT AS d5,
        | sum(CASE WHEN dayofweek(ts) = 6 THEN 1 ELSE 0 END)::BIGINT AS d6
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_scd2" ->
      """WITH o AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |        OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        | SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM o),
        |iv AS (
        | SELECT user_id, grp::BIGINT AS grp, event_type,
        |  min(ts) AS valid_from, count(*) AS n_events
        | FROM g GROUP BY user_id, grp, event_type)
        |SELECT user_id, grp, event_type, valid_from,
        | lead(valid_from) OVER wf AS valid_to,
        | (lead(valid_from) OVER wf IS NULL) AS is_current,
        | n_events
        |FROM iv
        |WINDOW wf AS (PARTITION BY user_id ORDER BY valid_from, grp)
        |ORDER BY user_id, grp""".stripMargin,
    "etl_dow_heatmap" ->
      s"""SELECT dayofweek(ts)::BIGINT AS dow, hour(ts)::BIGINT AS hr,
         | count(*) AS n_crashes,
         | (sum(${tkSql(e)}))::BIGINT AS total_killed,
         | (sum(${tiSql(e)}))::BIGINT AS total_injured
         |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,
    "etl_crosswalk_audit" ->
      s"""WITH v AS (SELECT event_id, unnest(${vehicleArrSql(e)}) AS vt FROM events)
         |SELECT vt AS unmatched_value, count(*) AS n, min(event_id) AS sample_id
         |FROM v WHERE vt NOT IN (${CrosswalkAliases.flatMap(_._2).map(a => s"'$a'").mkString(", ")})
         |GROUP BY vt ORDER BY unmatched_value""".stripMargin,
    "etl_ingest_dedup" ->
      s"""SELECT event_id, ts, year(ts)::BIGINT AS yr, month(ts)::BIGINT AS mon, event_type,
         | ${mkSql(e)} AS mk, ${miSql(e)} AS mi, ${ckSql(e)} AS ck, ${ciSql(e)} AS ci,
         | ${pkSql(e)} AS pk, ${piSql(e)} AS pi, ${tkSql(e)} AS tk, ${tiSql(e)} AS ti,
         | ${sodaLngSql(e)} AS lng, ${sodaLatSql(e)} AS lat
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
         | AND NOT EXISTS (SELECT 1 FROM events x
         |   WHERE x.event_id % 10 != 3 AND x.ts >= TIMESTAMP '2024-01-25 00:00:00'
         |     AND x.event_id = events.event_id)
         |ORDER BY event_id""".stripMargin,
    "etl_ingest_bloom" ->
      s"""SELECT event_id, ts, event_type
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
         | AND NOT EXISTS (SELECT 1 FROM events x
         |   WHERE x.event_id % 10 != 3 AND x.ts >= TIMESTAMP '2024-01-25 00:00:00'
         |     AND x.event_id = events.event_id)
         |ORDER BY event_id""".stripMargin,
    "etl_normalize" ->
      s"""SELECT event_id, ts, year(ts)::BIGINT AS yr, month(ts)::BIGINT AS mon, event_type,
         | regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT AS propk,
         | ${mkSql(e)} AS mk, ${miSql(e)} AS mi, ${ckSql(e)} AS ck, ${ciSql(e)} AS ci,
         | ${pkSql(e)} AS pk, ${piSql(e)} AS pi, ${tkSql(e)} AS tk, ${tiSql(e)} AS ti,
         | ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat,
         | (${cartoLngSql(e)} IS NOT NULL) AS has_geom
         |FROM events ORDER BY event_id""".stripMargin,
    "etl_array_parse" ->
      """WITH r AS (SELECT p_partkey,
        |  '''' || p_brand || ''' , ' || replace(p_type, ' ', ',') AS raw FROM part),
        |a AS (SELECT p_partkey,
        |  list_filter(list_transform(string_split(raw, ','), x -> replace(trim(x), '''', '')), x -> x != '') AS fa
        | FROM r)
        |SELECT p_partkey, array_to_string(fa, '|') AS factors, len(fa)::BIGINT AS n_factors
        |FROM a ORDER BY p_partkey""".stripMargin,
    "etl_geo_bbox" ->
      s"""WITH g AS (SELECT event_id, ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat FROM events)
         |SELECT event_id,
         | CASE WHEN lng IS NOT NULL AND NOT ${inExtentSql("lng", "lat")} THEN NULL ELSE lng END AS clean_lng,
         | CASE WHEN lng IS NOT NULL AND NOT ${inExtentSql("lng", "lat")} THEN NULL ELSE lat END AS clean_lat,
         | (lng IS NOT NULL AND NOT ${inExtentSql("lng", "lat")}) AS geom_nulled
         |FROM g ORDER BY event_id""".stripMargin,
    "etl_zone_assign" ->
      s"""WITH g AS (SELECT event_id, ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat FROM events),
         |z AS (SELECT r_name AS zone, -74.25 + r_regionkey * 0.1 AS west,
         |  -74.25 + (r_regionkey + 1) * 0.1 AS east, 40.50 AS south, 40.90 AS north FROM region)
         |SELECT g.event_id, z.zone FROM g LEFT JOIN z
         | ON g.lng >= z.west AND g.lng < z.east AND g.lat >= z.south AND g.lat < z.north
         |ORDER BY g.event_id""".stripMargin,
    "etl_zone_polygon" -> {
      val verts = Seq(
        ("(z.cx + z.rx)", "z.cy"),
        ("(z.cx + z.rx / 2)", "(z.cy + z.ry)"),
        ("(z.cx - z.rx / 2)", "(z.cy + z.ry)"),
        ("(z.cx - z.rx)", "z.cy"),
        ("(z.cx - z.rx / 2)", "(z.cy - z.ry)"),
        ("(z.cx + z.rx / 2)", "(z.cy - z.ry)"))
      s"""WITH g AS (SELECT event_id, ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat FROM events),
         |z AS (SELECT r_name AS zone,
         |  -74.25::DOUBLE + r_regionkey * 0.1::DOUBLE + 0.05::DOUBLE AS cx,
         |  40.55::DOUBLE + r_regionkey * 0.04::DOUBLE AS cy,
         |  0.03::DOUBLE + r_regionkey * 0.004::DOUBLE AS rx,
         |  0.06::DOUBLE + r_regionkey * 0.01::DOUBLE AS ry
         | FROM region)
         |SELECT g.event_id, z.zone FROM g LEFT JOIN z
         | ON g.lng >= z.cx - z.rx AND g.lng <= z.cx + z.rx
         |  AND g.lat >= z.cy - z.ry AND g.lat <= z.cy + z.ry
         |  AND ${GeoFunctions.rayCastSql("g.lng", "g.lat", verts)}
         |ORDER BY g.event_id""".stripMargin
    },
    "etl_zone_multi" -> {
      def ring1(a: String) = Seq(
        (s"($a.cx + $a.rx)", s"$a.cy"),
        (s"($a.cx + $a.rx / 2)", s"($a.cy + $a.ry)"),
        (s"($a.cx - $a.rx / 2)", s"($a.cy + $a.ry)"),
        (s"($a.cx - $a.rx)", s"$a.cy"),
        (s"($a.cx - $a.rx / 2)", s"($a.cy - $a.ry)"),
        (s"($a.cx + $a.rx / 2)", s"($a.cy - $a.ry)"))
      def ring2(a: String) = {
        val sy = s"($a.cy - $a.ry - 0.03)"
        Seq(
          (s"($a.cx + $a.rx / 2)", sy),
          (s"$a.cx", s"($a.cy - $a.ry - 0.03 + 0.015)"),
          (s"($a.cx - $a.rx / 2)", sy),
          (s"$a.cx", s"($a.cy - $a.ry - 0.03 - 0.015)"))
      }
      val ctes = ZoneTypes.zip(ZoneYOff).zipWithIndex.map { case ((zt, toff), i) =>
        s"""z$i AS (SELECT r_name AS $zt,
           |  -74.25::DOUBLE + r_regionkey * 0.1::DOUBLE + 0.05::DOUBLE AS cx,
           |  40.55::DOUBLE + r_regionkey * 0.04::DOUBLE + $toff::DOUBLE AS cy,
           |  0.03::DOUBLE + r_regionkey * 0.004::DOUBLE AS rx,
           |  0.05::DOUBLE + r_regionkey * 0.008::DOUBLE AS ry
           | FROM region)""".stripMargin
      }
      val joins = ZoneTypes.indices.map { i =>
        val a = s"z$i"
        s"""LEFT JOIN $a ON g.lng >= $a.cx - $a.rx AND g.lng <= $a.cx + $a.rx
           | AND g.lat >= $a.cy - $a.ry - 0.045 AND g.lat <= $a.cy + $a.ry
           | AND ${GeoFunctions.rayCastMultiSql("g.lng", "g.lat", Seq(ring1(a), ring2(a)))}""".stripMargin
      }
      s"""WITH g AS (SELECT event_id, ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat FROM events),
         |${ctes.mkString(",\n")}
         |SELECT g.event_id, ${ZoneTypes.zipWithIndex.map { case (zt, i) => s"z$i.$zt" }.mkString(", ")}
         |FROM g
         |${joins.mkString("\n")}
         |ORDER BY g.event_id""".stripMargin
    },
    "etl_intersection_crashcount" ->
      s"""WITH ix AS (SELECT p_partkey AS intersection_id,
         |  -74.25 + (p_partkey % 10) * 0.05 + 0.025 AS ilng,
         |  40.50 + ((p_partkey // 10) % 10) * 0.04 + 0.02 AS ilat
         | FROM part WHERE p_partkey < 100),
         |c AS (SELECT event_id, ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat,
         |  ${tkSql(e)} AS tk, ${tiSql(e)} AS ti
         | FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00')
         |SELECT ix.intersection_id, count(*) AS crashcount
         |FROM c JOIN ix ON ${GeoFunctions.haversineSql("ix.ilat", "ix.ilng", "c.lat", "c.lng")} <= 600.0
         |WHERE c.lng IS NOT NULL AND (c.tk > 0 OR c.ti > 0)
         |GROUP BY ix.intersection_id ORDER BY ix.intersection_id""".stripMargin,
    "etl_cdc_tallies" ->
      s"""SELECT event_id,
         | ${mkSql(e)} AS new_mk, ${sodaMiSql(e)} AS new_mi, ${ckSql(e)} AS new_ck,
         | ${ciSql(e)} AS new_ci, ${sodaPkSql(e)} AS new_pk, ${piSql(e)} AS new_pi,
         | ${sodaTkSql(e)} AS new_tk, ${sodaTiSql(e)} AS new_ti
         |FROM events
         |WHERE ${inCartoSql(e)} AND (
         | ${sodaMiSql(e)} != ${miSql(e)} OR ${sodaPkSql(e)} != ${pkSql(e)} OR
         | ${sodaTkSql(e)} != ${tkSql(e)} OR ${sodaTiSql(e)} != ${tiSql(e)})
         |ORDER BY event_id""".stripMargin,
    "etl_cdc_geom" ->
      s"""WITH j AS (
         | SELECT event_id, ${sodaLngSql(e)} AS s_lng, ${sodaLatSql(e)} AS s_lat,
         |  ${cartoLngSql(e)} AS c_lng, ${cartoLatSql(e)} AS c_lat
         | FROM events WHERE ${inCartoSql(e)} AND ${sodaLngSql(e)} IS NOT NULL)
         |SELECT event_id, s_lng AS new_lng, s_lat AS new_lat,
         | CASE WHEN c_lng IS NULL THEN 'geocoded'
         |      WHEN ${GeoFunctions.haversineSql("c_lat", "c_lng", "s_lat", "s_lng")} >= 15.0 THEN 'moved'
         | END AS reason
         |FROM j
         |WHERE (CASE WHEN c_lng IS NULL THEN 'geocoded'
         |      WHEN ${GeoFunctions.haversineSql("c_lat", "c_lng", "s_lat", "s_lng")} >= 15.0 THEN 'moved'
         | END) IS NOT NULL
         |ORDER BY event_id""".stripMargin,
    "etl_vehicle_crosswalk" ->
      s"""WITH v AS (SELECT event_id, ${vehicleArrSql(e)} AS va FROM events),
         |f AS (SELECT event_id,
         |  $flagsSelectSql
         | FROM v)
         |SELECT event_id, ${ModeClasses.map(c => s"hasvehicle_$c").mkString(", ")},
         | CASE WHEN ($sum8Sql) = 0 THEN TRUE ELSE hasvehicle_other END AS hasvehicle_other_unspecified
         |FROM f ORDER BY event_id""".stripMargin,
    "etl_blame_allocation" ->
      s"""WITH v AS (SELECT event_id, ${vehicleArrSql(e)} AS va FROM events),
         |f AS (SELECT event_id,
         |  ${victimsSql.map { case (v, k, i) => s"$k AS v_${v}_k, $i AS v_${v}_i" }.mkString(", ")},
         |  $flagsSelectSql
         | FROM v),
         |g AS (SELECT *,
         |  CASE WHEN ($sum8Sql) = 0 THEN TRUE ELSE hasvehicle_other END AS hasvehicle_other_unspecified,
         |  ((hasvehicle_bike OR hasvehicle_scooter) AND ($motorSql) = 0) AS bike_blame,
         |  CASE WHEN (hasvehicle_bike OR hasvehicle_scooter) AND ($motorSql) = 0
         |   THEN 1.0 / nullif(hasvehicle_bike::INT + hasvehicle_scooter::INT, 0)
         |   ELSE 1.0 / nullif(($motorSql) + (CASE WHEN ($sum8Sql) = 0 THEN 1 ELSE 0 END), 0)
         |  END AS blame_factor_raw
         | FROM f),
         |i AS (SELECT *,
         |  ${victimsSql.map { case (v, _, _) =>
              s"round(blame_factor_raw * v_${v}_i, 4) AS ${v}_injured_allocated, " +
              s"round(blame_factor_raw * v_${v}_k, 4) AS ${v}_killed_allocated" }
             .mkString(",\n  ")}
         | FROM g)
         |SELECT event_id, round(blame_factor_raw, 4) AS blame_factor, bike_blame,
         | ${victimsSql.map { case (v, _, _) => s"${v}_injured_allocated, ${v}_killed_allocated" }.mkString(", ")},
         |  $byModeSelectSql
         |FROM i ORDER BY event_id""".stripMargin,
    "etl_backlog_check" ->
      s"""SELECT date_trunc('month', ts) AS month, count(*) AS n_missing,
         | min(event_id) AS min_id, max(event_id) AS max_id,
         | array_to_string((list_sort(list(event_id)))[1:50], '|') AS missing_ids
         |FROM events WHERE NOT ${inCartoSql(e)}
         |GROUP BY date_trunc('month', ts) ORDER BY month""".stripMargin,
    "etl_highcrash_rank" ->
      s"""WITH pts AS (
         | SELECT event_id, ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat,
         |  (${tkSql(e)} * 3 + ${tiSql(e)}) AS weight
         | FROM events),
         |cells AS (
         | SELECT floor((lng + 74.25) / 0.05)::BIGINT AS cx, floor((lat - 40.5) / 0.04)::BIGINT AS cy,
         |  sum(weight)::BIGINT AS total_weight, count(*) AS n_crashes
         | FROM pts WHERE lng IS NOT NULL AND ${inExtentSql("lng", "lat")}
         | GROUP BY 1, 2)
         |SELECT cx, cy, total_weight, n_crashes, rk FROM (
         | SELECT *, row_number() OVER (ORDER BY total_weight DESC, cx, cy) AS rk FROM cells) t
         |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "etl_upsert_merge" ->
      s"""WITH soda AS (
         | SELECT event_id, ${sodaTkSql(e)} AS s_tk, ${sodaTiSql(e)} AS s_ti,
         |  ${mkSql(e)} AS s_mk, ${sodaMiSql(e)} AS s_mi, ${sodaPkSql(e)} AS s_pk
         | FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'),
         |carto AS (
         | SELECT event_id, ${tkSql(e)} AS c_tk, ${tiSql(e)} AS c_ti,
         |  ${mkSql(e)} AS c_mk, ${miSql(e)} AS c_mi, ${pkSql(e)} AS c_pk
         | FROM events WHERE ${inCartoSql(e)} AND ts >= TIMESTAMP '2024-01-20 00:00:00')
         |SELECT soda.event_id,
         | CASE WHEN carto.event_id IS NULL THEN 'insert'
         |      WHEN s_tk != c_tk OR s_ti != c_ti OR s_mk != c_mk OR s_mi != c_mi OR s_pk != c_pk THEN 'update'
         | END AS action,
         | s_tk AS new_tk, s_ti AS new_ti
         |FROM soda LEFT JOIN carto ON soda.event_id = carto.event_id
         |WHERE (CASE WHEN carto.event_id IS NULL THEN 'insert'
         |      WHEN s_tk != c_tk OR s_ti != c_ti OR s_mk != c_mk OR s_mi != c_mi OR s_pk != c_pk THEN 'update'
         | END) IS NOT NULL
         |ORDER BY soda.event_id""".stripMargin)
}
