package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Synth._
import graft.operators.RangeJoin

/** #11b Nearest-intersection snap join (SURVEY.md §2).
  *
  * The reference links each crash to the intersection it belongs to — the
  * initial linkage pass (`initialpolygonlinkage/`) and walkmapper's
  * snap-report-to-nearest-feature shape — where `etl_intersection_crashcount`
  * (main.py:613-647) only tallies everything inside a radius. This is the
  * k=1 nearest-neighbor spatial join: every geocoded crash snaps to its
  * CLOSEST intersection within ~0.01° (≈1.1 km), ties to the lowest id.
  *
  * Built on [[graft.operators.RangeJoin.nearestInRadius]]: site radius
  * boxes → covering grid cells → hash equi-join on the cell pair → exact
  * planar-d2 residual → per-crash argmin window. No broadcast requirement,
  * no NLJ — the intersection dim here is 1600 rows but the identical plan
  * carries a 100k-site city inventory (the dim side replicates a constant
  * ≤9 cells/site; the fact side shuffles once on uniform cell keys).
  *
  * The distance is the small-angle planar metric (lngScale 0.75 ≈ cos of
  * the working latitude band) in pure IEEE `+`/`*` — the oracle writes the
  * same expression text and gets bit-identical doubles, so even the argmin
  * BETWEEN near-equidistant sites agrees across engines and `d2` itself is
  * hash-comparable unrounded (trig metrics guarantee neither).
  */
object NearestJoin extends graft.QueryModule {

  val LngScale = 0.75
  val R2 = 0.0001 // (0.01°)² in lat-degrees² — same literal in the oracle

  /** Dense intersection grid from `part`: 40 × 40 over the crash extent
    * (0.0125° × 0.01° spacing, offset to cell centers), so each crash sees
    * several in-radius candidates and the argmin is doing real work. */
  private def intersections(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    Tables.part(s, dir).filter(k < 1600)
      .select(k.as("intersection_id"),
        (lit(-74.25) + (k % 40) * lit(0.0125) + lit(0.00625)).as("ilng"),
        (lit(40.50) + (k / lit(40)).cast("long") % 40 * lit(0.01) + lit(0.005)).as("ilat"))
  }

  def nearestIntersection(s: SparkSession, dir: String): DataFrame = {
    val crashes = Tables.events(s, dir)
      .select(col("event_id"), cartoLng(col("event_id")).as("lng"),
        cartoLat(col("event_id")).as("lat"))
      .filter(col("lng").isNotNull)
    RangeJoin.nearestInRadius(crashes, intersections(s, dir),
      "lng", "lat", "ilng", "ilat", "event_id", "intersection_id",
      r2 = R2, lngScale = LngScale)
      .select(col("event_id"), col("intersection_id"), col("d2"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_nearest_intersection" -> (nearestIntersection _))

  val oracles: Map[String, String] = {
    val e = "event_id"
    Map("etl_nearest_intersection" ->
      s"""WITH ix AS (SELECT p_partkey AS intersection_id,
         |  -74.25::DOUBLE + (p_partkey % 40) * 0.0125::DOUBLE + 0.00625::DOUBLE AS ilng,
         |  40.50::DOUBLE + (p_partkey // 40) % 40 * 0.01::DOUBLE + 0.005::DOUBLE AS ilat
         | FROM part WHERE p_partkey < 1600),
         |c AS (SELECT event_id, ${cartoLngSql(e)} AS lng, ${cartoLatSql(e)} AS lat
         | FROM events WHERE ${cartoLngSql(e)} IS NOT NULL),
         |cand AS (
         | SELECT c.event_id, ix.intersection_id,
         |  (c.lat - ix.ilat) * (c.lat - ix.ilat)
         |   + ((c.lng - ix.ilng) * 0.75::DOUBLE) * ((c.lng - ix.ilng) * 0.75::DOUBLE) AS d2
         | FROM c JOIN ix
         |  ON abs(c.lat - ix.ilat) <= 0.0101 AND abs(c.lng - ix.ilng) <= 0.0134)
         |SELECT event_id, intersection_id, d2 FROM (
         | SELECT *, row_number() OVER (PARTITION BY event_id
         |   ORDER BY d2, intersection_id) AS rn
         | FROM cand WHERE d2 <= $R2) t
         |WHERE rn = 1 ORDER BY event_id""".stripMargin)
  }
}
