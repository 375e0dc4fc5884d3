package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #12e Probabilistic record linkage between the two warehouse snapshots
  * (Fellegi & Sunter, JASA 1969) — entity resolution WITHOUT a shared key
  * (SURVEY.md §2).
  *
  * The reference reconciles carto against soda by `socrata_id`
  * (`etl_reconcile`); real MDM regularly lacks that luxury — two feeds of
  * the same incidents with no common identifier must be linked on their
  * OBSERVED fields. This operator scores candidate pairs with fixed
  * integer log-odds-style agreement weights (the supervised-trained m/u
  * weights of a production linker, shipped as constants the way DSIR
  * ships its model): coordinate agreement within ~25 m in the planar
  * metric, and exact value agreement. score = Σ weights; verdict
  * `match` ≥ [[MatchMin]], `possible` ≥ [[PossibleMin]] (the clerical-
  * review band — upstream's ~111 m re-geocodes land here via value
  * agreement alone), below that pairs are not emitted.
  *
  * Blocking IS the declared metric (the `dedup_containment` discipline):
  * candidates share (day, event_type) and sit within one
  * [[LinkCellDeg]]-cell of each other (3×3 stencil on the carto side, the
  * `etl_geo_cluster` geometry — cells sized in the DISTANCE metric).
  * Ungeocoded rows are outside the declared metric (geocoded-only
  * linkage); null-island rows block at (0,0) and correctly link nothing.
  * Pair mass is bounded by per-(day, type, cell) occupancy — uniform
  * keys, no NLJ, no all-pairs.
  *
  * `event_id` appears ONLY as the row identifier in the output — the
  * match decision never reads it, which is what lets the spec use it as
  * ground truth to measure precision/recall of the linkage. */
object RecordLinkage extends graft.QueryModule {

  val LinkCellDeg = 0.005
  val LngScale = 0.75
  /** ~25 m planar tolerance (degrees²) — accepts the upstream's ~5.5 m
    * nudges (id % 23), rejects its ~111 m re-geocodes (id % 17). */
  val CoordEps2 = 0.00025 * 0.00025
  val WCoordAgree = 28L
  val WCoordDisagree = -8L
  val WValueAgree = 15L
  val WValueDisagree = -5L
  val MatchMin = 30L
  val PossibleMin = 5L

  def linkage(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("value"))
    val id = col("event_id")
    val carto = ev.filter(Synth.inCarto(id))
      .select(col("event_id").as("a_id"), col("day"), col("event_type"),
        Synth.cartoLng(id).as("alng"), Synth.cartoLat(id).as("alat"),
        col("value").as("aval"))
      .filter(col("alng").isNotNull && col("alat").isNotNull)
    val soda = ev
      .select(col("event_id").as("b_id"), col("day"), col("event_type"),
        Synth.sodaLng(id).as("blng"), Synth.sodaLat(id).as("blat"),
        col("value").as("bval"))
      .filter(col("blng").isNotNull && col("blat").isNotNull)
    val a = carto
      .withColumn("cx0", floor(col("alng") * LngScale / LinkCellDeg).cast("long"))
      .withColumn("cy0", floor(col("alat") / LinkCellDeg).cast("long"))
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("a_id"), col("day"), col("event_type"), col("alng"), col("alat"),
        col("aval"), (col("cx0") + col("dx")).as("cx"), (col("cy0") + col("dy")).as("cy"))
    val b = soda
      .withColumn("cx", floor(col("blng") * LngScale / LinkCellDeg).cast("long"))
      .withColumn("cy", floor(col("blat") / LinkCellDeg).cast("long"))
    val dlat = col("alat") - col("blat")
    val dlng = (col("alng") - col("blng")) * LngScale
    val coordAgree = dlat * dlat + dlng * dlng <= CoordEps2
    val valueAgree = col("aval") === col("bval")
    a.join(b, Seq("day", "event_type", "cx", "cy"))
      .withColumn("coord_agree", coordAgree)
      .withColumn("value_agree", valueAgree)
      .withColumn("score",
        when(col("coord_agree"), WCoordAgree).otherwise(WCoordDisagree) +
          when(col("value_agree"), WValueAgree).otherwise(WValueDisagree))
      .filter(col("score") >= PossibleMin)
      .withColumn("verdict",
        when(col("score") >= MatchMin, lit("match")).otherwise(lit("possible")))
      .select("a_id", "b_id", "day", "event_type", "coord_agree", "value_agree",
        "score", "verdict")
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_record_linkage" -> (linkage _))

  private val idA = "a.event_id"
  private val idB = "b.event_id"

  val oracles: Map[String, String] = Map(
    "etl_record_linkage" -> {
      val albg = Synth.cartoLngSql(idA)
      val alat = Synth.cartoLatSql(idA)
      val blng = Synth.sodaLngSql(idB)
      val blat = Synth.sodaLatSql(idB)
      s"""WITH ca AS (
         | SELECT a.event_id AS a_id, a.ts::DATE AS day, a.event_type,
         |  $albg AS alng, $alat AS alat, a.value AS aval,
         |  floor($albg * $LngScale / $LinkCellDeg)::BIGINT AS cx0,
         |  floor($alat / $LinkCellDeg)::BIGINT AS cy0
         | FROM events a
         | WHERE ${Synth.inCartoSql(idA)} AND $albg IS NOT NULL AND $alat IS NOT NULL),
         |a9 AS (SELECT ca.*, ca.cx0 + dx.x AS cx, ca.cy0 + dy.y AS cy
         | FROM ca CROSS JOIN (VALUES (-1),(0),(1)) dx(x)
         | CROSS JOIN (VALUES (-1),(0),(1)) dy(y)),
         |sb AS (
         | SELECT b.event_id AS b_id, b.ts::DATE AS day, b.event_type,
         |  $blng AS blng, $blat AS blat, b.value AS bval,
         |  floor($blng * $LngScale / $LinkCellDeg)::BIGINT AS cx,
         |  floor($blat / $LinkCellDeg)::BIGINT AS cy
         | FROM events b
         | WHERE $blng IS NOT NULL AND $blat IS NOT NULL),
         |p AS (SELECT a9.a_id, sb.b_id, a9.day, a9.event_type,
         |  ((a9.alat - sb.blat) * (a9.alat - sb.blat)
         |    + ((a9.alng - sb.blng) * $LngScale) * ((a9.alng - sb.blng) * $LngScale)
         |    <= $CoordEps2) AS coord_agree,
         |  (a9.aval = sb.bval) AS value_agree
         | FROM a9 JOIN sb ON a9.day = sb.day AND a9.event_type = sb.event_type
         |  AND a9.cx = sb.cx AND a9.cy = sb.cy),
         |sc AS (SELECT *,
         |  (CASE WHEN coord_agree THEN $WCoordAgree ELSE $WCoordDisagree END
         |   + CASE WHEN value_agree THEN $WValueAgree ELSE $WValueDisagree END)::BIGINT AS score
         | FROM p)
         |SELECT a_id, b_id, day, event_type, coord_agree, value_agree, score,
         | CASE WHEN score >= $MatchMin THEN 'match' ELSE 'possible' END AS verdict
         |FROM sc WHERE score >= $PossibleMin
         |ORDER BY a_id, b_id""".stripMargin
    })
}
