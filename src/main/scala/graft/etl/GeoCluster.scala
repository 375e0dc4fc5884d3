package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #11c Density-based spatial clustering — exact grid-DBSCAN (Ester et
  * al., KDD 1996) over the crash points (SURVEY.md §2).
  *
  * The reference's high-crash analysis ranks FIXED intersections
  * (`etl_highcrash_rank`); DBSCAN finds the hot zones nobody predefined —
  * corridors and clusters of incidents — which is the actual spatial-
  * analytics ask behind "where do crashes concentrate?". Semantics are
  * textbook DBSCAN made deterministic: a point is CORE when ≥ [[MinPts]]
  * points (itself included) sit within [[Eps]] in the planar small-angle
  * metric (dlat² + (dlng·[[LngScale]])², the `etl_nearest_intersection`
  * convention); clusters are connected components of the core-core
  * eps-graph labeled by MINIMUM core id (so labels are total-order
  * deterministic, not visit-order like the original algorithm); border
  * points take the smallest label among their core neighbors; everything
  * else is noise (null). Border ties to the lowest label resolve DBSCAN's
  * only nondeterminism.
  *
  * Coordinates: the CDC-family synthetic coords (`Synth.cartoLng`) are
  * LINEAR in event_id — a lattice whose nearest-neighbor spacing is
  * quantized, which degenerates density clustering (measured: every point
  * has exactly 3 neighbors at eps=0.003 and 7 at 0.006). Clustering gets
  * its own md5-scattered coordinate convention (the `sample_stratified`
  * hash idiom), identical in both engines.
  *
  * Scale shape: candidate pairs via the [[Eps]]-sized grid-cell equi-join
  * (a-side exploded ×9 into its 3×3 neighborhood — uniform keys, no NLJ,
  * the `RangeJoin` discipline); neighbor counts and core flags are
  * map-side-combinable aggregates; components run on the SPARSE core-core
  * edge list via [[graft.dedup.DedupClusters.connectedComponents]]
  * (min-label propagation + pointer doubling, localCheckpoint per round).
  * The oracle replays everything, components as a recursive CTE. */
object GeoCluster extends graft.QueryModule {

  val Eps0 = 0.002 // calibrated at N0 = 10^4 points
  val MinPts = 4L
  val LngScale = 0.75

  /** Declared skew discipline for the cell self-join (the hot-bucket cap
    * family: `dedup_containment`'s df-cap, `StreamNearDup.MaxPerBucket`).
    * eps ∝ 1/√N holds the EXPECTED cell occupancy constant, but real
    * point clouds pile up — a stadium's worth of crashes at one corner is
    * one cell with 10⁵ points and a 10¹⁰-pair join in a single task.
    * Cells above [[MaxCellOccupancy]] are salted: the b-side spreads over
    * [[CellSalt]] shards by point id, the a-side replicates ×[[CellSalt]]
    * into hot target cells only — per-task pair mass drops ×CellSalt with
    * IDENTICAL output (each pair lands in exactly the shard matching the
    * b-point's salt). Cold cells pay one extra broadcast-join column, no
    * fan-out. */
  val MaxCellOccupancy = 4096L
  val CellSalt = 16

  /** Density-adaptive radius: eps ∝ 1/√N keeps the expected eps-ball
    * occupancy CONSTANT as the corpus grows (the `Kmeans.kFor` scaling
    * contract applied to space). A fixed radius drifts toward the
    * continuum-percolation critical density as points accumulate — at 10×
    * the calibration density nearly every point is core and the core graph
    * collapses into one giant component (measured: 52 s at sf0.1 vs
    * sub-second when occupancy is held constant). Both engines evaluate
    * the same 0.002·√(10⁴/N) doubles, so the grid and the ball are
    * bit-identical. */
  def epsFor(n: Long): Double =
    if (n <= 0) Eps0 else Eps0 * math.sqrt(10000.0 / n)

  private def h(id: Column, start: Int): Column =
    conv(substring(md5(id.cast("string")), start, 8), 16, 10).cast("long") % 100000L

  /** md5-scattered deterministic point cloud over the NYC-like extent. */
  private def points(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_id"))
      .withColumn("lng", lit(-74.25) + h(col("event_id"), 1) / 100000.0 * 0.5)
      .withColumn("lat", lit(40.50) + h(col("event_id"), 9) / 100000.0 * 0.4)

  /** Exact deterministic DBSCAN over (id, lng, lat) rows — shared by the
    * operator and the planted-geometry specs. Returns one row per input
    * point: (event_id, n_neighbors, is_core, cluster — null = noise). */
  private[etl] def dbscan(pts: DataFrame, eps: Double, minPts: Long,
      lngScale: Double, hotOccupancy: Long = MaxCellOccupancy,
      cellSalt: Int = CellSalt): DataFrame = {
    // grid the SCALED longitude: the eps-ball reaches eps/lngScale raw
    // degrees in x, which spans two eps-wide raw cells — cells must be
    // sized in the same metric as the distance
    val base = graft.CacheRegistry.track(pts
      .withColumn("cx", floor(col("lng") * lngScale / eps).cast("long"))
      .withColumn("cy", floor(col("lat") / eps).cast("long")))
    // hot-cell ledger: a |cells-above-cap|-row broadcast (empty on any
    // corpus whose density matches the eps∝1/√N contract)
    val hot = base.groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("cell_n"))
      .filter(col("cell_n") > hotOccupancy)
      .select(col("cx"), col("cy"), lit(true).as("is_hot"))
    val a = base.select(col("event_id").as("a_id"), col("lng").as("alng"),
        col("lat").as("alat"), col("cx"), col("cy"))
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("a_id"), col("alng"), col("alat"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
      // probe side replicates into every shard of a hot TARGET cell only
      .join(broadcast(hot), Seq("cx", "cy"), "left")
      .withColumn("salt", explode(when(coalesce(col("is_hot"), lit(false)),
        sequence(lit(0L), lit(cellSalt - 1L))).otherwise(array(lit(0L)))))
      .drop("is_hot")
    val b = base.select(col("event_id").as("b_id"), col("lng").as("blng"),
        col("lat").as("blat"), col("cx"), col("cy"))
      // build side spreads a hot cell's points across the shards by id
      .join(broadcast(hot), Seq("cx", "cy"), "left")
      .withColumn("salt", when(coalesce(col("is_hot"), lit(false)),
        pmod(xxhash64(col("b_id")), lit(cellSalt.toLong))).otherwise(lit(0L)))
      .drop("is_hot")
    val dlat = col("alat") - col("blat")
    val dlng = (col("alng") - col("blng")) * lngScale
    // self-pairs included (dx=dy=0 matches a to itself): counts include
    // the point, per the textbook |N_eps(p)| >= minPts definition
    val nbrs = graft.CacheRegistry.track(
      a.join(b, Seq("cx", "cy", "salt"))
        .filter(dlat * dlat + dlng * dlng <= eps * eps)
        .select(col("a_id"), col("b_id")))
    val cnt = nbrs.groupBy(col("a_id")).agg(count(lit(1)).as("n_neighbors"))
    val core = cnt.filter(col("n_neighbors") >= minPts).select(col("a_id").as("id"))
    val coreEdges = nbrs
      .join(core.withColumnRenamed("id", "a_id"), Seq("a_id"), "left_semi")
      .join(core.withColumnRenamed("id", "b_id"), Seq("b_id"), "left_semi")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
    val lbl = graft.dedup.DedupClusters.connectedComponents(coreEdges)
    // an isolated core (no core neighbor) anchors its own cluster
    val coreLbl = core.join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    val bord = nbrs
      .join(coreLbl.withColumnRenamed("id", "b_id"), Seq("b_id"))
      .join(core.withColumnRenamed("id", "a_id"), Seq("a_id"), "left_anti")
      .groupBy(col("a_id")).agg(min(col("label")).as("blabel"))
    base.select(col("event_id"))
      .join(cnt.withColumnRenamed("a_id", "event_id"), Seq("event_id"))
      .join(coreLbl.withColumnRenamed("id", "event_id")
        .withColumnRenamed("label", "core_label"), Seq("event_id"), "left")
      .join(bord.withColumnRenamed("a_id", "event_id"), Seq("event_id"), "left")
      .select(col("event_id"), col("n_neighbors"),
        col("core_label").isNotNull.as("is_core"),
        coalesce(col("core_label"), col("blabel")).as("cluster"))
      .orderBy(col("event_id"))
  }

  def geoCluster(s: SparkSession, dir: String): DataFrame = {
    val pts = points(s, dir)
    // bounded driver-side scalar (the kFor pattern); the oracle mirrors it
    // as a scalar subquery so corpus size can never desynchronize them
    val n = pts.count()
    dbscan(pts, epsFor(n), MinPts, LngScale)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_geo_cluster" -> (geoCluster _))

  private val lngSql =
    "(-74.25 + (('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100000) / 100000.0 * 0.5)"
  private val latSql =
    "(40.50 + (('0x' || substr(md5(event_id::VARCHAR), 9, 8))::BIGINT % 100000) / 100000.0 * 0.4)"

  private val epsSql = "(0.002 * sqrt(10000.0 / (SELECT count(*) FROM events)))"

  val oracles: Map[String, String] = Map(
    "etl_geo_cluster" ->
      s"""WITH RECURSIVE
         |eps AS (SELECT $epsSql AS e),
         |c AS (SELECT event_id, $lngSql AS lng, $latSql AS lat,
         |  floor($lngSql * $LngScale / eps.e)::BIGINT AS cx,
         |  floor($latSql / eps.e)::BIGINT AS cy
         | FROM events, eps),
         |a9 AS (SELECT event_id AS a_id, lng AS alng, lat AS alat,
         |  cx + dx.x AS cx, cy + dy.y AS cy
         | FROM c CROSS JOIN (VALUES (-1),(0),(1)) dx(x)
         | CROSS JOIN (VALUES (-1),(0),(1)) dy(y)),
         |nbr AS (SELECT a9.a_id, b.event_id AS b_id
         | FROM a9 JOIN c b ON a9.cx = b.cx AND a9.cy = b.cy, eps
         | WHERE (a9.alat - b.lat) * (a9.alat - b.lat)
         |   + ((a9.alng - b.lng) * $LngScale) * ((a9.alng - b.lng) * $LngScale)
         |   <= eps.e * eps.e),
         |cnt AS (SELECT a_id, count(*)::BIGINT AS n_neighbors FROM nbr GROUP BY 1),
         |core AS (SELECT a_id AS id FROM cnt WHERE n_neighbors >= $MinPts),
         |ce AS (SELECT n.a_id AS u, n.b_id AS v FROM nbr n
         | JOIN core x ON n.a_id = x.id JOIN core y ON n.b_id = y.id
         | WHERE n.a_id != n.b_id),
         |reach(u, v) AS (SELECT u, v FROM ce
         | UNION SELECT r.u, e.v FROM reach r JOIN ce e ON r.v = e.u),
         |lbl AS (SELECT c2.id, least(c2.id, coalesce(min(r.v), c2.id)) AS label
         | FROM core c2 LEFT JOIN reach r ON r.u = c2.id GROUP BY c2.id),
         |bord AS (SELECT n.a_id, min(l.label) AS blabel FROM nbr n
         | JOIN lbl l ON n.b_id = l.id
         | WHERE n.a_id NOT IN (SELECT id FROM core) GROUP BY n.a_id)
         |SELECT p.event_id, cnt.n_neighbors,
         | (lbl.id IS NOT NULL) AS is_core,
         | coalesce(lbl.label, bord.blabel) AS cluster
         |FROM c p JOIN cnt ON cnt.a_id = p.event_id
         |LEFT JOIN lbl ON lbl.id = p.event_id
         |LEFT JOIN bord ON bord.a_id = p.event_id
         |ORDER BY p.event_id""".stripMargin)
}
