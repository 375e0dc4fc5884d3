package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.cosineSql

/** #25l `ann_cell_stats` — the IVF CELL-BALANCE audit: per-cell occupancy
  * and tightness of the exact cell assignment `ann_ivf`/`ann_ivfpq`
  * route queries through. `ann_recall_eval` audits what the index
  * RETURNS; this audits what the index COSTS — IVF probe latency is
  * occupancy-weighted (a query probing a hot cell scans its whole
  * posting list), so tail latency and executor skew are read directly
  * off `occ_ratio` (n·cells/N — 1.0 is perfectly balanced), and a
  * drifting corpus shows up as cells going hot/cold long before recall
  * moves. The standing readout a team checks before retuning
  * cells/nprobe — the FAISS `imbalance_factor` made a query.
  *
  * Composition discipline: the assignment is the SAME deterministic
  * chain the ANN family ships ([[CentroidAssign.withBestCell]] over the
  * `ann_ivf` centroids — first-⌈√(n/2)⌉ vectors, oracle-mirrored via the
  * shared cells formula), so the audit can never describe an index the
  * engine doesn't build. Empty cells EMIT (n = 0) — a dead centroid is
  * exactly what the audit exists to surface.
  *
  * Determinism: counts are exact; `mean_cos_center` avoids the
  * cross-row-float-sum trap by summing the round-4 cosines as EXACT
  * INTEGER ten-thousandths (the `stats_anova` declared-rounding move),
  * then dividing once. share/occ_ratio are single fixed-form divisions.
  *
  * Scale: the assignment pass is the family's compiled map-side
  * expression (zero shuffle); the audit adds ONE |cells|-key
  * map-side-combinable aggregate and a |cells|-row join against the
  * cell list. */
object AnnCellStats extends graft.QueryModule {

  def cellStats(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val n = e.count()
    if (n == 0)
      return e.select(col("vec_id").as("cell"), lit(0L).as("n_vectors"),
        lit(0.0).as("share"), lit(0.0).as("occ_ratio"),
        lit(0.0).as("mean_cos_center")).filter(lit(false))
    val cells = math.min(AnnIvf.cellsFor(n), n).toInt
    val centRows = e.filter(col("vec_id") < cells)
      .select(col("vec_id"), col("emb")).collect().sortBy(_.getLong(0))
    // the audit labels cells by POSITIONAL index into this array while the
    // oracle labels them by actual vec_id — enforce the composition
    // invariant (same guard as AnnIvf) instead of assuming it, so a corpus
    // with non-contiguous vec_ids below `cells` fails fast rather than
    // silently diverging engine-vs-oracle
    require(centRows.map(_.getLong(0)).toSeq == (0L until cells),
      s"ann_cell_stats: centroid vec_ids must be exactly 0..${cells - 1}")
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    val assigned = CentroidAssign.withBestCell(e, cents)
      .select(col("cell").cast("long").as("cell"),
        expr("CAST(round(cos_center * 10000) AS BIGINT)").as("c4"))
    val counts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("c4")).as("sc4"))
    val allCells = s.range(cells).select(col("id").as("cell"))
    allCells.join(counts, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
        round(coalesce(col("n_vectors"), lit(0L)).cast("double") / lit(n.toDouble), 6)
          .as("share"),
        round(coalesce(col("n_vectors"), lit(0L)).cast("double") * lit(cells.toDouble) /
          lit(n.toDouble), 4).as("occ_ratio"),
        when(col("n_vectors") > 0L,
          round(col("sc4").cast("double") / col("n_vectors").cast("double") / 10000.0, 4))
          .as("mean_cos_center"))
      .orderBy(col("cell"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_cell_stats" -> (cellStats _))

  val oracles: Map[String, String] = Map(
    "ann_cell_stats" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |nn AS (SELECT count(*)::BIGINT AS n FROM e),
         |cc AS (SELECT least(${AnnIvf.cellsSql}, (SELECT n FROM nn))::BIGINT AS cells),
         |cents AS (SELECT vec_id AS c_id, emb AS c_emb FROM e
         | WHERE vec_id < (SELECT cells FROM cc)),
         |assigned AS (
         | SELECT vec_id, c_id AS cell,
         |  CAST(round(round(${cosineSql("emb", "c_emb")}, 4) * 10000) AS BIGINT) AS c4
         | FROM (
         |  SELECT e.vec_id, e.emb, cents.c_id, cents.c_emb,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY round(${cosineSql("e.emb", "cents.c_emb")}, 6) DESC, cents.c_id) AS r
         |  FROM e CROSS JOIN cents) t
         | WHERE r = 1),
         |counts AS (SELECT cell, count(*)::BIGINT AS n_vectors, sum(c4)::BIGINT AS sc4
         | FROM assigned GROUP BY cell),
         |allc AS (SELECT unnest(range(0, (SELECT cells FROM cc))) AS cell)
         |SELECT allc.cell,
         | coalesce(counts.n_vectors, 0)::BIGINT AS n_vectors,
         | round(coalesce(counts.n_vectors, 0)::DOUBLE / (SELECT n FROM nn)::DOUBLE, 6)
         |  AS share,
         | round(coalesce(counts.n_vectors, 0)::DOUBLE * (SELECT cells FROM cc)::DOUBLE /
         |  (SELECT n FROM nn)::DOUBLE, 4) AS occ_ratio,
         | CASE WHEN counts.n_vectors > 0 THEN
         |  round(counts.sc4::DOUBLE / counts.n_vectors::DOUBLE / 10000.0, 4) END
         |  AS mean_cos_center
         |FROM allc LEFT JOIN counts ON counts.cell = allc.cell
         |ORDER BY allc.cell""".stripMargin)
}
