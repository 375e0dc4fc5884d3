package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.{cosine, cosineSql}

/** IVF-style ANN (SURVEY.md §2 #25b) — the inverted-file scale path next to
  * the hyperplane-LSH variant.
  *
  * Cells: the first 16 vectors serve as deterministic "centroids" (a real
  * deployment k-means-trains them offline; determinism matters here because
  * the DuckDB oracle must reproduce the exact assignment). Every corpus
  * vector is assigned to its best-cosine centroid; a query probes its
  * nprobe=4 best cells and ranks only vectors in those cells.
  *
  * Scale: assignment is one broadcast (16 centroids) map-side pass; the
  * probe join is an equi-join on cell id — per-query work drops from O(N)
  * to O(N·nprobe/cells), and cells shard naturally across executors.
  */
object AnnIvf extends graft.QueryModule {

  /** Cell count scales with corpus size (IVF's standard √n sizing — with
    * cells ∝ √n, per-probe candidate volume n·nprobe/cells grows ~√n, not
    * n). The oracle replays the same formula via a scalar subquery, so
    * both engines agree at every scale factor. */
  def cellsFor(n: Long): Int = math.max(MinCells, math.ceil(math.sqrt(n / 2.0)).toInt)

  private[sim] def cellsSql: String =
    s"(SELECT greatest($MinCells, ceil(sqrt(count(*) / 2.0))::BIGINT) FROM e)"

  val MinCells = 16
  val NProbe = 4
  val TopK = 10

  def annTopkIvf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

    // The centroid matrix is a driver-side artifact, exactly as a real IVF
    // deployment ships offline-k-means centroids to every executor: the
    // cell vectors collected once and inlined as a literal. Cell assignment
    // and probing then become one compiled TopCells call per row — zero
    // shuffle, zero join, no windowed argmax (the previous plan ran two
    // window Exchanges plus a SortMergeJoin for the same answer).
    val n = e.count()
    if (n == 0)
      // empty corpus: no centroids to collect — schema-complete empty top-k
      return e.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"),
        lit(0.0).as("cosine"), lit(0L).as("rank")).filter(lit(false))
    // corpus smaller than the cell floor: every vector is a cell centroid —
    // matches the oracle's `WHERE vec_id < cellsSql` row count instead of
    // throwing on the missing ids (same fix as Kmeans.trainedCentroids)
    val cells = math.min(cellsFor(n), n).toInt
    val centRows = e.filter(col("vec_id") < cells)
      .select(col("vec_id"), col("emb")).collect().sortBy(_.getLong(0))
    require(centRows.map(_.getLong(0)).toSeq == (0L until cells.toLong),
      s"expected centroid vec_ids 0..${cells - 1}")
    val cents = centRows.map(_.getSeq[Double](1).toArray)

    val assigned = CentroidAssign.withBestCell(e, cents)
      .select(col("vec_id"), col("emb"), col("cell"))
    val probes = CentroidAssign.withProbeCells(
        e.filter(col("vec_id") < 10), cents, NProbe)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("cell"))

    // (q_id, n_id) is unique by construction: each corpus vector lives in
    // exactly one cell and a query's probe cells are distinct.
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cosine", round(cosine(col("q_emb"), col("emb")), 4))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cosine"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf" -> (annTopkIvf _))

  val oracles: Map[String, String] = Map(
    "ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cents AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < $cellsSql),
         |assigned AS (
         | SELECT vec_id, emb, c_id AS cell FROM (
         |  SELECT e.vec_id, e.emb, cents.c_id,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY round(${cosineSql("e.emb", "cents.c_emb")}, 6) DESC, cents.c_id) AS r
         |  FROM e CROSS JOIN cents) t
         | WHERE r = 1),
         |probes AS (
         | SELECT q_id, q_emb, c_id AS cell FROM (
         |  SELECT e.vec_id AS q_id, e.emb AS q_emb, cents.c_id,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY round(${cosineSql("e.emb", "cents.c_emb")}, 6) DESC, cents.c_id) AS r
         |  FROM e CROSS JOIN cents WHERE e.vec_id < 10) t
         | WHERE r <= $NProbe),
         |cand AS (
         | SELECT DISTINCT probes.q_id, assigned.vec_id AS n_id,
         |  round(${cosineSql("probes.q_emb", "assigned.emb")}, 4) AS cosine
         | FROM assigned JOIN probes ON assigned.cell = probes.cell
         | WHERE probes.q_id != assigned.vec_id)
         |SELECT q_id, n_id, rank, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM cand) t
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
}
