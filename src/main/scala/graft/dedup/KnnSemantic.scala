package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #20m `dedup_knn_semantic` — SemDeDup on the k-NN GRAPH (Abbas et al.
  * 2023, arXiv:2303.09540, with the graph-blocked candidate generation the
  * paper's §5 scaling discussion points at), r14 verdict task #4: the
  * graph-based twin of `dedup_semantic`'s kmeans-cell blocking, closing
  * the promise in `AnnKnnGraph`'s contract ("the neighbor structure
  * SemDeDup-style dedup consumes").
  *
  * Candidates are the staged `sim/knnGraph` neighbor lists: a pair is a
  * duplicate edge when one lists the other at round-4 cosine ≥ [[Tau]]
  * (the SAME threshold `dedup_semantic` uses — the twin claim is
  * comparability). Edges close transitively into components
  * ([[DedupClusters.connectedComponents]], the house min-label /
  * union-find resolver); each component keeps its min-id vector as
  * canonical, everything else drops. Coverage is the WHOLE corpus —
  * singletons are their own canonical (the `dedup_weights` convention).
  *
  * WHY the graph blocking matters: kmeans cells are a partition — a
  * near-dup pair STRADDLING a cell boundary is invisible to
  * `dedup_semantic` (each member compares only within its own cell), but
  * the k-NN graph lists nearest neighbors regardless of any cell wall, so
  * the straddling pair IS an edge here. `KnnSemanticSpec` plants exactly
  * that geometry and pins the catch, plus agreement with `dedup_semantic`
  * away from boundaries. The trade: graph semantic dedup is transitive
  * (a chain a~b~c merges even when cos(a,c) < τ — the standard
  * connected-components semantics of `dedup_clusters`), where cell
  * SemDeDup only compares within a block.
  *
  * Scale: the edge set is ≤ K·n rows BEFORE the τ filter (the graph's own
  * linearity), the filter is map-side over checkpoint blocks, and
  * component resolution inherits `dedup_clusters`' posture (driver
  * union-find under the 2²⁰-edge bound, distributed min-label +
  * pointer doubling above it). Oracle: the registered knn-graph chain as
  * one MATERIALIZED CTE + the house recursive transitive closure. */
object KnnSemantic extends graft.QueryModule {

  /** Shared with `dedup_semantic` ([[graft.sim.Kmeans.SemTau]]). */
  val Tau: Double = graft.sim.Kmeans.SemTau

  def knnSemantic(s: SparkSession, dir: String): DataFrame = {
    // rung read WITHOUT the presentation sort: the τ filter + distinct
    // destroy order, so the sorted accessor's range exchange is pure waste
    val g = graft.sim.AnnKnnGraph.knnGraphRung(s, dir)
    val edges = g.filter(col("cosine") >= Tau)
      .select(least(col("q_id"), col("n_id")).as("a"),
        greatest(col("q_id"), col("n_id")).as("b"))
      .distinct()
    val lab = DedupClusters.connectedComponents(edges)
      .withColumnsRenamed(Map("id" -> "vec_id", "label" -> "canonical"))
    graft.sim.SimArtifacts.stagedBandIndex(s, dir).select(col("vec_id"))
      .join(lab, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("canonical"), col("vec_id")).as("canonical"))
      .withColumn("kept", col("vec_id") === col("canonical"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_knn_semantic" -> (knnSemantic _))

  val oracles: Map[String, String] = Map(
    "dedup_knn_semantic" ->
      s"""WITH RECURSIVE
         |kg AS MATERIALIZED (SELECT q_id, n_id, cosine FROM (
         |${graft.sim.AnnKnnGraph.oracles("ann_knn_graph")}
         |) kgv),
         |pr AS (SELECT least(q_id, n_id) AS a, greatest(q_id, n_id) AS b
         | FROM kg WHERE cosine >= $Tau GROUP BY 1, 2),
         |edges AS (SELECT a AS u, b AS v FROM pr UNION ALL SELECT b, a FROM pr),
         |reach(u, v) AS (
         | SELECT u, v FROM edges
         | UNION
         | SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |nodes AS (SELECT DISTINCT u FROM edges),
         |clust AS (
         | SELECT n.u AS vec_id, least(n.u, min(r.v)) AS canonical
         | FROM nodes n JOIN reach r ON r.u = n.u
         | GROUP BY n.u)
         |SELECT em.vec_id, coalesce(c.canonical, em.vec_id) AS canonical,
         | (em.vec_id = coalesce(c.canonical, em.vec_id)) AS kept
         |FROM embeddings em LEFT JOIN clust c ON c.vec_id = em.vec_id
         |ORDER BY em.vec_id""".stripMargin)
}
