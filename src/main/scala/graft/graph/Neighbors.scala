package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37c Neighbor-set Jaccard similarity — link prediction over the
  * citation graph (SURVEY.md §2).
  *
  * Two pages that cite/are cited by the same pages are topically related
  * even when no edge joins them — the classic common-neighbors /
  * Jaccard link-prediction score (Liben-Nowell & Kleinberg 2003), and on
  * a training-data link graph the signal behind "these two sources are
  * mirrors of each other". Completes the graph family: connectivity
  * (`dedup_clusters`), authority (`graph_pagerank`), local clustering
  * (`graph_triangles`), node similarity (this).
  *
  * Hub discipline (the `dedup_containment` declared-metric trick applied
  * to graphs): candidate pairs come from wedges, and a wedge at a hub
  * apex generates C(deg, 2) pairs — the `% 100` hub class would melt the
  * self-join at scale. So the metric is DECLARED over the df-capped
  * neighbor universe: only apexes with degree ≤ [[ApexDfCap]] generate
  * wedges, and each node's neighborhood size counts only such neighbors.
  * Pair mass is then Σ_a C(deg(a), 2) ≤ cap · |E| (linear), the operator
  * is exact w.r.t. its metric, and the oracle is a FULL replay — no
  * recall argument.
  *
  * Plan: edges → degree aggregate → capped-apex wedge self-join (uniform
  * keys by construction) → pair count → join to capped-neighborhood
  * sizes. All joins hash, no NLJ, no driver state. */
object Neighbors extends graft.QueryModule {

  val ApexDfCap = 20L
  val MinCommon = 2L

  def neighborJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"),
        lit(0L).as("common"), lit(0L).as("union_size"), lit(0.0).as("jaccard")).limit(0)
    // adjacency as (node, neighbor) in both directions — the staged family
    // rung, already materialized (no per-op persist needed)
    val adj = GraphArtifacts.stagedAdjacency(s, dir)
    val deg = adj.groupBy(col("nb")).agg(count(lit(1)).as("nb_deg"))
    // keep only adjacency rows whose NEIGHBOR (the wedge apex) is non-hub
    val capped = graft.CacheRegistry.track(
      adj.join(deg.filter(col("nb_deg") <= ApexDfCap), Seq("nb")))
    val nbSize = capped.groupBy(col("node")).agg(count(lit(1)).as("nn"))
    val pairs = capped.select(col("nb"), col("node").as("a_id"))
      .join(capped.select(col("nb"), col("node").as("b_id")), Seq("nb"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= MinCommon)
    pairs
      .join(nbSize.withColumnRenamed("node", "a_id").withColumnRenamed("nn", "na"), Seq("a_id"))
      .join(nbSize.withColumnRenamed("node", "b_id").withColumnRenamed("nn", "nb_n"), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("common"),
        (col("na") + col("nb_n") - col("common")).as("union_size"))
      .withColumn("jaccard", round(col("common").cast("double") / col("union_size"), 4))
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_neighbor_jaccard" -> (neighborJaccard _))

  val oracles: Map[String, String] = Map(
    "graph_neighbor_jaccard" ->
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |dg AS (SELECT nb, count(*)::BIGINT AS nb_deg FROM adj GROUP BY nb),
         |capped AS (SELECT adj.node, adj.nb FROM adj
         | JOIN dg USING (nb) WHERE dg.nb_deg <= $ApexDfCap),
         |ns AS (SELECT node, count(*)::BIGINT AS nn FROM capped GROUP BY node),
         |p AS (SELECT a.node AS a_id, b.node AS b_id, count(*)::BIGINT AS common
         | FROM capped a JOIN capped b ON a.nb = b.nb AND a.node < b.node
         | GROUP BY 1, 2 HAVING count(*) >= $MinCommon)
         |SELECT p.a_id, p.b_id, p.common,
         | (na.nn + nb.nn - p.common)::BIGINT AS union_size,
         | round(p.common::DOUBLE / (na.nn + nb.nn - p.common), 4) AS jaccard
         |FROM p JOIN ns na ON na.node = p.a_id JOIN ns nb ON nb.node = p.b_id
         |ORDER BY p.a_id, p.b_id""".stripMargin)
}
