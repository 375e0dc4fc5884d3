package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37e k-core decomposition (3-core membership) over the citation graph
  * (SURVEY.md §2).
  *
  * The k-core is the maximal subgraph where every node keeps ≥ k
  * neighbors — the standard "dense part of the web graph" curation
  * primitive (Seidman 1983; link-farm and isolated-page pruning keeps
  * the core, drops the periphery). Completes the graph family:
  * connectivity (`dedup_clusters`), authority (`graph_pagerank`),
  * local clustering (`graph_triangles`), node similarity
  * (`graph_neighbor_jaccard`), reachability (`graph_bfs`), density
  * (this). Same shared undirected simple graph as the rest
  * ([[Triangles.simpleEdges]] / [[Triangles.simpleEdgesSqlCte]]).
  *
  * Algorithm: synchronous peeling — each round drops every node whose
  * CURRENT degree is < k and every edge touching a dropped node, exactly
  * [[PeelRounds]] rounds. The round count is FIXED (no data-dependent
  * control flow), so the plan is deterministic and the oracle replays it
  * as an unrolled CTE chain; the spec witnesses that the test graph
  * reaches its fixpoint well inside the budget (an extra round changes
  * nothing), and a production run sizes the budget the same way
  * `graph_bfs` sizes hops — or checks the cheap removed-count aggregate
  * per round and stops early (dedup_clusters' convergence pattern).
  *
  * Scale shape: per round one map-side-combinable degree aggregate plus
  * two left-semi hash joins on uniform node keys (edges shrink
  * monotonically); `localCheckpoint` cuts lineage so the loop cost stays
  * per-round flat. No NLJ, no driver-side graph state.
  */
object KCore extends graft.QueryModule {

  val CoreK = 3L
  val PeelRounds = 6

  def kcore(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), lit(false).as("in_core"),
        lit(0L).as("core_degree"))
    // tiny per-round frames: interpreted loop (the PageRank/dedup_clusters
    // tradeoff — janino compile per unique round plan costs more than it buys)
    // round-0 adjacency is the staged family rung (already materialized);
    // later rounds peel into per-op checkpoints
    val adj0 = GraphArtifacts.stagedAdjacency(s, dir)
    // gate keyed on the per-round peel input |adj|, not |V| (r16, the
    // graph_anf/Mmr gate-scope class); later rounds only shrink it
    graft.InterpretedLoop.run(s, adj0.count()) {
      var adj = adj0
      for (_ <- 1 to PeelRounds) {
        val keep = adj.groupBy(col("node")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= CoreK).select(col("node"))
        adj = adj
          .join(keep, Seq("node"), "left_semi")
          .join(keep.withColumnRenamed("node", "nb"), Seq("nb"), "left_semi")
          .localCheckpoint(true)
      }
      val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
      docs.join(deg, docs("doc_id") === deg("node"), "left")
        .select(col("doc_id"), col("node").isNotNull.as("in_core"),
          coalesce(col("core_degree"), lit(0L)).as("core_degree"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_kcore" -> (kcore _))

  val oracles: Map[String, String] = Map(
    "graph_kcore" -> {
      val rounds = (1 to PeelRounds).map { r =>
        s"""k$r AS (SELECT node FROM (
           |  SELECT node, count(*) AS c FROM adj${r - 1} GROUP BY node) t
           | WHERE c >= $CoreK),
           |adj$r AS (SELECT a.node, a.nb FROM adj${r - 1} a
           | JOIN k$r x ON a.node = x.node
           | JOIN k$r y ON a.nb = y.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj0 AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |$rounds,
         |deg AS (SELECT node, count(*)::BIGINT AS core_degree
         | FROM adj$PeelRounds GROUP BY node)
         |SELECT d.doc_id, deg.node IS NOT NULL AS in_core,
         | coalesce(deg.core_degree, 0)::BIGINT AS core_degree
         |FROM documents d LEFT JOIN deg ON d.doc_id = deg.node
         |ORDER BY d.doc_id""".stripMargin
    })
}
