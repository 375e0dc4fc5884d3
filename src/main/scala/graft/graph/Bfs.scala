package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37d Breadth-first hop distance from a source node (SURVEY.md §2).
  *
  * "How far is every page from this seed?" — the reachability/radius
  * primitive under link-based crawl frontiers and seed-expansion curation
  * (pick trusted seeds, keep everything within k hops). Completes the
  * graph family: `dedup_clusters` answers WHETHER nodes connect, this
  * answers HOW FAR, over the same shared citation-graph definition
  * ([[PageRank.graphSqlCtes]] / [[Triangles.simpleEdgesSqlCte]]),
  * undirected.
  *
  * [[MaxHops]] frontier rounds from source 0 (a `% 100` hub, so the
  * ball covers the graph quickly); unreached nodes report dist = −1.
  * Distances are small integers under set-union semantics — bit-exact
  * under any partitioning — and the oracle replays the same bounded
  * unrolled frontier chain, so the result is FULLY hash-checked.
  *
  * Scale posture: each round is one frontier⋈adjacency hash join + an
  * anti-join against the visited set + a distinct — the textbook
  * distributed BFS round (frontier-proportional work, no driver state);
  * lineage is cut per round with localCheckpoint (the `dedup_clusters`
  * loop pattern). A bounded-hop BFS is the production form — unbounded
  * BFS on a link graph is a crawl, not a query. */
object Bfs extends graft.QueryModule {

  val MaxHops = 6
  val Source = 0L

  def bfs(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), lit(-1L).as("dist"), lit(false).as("reached"))
    // staged family rung: symmetric adjacency shared across the BFS family
    val adj = GraphArtifacts.stagedAdjacency(s, dir)
    // tiny per-round frames: interpreted loop (the PageRank tradeoff);
    // gate keyed on the per-hop frontier⋈adjacency join input |adj|, not
    // |V| (r16, the graph_anf/Mmr gate-scope class)
    graft.InterpretedLoop.run(s, adj.count()) {
      // visited as per-round checkpoint PARTS unioned lazily (r15, the
      // Betweenness/Closeness fix): no per-round re-write of the whole
      // growing frontier history; set semantics identical.
      val seed = s.createDataFrame(Seq(Tuple2(Source, 0L)))
        .toDF("node", "dist").localCheckpoint(true)
      var parts = Vector(seed)
      var frontier = seed
      for (k <- 1 to MaxHops) {
        val visitedSoFar = parts.map(_.select(col("node"))).reduce(_.unionByName(_))
        val next = adj.join(frontier.select(col("node")), Seq("node"))
          .select(col("nb").as("node")).distinct()
          .join(visitedSoFar, Seq("node"), "left_anti")
          .select(col("node"), lit(k.toLong).as("dist"))
          .localCheckpoint(true)
        parts = parts :+ next
        frontier = next
      }
      val visited = parts.reduce(_.unionByName(_))
      docs.join(visited.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("dist"), lit(-1L)).as("dist"),
          col("dist").isNotNull.as("reached"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_bfs" -> (bfs _))

  val oracles: Map[String, String] = Map(
    "graph_bfs" -> {
      val rounds = (1 to MaxHops).map { k =>
        s"""d$k AS (SELECT node, dist FROM d${k - 1}
           | UNION ALL
           | SELECT nb AS node, $k AS dist FROM (
           |  SELECT DISTINCT adj.nb FROM adj
           |  JOIN d${k - 1} ON adj.node = d${k - 1}.node
           |  WHERE adj.nb NOT IN (SELECT node FROM d${k - 1})))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |d0 AS (SELECT ${Source}::BIGINT AS node, 0::BIGINT AS dist),
         |$rounds
         |SELECT doc_id, coalesce(d.dist, -1)::BIGINT AS dist,
         | (d.dist IS NOT NULL) AS reached
         |FROM documents LEFT JOIN d$MaxHops d ON d.node = doc_id
         |ORDER BY doc_id""".stripMargin
    })
}
