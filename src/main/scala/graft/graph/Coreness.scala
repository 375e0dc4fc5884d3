package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #37n `graph_coreness` — the FULL k-shell decomposition: every node's
  * core NUMBER (the largest k whose k-core contains it), upgrading
  * `graph_kcore`'s fixed-k membership bit to the standard density
  * RANKING (coreness is the robust "how deep in the dense part" score a
  * crawl prioritizer or link-farm auditor sorts by — degree is gameable
  * by one hub edge, coreness is not: every supporting neighbor must
  * itself be equally supported, recursively).
  *
  * Algorithm: the H-INDEX ITERATION (Lü, Zhou, Zhang & Stanley, Nature
  * Communications 7:10168, 2016): start at c₀(v) = degree(v) and iterate
  * c_{t+1}(v) = H({c_t(u) : u ~ v}) — the largest h such that ≥ h
  * neighbors currently score ≥ h. The sequence is monotone
  * non-increasing and converges to EXACTLY the coreness, with no outer
  * loop over k (one chain computes every shell at once — the reason this
  * form scales where per-k peeling multiplies rounds by k_max).
  * [[Rounds]] is FIXED (declared truncation: the value after round R is
  * a monotone upper bound that has converged on every gate corpus —
  * spec-witnessed by an extra driver round changing nothing, and by
  * exact equality against a classic driver-side peel). Truncation is
  * VISIBLE, not assumed: `converged` compares round R−1 vs round R per
  * node (the `graph_scc` `settled` discipline) — on a structure deeper
  * than the budget (H-corrections propagate one hop per round, so a long
  * path needs ~length/2 rounds) the still-moving frontier reads false,
  * and only an all-true column certifies the budget sufficed.
  *
  * Determinism: the H-index is pure integer order statistics — sort each
  * node's neighbor scores descending (ties broken by neighbor id; ties
  * cannot change max min(i, cᵢ), the tie-break only fixes the row
  * order), H = max over rows of min(row_number, score). Set semantics,
  * bit-exact under any partitioning; the oracle unrolls the identical R
  * rounds with the identical windows.
  *
  * Scale: per round ONE adjacency⋈scores hash join on uniform node keys
  * + a per-node window over NEIGHBOR LISTS (bounded by degree — never a
  * global or corpus-wide sort) + a map-side max; `localCheckpoint` cuts
  * lineage per round (the `graph_kcore` loop contract). */
object Coreness extends graft.QueryModule {

  val Rounds = 8

  def coreness(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), lit(0L).as("degree"), lit(0L).as("coreness"),
        lit(true).as("converged"))
    // staged family rung: symmetric adjacency shared across the BFS family
    corenessOnAdj(s, docs, GraphArtifacts.stagedAdjacency(s, dir))
  }

  /** The iteration core over explicit vertex + simple-edge frames — split
    * out so the spec can plant exact topologies (clique-with-tail, star,
    * disjoint triangles). */
  private[graph] def corenessOf(s: SparkSession, docs: DataFrame, und: DataFrame): DataFrame =
    corenessOnAdj(s, docs,
      und.select(col("u").as("node"), col("v").as("nb"))
        .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
        .localCheckpoint(true))

  /** The core over a MATERIALIZED symmetric adjacency (node, nb). */
  private[graph] def corenessOnAdj(s: SparkSession, docs: DataFrame, adj: DataFrame): DataFrame = {
    // gate keyed on the per-round adjacency⋈score join input |adj|, not
    // |V| (r16, the graph_anf/Mmr gate-scope class)
    graft.InterpretedLoop.run(s, adj.count()) {
      val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      var cur = deg
      var prev = deg // round R-1 scores, kept for the convergence witness
      for (_ <- 1 to Rounds) {
        prev = cur
        val withC = adj.join(
          cur.select(col("node").as("nb"), col("c").as("cnb")), Seq("nb"))
        val w = Window.partitionBy(col("node"))
          .orderBy(col("cnb").desc, col("nb"))
        cur = withC
          .withColumn("i", row_number().over(w).cast("long"))
          .select(col("node"), least(col("i"), col("cnb")).as("m"))
          .groupBy(col("node")).agg(max(col("m")).as("c"))
          .localCheckpoint(true)
      }
      docs.join(deg.withColumnRenamed("node", "doc_id")
          .withColumnRenamed("c", "degree"), Seq("doc_id"), "left")
        .join(cur.withColumnRenamed("node", "doc_id")
          .withColumnRenamed("c", "coreness"), Seq("doc_id"), "left")
        .join(prev.withColumnRenamed("node", "doc_id")
          .withColumnRenamed("c", "c_prev"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          coalesce(col("coreness"), lit(0L)).as("coreness"),
          (coalesce(col("c_prev"), lit(0L)) === coalesce(col("coreness"), lit(0L)))
            .as("converged"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_coreness" -> (coreness _))

  val oracles: Map[String, String] = Map(
    "graph_coreness" -> {
      val rounds = (1 to Rounds).map { r =>
        s"""c$r AS MATERIALIZED (SELECT node, max(least(i, cnb))::BIGINT AS c FROM (
           |  SELECT adj.node, p.c AS cnb,
           |   row_number() OVER (PARTITION BY adj.node
           |     ORDER BY p.c DESC, adj.nb) AS i
           |  FROM adj JOIN c${r - 1} p ON p.node = adj.nb) z
           | GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |c0 AS (SELECT node, count(*)::BIGINT AS c FROM adj GROUP BY node),
         |$rounds
         |SELECT d.doc_id,
         | coalesce(c0.c, 0)::BIGINT AS degree,
         | coalesce(cf.c, 0)::BIGINT AS coreness,
         | (coalesce(cp.c, 0) = coalesce(cf.c, 0)) AS converged
         |FROM documents d
         |LEFT JOIN c0 ON c0.node = d.doc_id
         |LEFT JOIN c$Rounds cf ON cf.node = d.doc_id
         |LEFT JOIN c${Rounds - 1} cp ON cp.node = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    })
}
