package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37h `graph_components` — connected components of the citation graph as
  * a first-class operator: every page labeled with the minimum doc_id of
  * its component plus the component size — the partition step behind
  * "crawl islands", per-source mirror groups, and sharding a link graph
  * for downstream per-component work. `dedup_clusters` applies the same
  * primitive to the near-dup pair graph; this exposes it on the shared
  * citation-graph definition ([[PageRank.graphSqlCtes]] /
  * [[Triangles.simpleEdgesSqlCte]], undirected), where isolated nodes
  * (all of whose synthetic edges are self-loops) label themselves.
  *
  * Spark-side: the shared hybrid engine ([[graft.dedup.DedupClusters
  * .connectedComponents]]) — driver union-find under the declared 2²⁰-edge
  * bound, distributed min-label + pointer-doubling loop above it. The
  * oracle unrolls [[OracleRounds]] min-label+doubling rounds in SQL —
  * equal to the exact labels on any graph whose doubling-convergence is ≤
  * that many rounds (reach grows ≥2× per round, so diameter ≲ 2⁶ converges;
  * the hub-dense synthetic graph converges in 3 — the spec runs one extra
  * round and asserts a fixed point, so the declared equivalence is
  * CHECKED on every gate corpus, not assumed).
  *
  * Scale: component labeling is the union-find/min-label hybrid's
  * contract (edge-linear shuffles, log-diameter rounds); the size readout
  * is one |V|-key aggregate joined back on the label — map-side
  * combinable, uniform keys. */
object Components extends graft.QueryModule {

  /** Min-label + pointer-doubling rounds the oracle unrolls. */
  val OracleRounds = 6

  def components(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), col("doc_id").as("component"),
        lit(0L).as("csize")).filter(lit(false))
    // staged family rung: the distinct edge shuffle runs once per corpus
    val und = GraphArtifacts.stagedSimpleEdges(s, dir)
    val labels = graft.dedup.DedupClusters.connectedComponents(und)
      .withColumnsRenamed(Map("id" -> "doc_id", "label" -> "component"))
    // isolated nodes (self-loop-only synthetic edges) are their own
    // component of size 1
    val lab = graft.CacheRegistry.track(
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component")))
    val sizes = lab.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    lab.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_components" -> (components _))

  val oracles: Map[String, String] = Map(
    "graph_components" -> {
      val rounds = (1 to OracleRounds).map { k =>
        // MATERIALIZED throughout: every h_k/l_k is referenced 2-3 times
        // and DuckDB inlines plain CTEs, which would expand the chain
        // 3^rounds-fold (the kcenter-oracle lesson)
        s"""m$k AS MATERIALIZED (SELECT a.node, min(l.lab) AS nlab
           | FROM adj a JOIN l${k - 1} l ON l.node = a.nb GROUP BY a.node),
           |h$k AS MATERIALIZED (SELECT v.node, least(v.lab, coalesce(m.nlab, v.lab)) AS lab
           | FROM l${k - 1} v LEFT JOIN m$k m USING (node)),
           |l$k AS MATERIALIZED (SELECT h.node, least(h.lab, coalesce(h2.lab, h.lab)) AS lab
           | FROM h$k h LEFT JOIN h$k h2 ON h2.node = h.lab)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM se
         |  UNION ALL SELECT v, u FROM se),
         |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lab FROM documents),
         |$rounds,
         |sz AS (SELECT lab, count(*)::BIGINT AS csize FROM l$OracleRounds GROUP BY lab)
         |SELECT l.node AS doc_id, l.lab AS component, sz.csize
         |FROM l$OracleRounds l JOIN sz USING (lab)
         |ORDER BY doc_id""".stripMargin
    })
}
