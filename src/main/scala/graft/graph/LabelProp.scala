package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37g `graph_labelprop` — community detection by synchronous label
  * propagation (Raghavan et al., Phys. Rev. E 2007) (SURVEY.md §2).
  *
  * The mesoscale complement to the family: `dedup_clusters` finds
  * CONNECTED components, `graph_kcore` finds the dense core,
  * `graph_pagerank`/`graph_hits` rank individual nodes — LPA finds the
  * COMMUNITIES (domains that cite each other more than the rest: the
  * source-grouping signal a crawl scheduler and a dedup blocker both use).
  * Each round every node adopts the most frequent label among its
  * neighbors, ties to the smallest label — the classic near-linear
  * community heuristic.
  *
  * Determinism: async LPA is visit-order-dependent (the paper's known
  * nondeterminism); the SYNCHRONOUS variant with a (count desc, label)
  * total-order tie-break and a FIXED [[Rounds]] budget is a pure function
  * of the graph — labels are BIGINTs, counts exact, so the oracle replays
  * the identical chain as [[Rounds]] unrolled CTEs (the `graph_kcore`
  * fixed-budget trick; data-dependent convergence loops cannot be
  * SQL-replayed).
  *
  * Scale posture: per round ONE adjacency⋈labels hash join + a map-side
  * combinable (node, label) count + a per-node window argmax over ≤ deg
  * rows — the textbook distributed LPA round (edge-proportional work, no
  * driver state); lineage cut per round with localCheckpoint.
  *
  * Budget truncation is VISIBLE: `converged` compares each node's label
  * at round R−1 vs round R (the `graph_scc` `settled` / `graph_coreness`
  * `converged` discipline) — synchronous LPA is known to OSCILLATE on
  * bipartite structures (Raghavan §III's two-coloring flip), so a false
  * flag marks exactly the rows whose community is still moving when the
  * budget cuts off. */
object LabelProp extends graft.QueryModule {

  val Rounds = 4

  def labelProp(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), lit(0L).as("community"),
        lit(0L).as("community_size"), lit(true).as("converged")).limit(0)
    // staged family rung: symmetric adjacency, already materialized
    propagate(docs, GraphArtifacts.stagedAdjacency(s, dir), preMaterialized = true)
  }

  /** The LPA core over an explicit undirected adjacency (node, nb) — split
    * out so the spec can drive planted topologies. `preMaterialized` skips
    * the defensive checkpoint when the caller passes a staged rung. */
  /** The LPA loop alone → (final labels, round R−1 labels), both
    * checkpointed (node, lbl) frames — split from the presentation
    * (sizes join + convergence witness + sort) so `graph_modularity`'s
    * composed input can read the IDENTICAL label map without paying the
    * registered query's output dressing per audit (r15). */
  private[graph] def propagateLabels(docs: DataFrame, adjIn: DataFrame,
      preMaterialized: Boolean = false): (DataFrame, DataFrame) = {
    val adj = if (preMaterialized) adjIn else adjIn.localCheckpoint(true)
    var labels = docs.select(col("doc_id").as("node"), col("doc_id").as("lbl"))
      .localCheckpoint(true)
    var prev = labels // round R-1 labels, kept for the convergence witness
    for (_ <- 1 to Rounds) {
      prev = labels
      val counted = adj
        .join(labels.select(col("node").as("nb"), col("lbl").as("nl")), Seq("nb"))
        .groupBy(col("node"), col("nl")).agg(count(lit(1)).as("cnt"))
      // per-node argmax as a map-side-combinable max(struct) instead of a
      // row_number window (r16, guide §2.3): same (cnt desc, nl asc) total
      // order — nl is unique within a node's group after the aggregate, so
      // the max picks the identical row, with no per-round sort exchange
      val pick = counted
        .groupBy(col("node")).agg(max(struct(
          col("cnt"), (-col("nl")).as("nn"), col("nl"))).as("b"))
        .select(col("node"), col("b.nl").as("nl"))
      labels = labels.join(pick, Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
    }
    (labels, prev)
  }

  private[graph] def propagate(docs: DataFrame, adjIn: DataFrame,
      preMaterialized: Boolean = false): DataFrame = {
    val (labels, prev) = propagateLabels(docs, adjIn, preMaterialized)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .join(prev.select(col("node"), col("lbl").as("lbl_prev")), Seq("node"))
      .select(col("node").as("doc_id"), col("lbl").as("community"),
        col("community_size"),
        (col("lbl_prev") === col("lbl")).as("converged"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_labelprop" -> (labelProp _))

  val oracles: Map[String, String] = Map(
    "graph_labelprop" -> {
      val rounds = (1 to Rounds).map { k =>
        s"""c$k AS (SELECT adj.node, l.lbl AS nl, count(*) AS cnt
           | FROM adj JOIN l${k - 1} l ON l.node = adj.nb
           | GROUP BY 1, 2),
           |p$k AS (SELECT node, nl FROM (
           |  SELECT node, nl, row_number() OVER (PARTITION BY node
           |    ORDER BY cnt DESC, nl) AS rn FROM c$k) t WHERE rn = 1),
           |l$k AS (SELECT l.node, coalesce(p.nl, l.lbl)::BIGINT AS lbl
           | FROM l${k - 1} l LEFT JOIN p$k p ON p.node = l.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |l0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
         |$rounds,
         |sz AS (SELECT lbl, count(*)::BIGINT AS community_size
         | FROM l$Rounds GROUP BY lbl)
         |SELECT l.node AS doc_id, l.lbl AS community, sz.community_size,
         | (lp.lbl = l.lbl) AS converged
         |FROM l$Rounds l JOIN sz ON sz.lbl = l.lbl
         |JOIN l${Rounds - 1} lp ON lp.node = l.node
         |ORDER BY doc_id""".stripMargin
    })
}
