package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37i `graph_modularity` — Newman modularity of the label-propagation
  * partition (Newman & Girvan 2004, Phys. Rev. E 69): the eval-family
  * audit for the GRAPH family. `graph_labelprop` emits communities; this
  * is the standing number that says whether they beat random — Q =
  * Σ_c [e_c/m − (d_c/2m)²], the fraction of edges inside communities
  * minus the fraction a degree-preserving null model expects. Q ≈ 0:
  * the partition is noise; Q ≫ 0: real mesoscale structure a crawl
  * scheduler or dedup blocker can trust.
  *
  * Drift-proof composition: communities come from RE-RUNNING
  * `graph_labelprop`'s registered query and the oracle embeds its
  * registered oracle verbatim; edges are the family's shared
  * simple-graph chain ([[Triangles.simpleEdges]] /
  * [[Triangles.simpleEdgesSqlCte]]) — the audit cannot disagree with
  * the partition or the graph it audits.
  *
  * Determinism: the whole sum is EXACT INTEGERS — Q's common-denominator
  * form Q = (4m·Σe_c − Σd_c²)/(4m²) keeps every aggregate (edge count m,
  * intra-community edges, per-community degree sums, their squares)
  * order-independent BIGINT arithmetic with ONE fixed-form IEEE division
  * at the end (round 6). Range declared: Σd_c² ≤ 4m², BIGINT-safe to
  * m ≈ 1.5·10⁹ edges.
  *
  * Scale: two uniform-key hash joins of the edge list against the
  * |nodes|-row community map (endpoint lookups), one map-side degree
  * count, all reductions to ≤|communities| rows then one row — the
  * audit costs one pass over the edges beyond labelprop itself. */
object Modularity extends graft.QueryModule {

  def modularity(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    // the audit needs ONLY the label map: read the LPA loop's final labels
    // directly (bit-identical to the registered query's `community` column
    // — same loop, same checkpoints) instead of re-running graph_labelprop
    // WITH its presentation dressing (sizes join + convergence witness +
    // full-output sort) just to project two columns out of it (r15).
    val comm = LabelProp.propagateLabels(docs,
        GraphArtifacts.stagedAdjacency(s, dir), preMaterialized = true)._1
      .select(col("node"), col("lbl").as("community"))
    if (n == 0)
      return comm.select(lit(0L).as("m_edges"), lit(0L).as("n_nodes"),
        lit(0L).as("n_communities"), lit(0L).as("intra_edges"),
        lit(0L).as("deg_sq_sum"), lit(0.0).as("modularity")).limit(0)
    // staged family rung: the distinct edge shuffle runs once per corpus
    modularityOf(GraphArtifacts.stagedSimpleEdges(s, dir), comm)
  }

  /** The audit core over an explicit simple edge list (u < v, distinct) and
    * a (node, community) map — split out so the spec can drive planted
    * topologies (two disjoint cliques pin the textbook Q = 1/2). */
  private[graph] def modularityOf(edgesIn: DataFrame, comm: DataFrame): DataFrame = {
    // persist: the community map feeds both endpoint joins + the node tally
    val cm = graft.CacheRegistry.track(comm)
    val edges = graft.CacheRegistry.track(edgesIn)
    val withC = edges
      .join(cm.select(col("node").as("u"), col("community").as("cu")), Seq("u"))
      .join(cm.select(col("node").as("v"), col("community").as("cv")), Seq("v"))
    val mi = withC.agg(count(lit(1)).as("m_edges"),
      sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("intra_edges"))
    val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ds = deg.join(cm, Seq("node"))
      .groupBy(col("community")).agg(sum(col("deg")).as("d_c"))
      .agg(sum(col("d_c") * col("d_c")).as("deg_sq_sum"))
    val nodes = cm.agg(count(lit(1)).as("n_nodes"),
      countDistinct(col("community")).as("n_communities"))
    val q = (lit(4L) * col("m_edges") * col("intra_edges") - col("deg_sq_sum"))
      .cast("double") / (lit(4L) * col("m_edges") * col("m_edges"))
    // three one-row frames — broadcast crosses by construction
    mi.crossJoin(broadcast(nodes)).crossJoin(broadcast(ds))
      .select(col("m_edges"), col("n_nodes"), col("n_communities"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("deg_sq_sum"), lit(0L)).as("deg_sq_sum"),
        when(col("m_edges") > 0L, round(q, 6)).as("modularity"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_modularity" -> (modularity _))

  val oracles: Map[String, String] = Map(
    "graph_modularity" ->
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |lp AS MATERIALIZED (
         | SELECT doc_id AS node, community
         | FROM (${LabelProp.oracles("graph_labelprop")}) t),
         |mi AS (
         | SELECT count(*)::BIGINT AS m_edges,
         |  sum(CASE WHEN cu.community = cv.community THEN 1 ELSE 0 END)::BIGINT
         |    AS intra_edges
         | FROM se JOIN lp cu ON cu.node = se.u JOIN lp cv ON cv.node = se.v),
         |deg AS (
         | SELECT node, count(*)::BIGINT AS deg
         | FROM (SELECT u AS node FROM se UNION ALL SELECT v FROM se)
         | GROUP BY node),
         |ds AS (
         | SELECT sum(d_c * d_c)::BIGINT AS deg_sq_sum FROM (
         |  SELECT lp.community, sum(deg.deg)::BIGINT AS d_c
         |  FROM deg JOIN lp USING (node) GROUP BY 1)),
         |nn AS (SELECT count(*)::BIGINT AS n_nodes,
         |  count(DISTINCT community)::BIGINT AS n_communities FROM lp)
         |SELECT mi.m_edges, nn.n_nodes, nn.n_communities,
         | coalesce(mi.intra_edges, 0)::BIGINT AS intra_edges,
         | coalesce(ds.deg_sq_sum, 0)::BIGINT AS deg_sq_sum,
         | CASE WHEN mi.m_edges > 0 THEN
         |  round((4 * mi.m_edges * mi.intra_edges - ds.deg_sq_sum)::DOUBLE
         |    / (4 * mi.m_edges * mi.m_edges), 6) END AS modularity
         |FROM mi, nn, ds""".stripMargin)
}
