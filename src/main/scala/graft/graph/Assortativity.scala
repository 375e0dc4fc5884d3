package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37j `graph_assortativity` — degree assortativity of the citation graph
  * (Newman, Phys. Rev. Lett. 89, 2002): the Pearson correlation of the
  * degrees at the two ends of an edge — do hubs link to hubs (r > 0, the
  * social-network signature) or to leaves (r < 0, the web/biology
  * signature)? The structural companion to `graph_modularity`: modularity
  * asks whether the MESOSCALE grouping is real, assortativity asks what
  * the MICROSCALE wiring rule is — together they are the two standing
  * numbers a crawl scheduler reads before trusting degree-based
  * prioritization (on a disassortative graph, high-degree seeds reach the
  * periphery; on an assortative one they stay in the rich club).
  *
  * Determinism: the whole statistic is EXACT INTEGERS — with M edges and
  * per-edge endpoint degrees (j, k), the symmetric moments A = Σ(j+k),
  * B = Σ jk, C = Σ(j²+k²) give r = (4M·B − A²)/(2M·C − A²): one
  * fixed-form IEEE division of two BIGINTs (round 6), NULL when the
  * denominator is 0 (a degree-regular graph has no degree variance — no
  * ANSI /0, no fake signal). Range declared: A² ≤ (2M·degmax)² —
  * BIGINT-safe for degmax·M < 1.5·10⁹.
  *
  * Scale: the shared simple-edge chain → one map-side degree count → two
  * uniform-key endpoint joins → ONE row of moments. Same cost envelope
  * as `graph_modularity`; the two share the cached edge list. */
object Assortativity extends graft.QueryModule {

  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(lit(0L).as("m_edges"), lit(0L).as("sum_jk"),
        lit(0L).as("sum_j_plus_k"), lit(0L).as("sum_j2_plus_k2"),
        lit(0.0).as("assortativity")).limit(0)
    // staged family rung: the distinct edge shuffle runs once per corpus
    assortativityOf(GraphArtifacts.stagedSimpleEdges(s, dir))
  }

  /** The audit core over an explicit simple edge list (u < v, distinct) —
    * split out so the spec can drive planted topologies (P₃ pins the
    * textbook r = −1; a cycle pins the zero-variance NULL guard). */
  private[graph] def assortativityOf(edgesIn: DataFrame): DataFrame = {
    val edges = graft.CacheRegistry.track(edgesIn)
    val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withD = edges
      .join(deg.select(col("node").as("u"), col("deg").as("dj")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dk")), Seq("v"))
    val m = withD.agg(count(lit(1)).as("m_edges"),
      sum(col("dj") * col("dk")).as("sum_jk"),
      sum(col("dj") + col("dk")).as("sum_j_plus_k"),
      sum(col("dj") * col("dj") + col("dk") * col("dk")).as("sum_j2_plus_k2"))
    val num = lit(4L) * col("m_edges") * col("sum_jk") -
      col("sum_j_plus_k") * col("sum_j_plus_k")
    val den = lit(2L) * col("m_edges") * col("sum_j2_plus_k2") -
      col("sum_j_plus_k") * col("sum_j_plus_k")
    m.select(col("m_edges"),
      coalesce(col("sum_jk"), lit(0L)).as("sum_jk"),
      coalesce(col("sum_j_plus_k"), lit(0L)).as("sum_j_plus_k"),
      coalesce(col("sum_j2_plus_k2"), lit(0L)).as("sum_j2_plus_k2"),
      when(den > 0L, round(num.cast("double") / den.cast("double"), 6))
        .as("assortativity"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_assortativity" -> (assortativity _))

  val oracles: Map[String, String] = Map(
    "graph_assortativity" ->
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |deg AS (
         | SELECT node, count(*)::BIGINT AS deg
         | FROM (SELECT u AS node FROM se UNION ALL SELECT v FROM se)
         | GROUP BY node),
         |m AS (
         | SELECT count(*)::BIGINT AS m_edges,
         |  sum(ju.deg * kv.deg)::BIGINT AS sum_jk,
         |  sum(ju.deg + kv.deg)::BIGINT AS sum_j_plus_k,
         |  sum(ju.deg * ju.deg + kv.deg * kv.deg)::BIGINT AS sum_j2_plus_k2
         | FROM se JOIN deg ju ON ju.node = se.u JOIN deg kv ON kv.node = se.v)
         |SELECT m_edges,
         | coalesce(sum_jk, 0)::BIGINT AS sum_jk,
         | coalesce(sum_j_plus_k, 0)::BIGINT AS sum_j_plus_k,
         | coalesce(sum_j2_plus_k2, 0)::BIGINT AS sum_j2_plus_k2,
         | CASE WHEN 2 * m_edges * sum_j2_plus_k2 - sum_j_plus_k * sum_j_plus_k > 0
         |  THEN round(
         |   (4 * m_edges * sum_jk - sum_j_plus_k * sum_j_plus_k)::DOUBLE /
         |   (2 * m_edges * sum_j2_plus_k2 - sum_j_plus_k * sum_j_plus_k)::DOUBLE, 6)
         | END AS assortativity
         |FROM m""".stripMargin)
}
