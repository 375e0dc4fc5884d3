package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37b Triangle counting over the citation graph — per-node clustering
  * structure (SURVEY.md §2).
  *
  * Triangle density is the standard local-community signal on a link
  * graph (a page whose neighbors also link each other sits inside a
  * topical cluster; link-farm spam is triangle-poor relative to degree),
  * which makes it a curation feature alongside `graph_pagerank`'s
  * authority score. Same deterministic citation graph as PageRank
  * ([[PageRank.citationEdges]] / [[PageRank.graphSqlCtes]] — one shared
  * definition per engine), taken undirected: self-loops dropped,
  * parallel edges collapsed.
  *
  * Algorithm: degree-ordered orientation (Suri & Vassilvitskii, WWW 2011
  * "Counting triangles and the curse of the last reducer") — each
  * undirected edge is oriented from its lower-(degree, id) endpoint to
  * the higher, so every wedge is generated at its LOWEST-degree apex.
  * Wedge mass is then Σ_v C(d⁺(v), 2) with d⁺ bounded by O(√m) on any
  * graph, which is what keeps the self-join linear-ish at 100 TB where
  * the naive id-orientation melts down on hub vertices (our `% 100` hub
  * class is exactly such a skew source). The (degree, id) pair is packed
  * into one BIGINT key (`deg * KeyScale + id`) so both engines compare
  * it as a single integer.
  *
  * Plan shape: one corpus scan → edge explode → distinct (the only
  * quadratic-free shuffles) → degree aggregate (map-side combinable) →
  * two broadcast-free hash joins for orientation → wedge self-join on
  * the apex → closing-edge hash join → per-node explode + count. No
  * driver-side state, no NLJ; counts are exact integers, so the result
  * is bit-identical under any partitioning and the oracle is a FULL
  * replay.
  */
object Triangles extends graft.QueryModule {

  /** Packs (deg, id) lexicographic order into one BIGINT. Holds while
    * deg < 2^63 / KeyScale and id < KeyScale — comfortably true for any
    * corpus this library targets (ids are dense doc_ids; degree here is
    * ≤ 6 by construction plus hub in-links). */
  val KeyScale = 100000000000L

  /** The undirected simple graph (self-loops dropped, parallel edges
    * collapsed) — shared with [[Neighbors]]; [[simpleEdgesSqlCte]] is its
    * SQL twin. */
  private[graph] def simpleEdges(docs: org.apache.spark.sql.DataFrame, n: Long): org.apache.spark.sql.DataFrame =
    PageRank.citationEdges(docs, n)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** DuckDB CTE `se` over [[PageRank.graphSqlCtes]]'s `e`. */
  private[graph] val simpleEdgesSqlCte: String =
    """se AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      | FROM e WHERE src != dst)""".stripMargin

  def triangles(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count() // bounded scalar, mirrored as a subquery in SQL
    if (n == 0)
      return docs.select(col("doc_id"), lit(0L).as("degree"), lit(0L).as("n_triangles"))
    // the staged family rung (one distinct edge shuffle per corpus
    // fingerprint per session) feeds the degree count and both
    // orientation join sides — already materialized, no per-op persist
    val simple = GraphArtifacts.stagedSimpleEdges(s, dir)
    val deg = simple.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ku = col("du") * KeyScale + col("u")
    val kv = col("dv") * KeyScale + col("v")
    val oriented = simple
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(ku < kv, col("u")).otherwise(col("v")).as("a"),
        when(ku < kv, col("v")).otherwise(col("u")).as("b"),
        when(ku < kv, kv).otherwise(ku).as("kb"))
    // persist: wedge left side, wedge right side, closing-edge probe
    val d = graft.CacheRegistry.track(oriented)
    val wedges = d.select(col("a"), col("b").as("b1"), col("kb").as("k1"))
      .join(d.select(col("a"), col("b").as("b2"), col("kb").as("k2")), Seq("a"))
      .filter(col("k1") < col("k2"))
    val closed = wedges.join(d.select(col("a").as("b1"), col("b").as("b2")), Seq("b1", "b2"))
    val perNode = closed
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    docs
      .join(deg.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles" -> (triangles _))

  val oracles: Map[String, String] = Map(
    "graph_triangles" ->
      s"""WITH ${PageRank.graphSqlCtes},
         |$simpleEdgesSqlCte,
         |dg AS (SELECT node, count(*)::BIGINT AS deg FROM
         | (SELECT u AS node FROM se UNION ALL SELECT v FROM se) GROUP BY node),
         |ork AS (SELECT se.u, se.v,
         |  du.deg * $KeyScale + se.u AS ku, dv.deg * $KeyScale + se.v AS kv
         | FROM se JOIN dg du ON du.node = se.u JOIN dg dv ON dv.node = se.v),
         |d AS (SELECT CASE WHEN ku < kv THEN u ELSE v END AS a,
         |  CASE WHEN ku < kv THEN v ELSE u END AS b,
         |  CASE WHEN ku < kv THEN kv ELSE ku END AS kb FROM ork),
         |t AS (SELECT w.a, w.b1, w.b2 FROM
         |  (SELECT e1.a, e1.b AS b1, e2.b AS b2
         |   FROM d e1 JOIN d e2 ON e1.a = e2.a AND e1.kb < e2.kb) w
         |  JOIN d ON d.a = w.b1 AND d.b = w.b2),
         |pn AS (SELECT node, count(*)::BIGINT AS n_triangles FROM
         | (SELECT a AS node FROM t UNION ALL SELECT b1 FROM t UNION ALL SELECT b2 FROM t)
         | GROUP BY node)
         |SELECT doc_id, coalesce(dg.deg, 0)::BIGINT AS degree,
         | coalesce(pn.n_triangles, 0)::BIGINT AS n_triangles
         |FROM documents LEFT JOIN dg ON dg.node = doc_id
         |LEFT JOIN pn ON pn.node = doc_id
         |ORDER BY doc_id""".stripMargin)
}
