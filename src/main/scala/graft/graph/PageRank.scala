package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37 Link-graph authority scoring — PageRank (Brin & Page 1998) over a
  * deterministic citation graph on the document corpus (SURVEY.md §2).
  *
  * Link authority is a real curation signal for web-scale training data
  * (quality weighting by how linked-to a page is); `dedup_clusters` covers
  * the connectivity side of graph analytics, this covers the iterative
  * value-propagation side. The corpus has no native link column, so the
  * graph derives arithmetically from doc_id (the Synth convention): each
  * doc cites 3 others — a golden-ratio permutation target (uniform
  * in-degree), a hub target `doc_id % 100` (docs 0-99 accumulate ~n/100
  * in-links, giving the rank vector real variance), and a `doc_id div 7`
  * neighborhood target. Both engines rebuild the identical edge list.
  *
  * All arithmetic is integer fixed-point at [[Scale]] — rank flows as
  * BIGINT numerators, per-edge contribution is `r div 3` (out-degree is
  * exactly 3 by construction: no dangling nodes), and the damping update
  * is `base + (85 * Σ) div 100`. Integer sums are order-independent, so
  * the 10-iteration recurrence is bit-exact under ANY partitioning and
  * replayable in DuckDB as an unrolled CTE chain — no float drift to
  * round away (the `ts_anomaly`/`sample_importance` determinism trick,
  * applied to an iterative fixpoint). Truncation mass loss is the declared
  * metric, identical on both engines.
  *
  * Scale posture: each iteration is one edges⋈ranks hash join + a
  * map-side-combinable sum keyed by dst + a left join back to the vertex
  * set — the textbook distributed PageRank round (3n edge rows shuffle per
  * iteration, nothing driver-side but the bounded vertex count). Lineage
  * is cut per round with a localCheckpoint, the `dedup_clusters` loop
  * pattern.
  */
object PageRank extends graft.QueryModule {

  val Scale = 1000000000000L
  val Iters = 10
  val Damp = 85 // /100
  val OutDeg = 3

  /** The 3-out-degree citation list, identically derivable in SQL (shared
    * with [[Triangles]] so both operators analyze the same graph). */
  private[graph] def citationEdges(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"), explode(array(
      (col("doc_id") * 2654435761L) % n,
      (col("doc_id") % 100L) % n,
      expr("doc_id div 7") % n)).as("dst"))

  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val verts = GraphArtifacts.stagedVertices(s, dir)
    // bounded driver-side scalar (the kFor pattern); mirrored as a scalar
    // subquery in the oracle so corpus size can never desynchronize them
    val n = verts.count()
    if (n == 0)
      return verts.select(col("doc_id"), lit(0L).as("rank_scaled"), lit(0.0).as("rank"))
    val r0 = Scale / n
    val base = 15L * r0 / 100L
    // staged family rungs: the raw citation list and the vertex frame are
    // materialized once per (corpus, fingerprint), not per operator
    val edges = GraphArtifacts.stagedCitation(s, dir)
    // tiny per-iteration frames: run the loop interpreted (janino compile
    // per unique plan per round costs more than it buys — the
    // dedup_clusters tradeoff); gated + conf-scoped by InterpretedLoop.
    // Gate keyed on the TRUE per-iteration working set — the edge⋈rank
    // join input |E|, not |V| (r16, the graph_anf/Mmr gate-scope class:
    // keyed on |V| a mid-scale corpus would run |E|-sized joins
    // interpreted; graph_anf measured that mis-keying at +42% at sf0.1)
    graft.InterpretedLoop.run(s, edges.count()) {
      var ranks = verts.select(col("doc_id"), lit(r0).as("r")).localCheckpoint(true)
      for (_ <- 1 to Iters) {
        val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
          .select(col("dst"), expr("r div 3").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        ranks = verts.join(contrib, verts("doc_id") === contrib("dst"), "left")
          .select(verts("doc_id"),
            (lit(base) + expr(s"($Damp * coalesce(m, 0L)) div 100")).as("r"))
          .localCheckpoint(true)
      }
      ranks.select(col("doc_id"), col("r").as("rank_scaled"),
          round(col("r") / lit(1000000000000.0), 8).as("rank"))
        .orderBy(col("doc_id"))
    }
  }

  /** DuckDB CTEs `n` (corpus count) and `e` (the citation edge list) —
    * the one shared SQL definition of the graph, used by every graph
    * oracle so the engines can never analyze different edge lists. */
  private[graph] val graphSqlCtes: String =
    """n AS (SELECT count(*)::BIGINT AS cnt FROM documents),
      |e AS (
      | SELECT doc_id AS src, (doc_id * 2654435761) % (SELECT cnt FROM n) AS dst FROM documents
      | UNION ALL SELECT doc_id, (doc_id % 100) % (SELECT cnt FROM n) FROM documents
      | UNION ALL SELECT doc_id, (doc_id // 7) % (SELECT cnt FROM n) FROM documents)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (pagerank _))

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> {
      val baseSql = s"(SELECT (15 * ($Scale // cnt)) // 100 FROM n)"
      val iterCtes = (1 to Iters).map { k =>
        s"""s$k AS (SELECT e.dst AS doc_id, sum(p.r // $OutDeg) AS m
           | FROM e JOIN pr${k - 1} p ON p.doc_id = e.src GROUP BY e.dst),
           |pr$k AS (SELECT v.doc_id,
           |  $baseSql + ($Damp * coalesce(s$k.m, 0)) // 100 AS r
           | FROM v LEFT JOIN s$k USING (doc_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphSqlCtes,
         |v AS (SELECT doc_id FROM documents),
         |pr0 AS (SELECT doc_id, (SELECT $Scale // cnt FROM n) AS r FROM v),
         |$iterCtes
         |SELECT doc_id, r::BIGINT AS rank_scaled,
         | round(r / 1000000000000.0, 8) AS rank
         |FROM pr$Iters ORDER BY doc_id""".stripMargin
    })
}
