package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.DedupQueries.cosine

/** #25o `ann_graph_search` — QUERYING the k-NN graph: deterministic
  * best-first BEAM search over the staged `sim/knnGraph` rung — the HNSW
  * layer-0 walk (Malkov & Yashunin, TPAMI 2018, "Efficient and robust
  * approximate nearest neighbor search using Hierarchical Navigable Small
  * World graphs"), r14 verdict task #1.
  *
  * `ann_knn_graph` BUILDS the neighbor-graph index and `ann_recall_eval`
  * AUDITS it, but nothing SEARCHED it — an index you can construct but not
  * query. This is the missing retrieval path: per probe vector, walk the
  * graph greedily toward the probe, keeping a beam of the [[Ef]] best
  * nodes seen (HNSW's ef-bounded candidate heap made set-parallel):
  *
  *   - B₀ = {probe} ∪ its own published neighbor list (the probe is a
  *     corpus member — its graph row is the natural entry point; HNSW's
  *     global entry point exists because its probes are external).
  *   - Hop h: expand every beam node's published neighbor list, score all
  *     candidates by round-4 cosine to the probe, keep the top-[[Ef]] by
  *     (cosine desc, id). B_{h-1} ⊆ candidates, so beam quality is
  *     MONOTONE — a hop can only improve the beam (no visited-set
  *     bookkeeping needed: re-expanding a node is idempotent under the
  *     total order). [[Hops]] fixed hops (the graph's effective diameter
  *     at K=8 out-degree; `graph_anf`'s budget-pricing argument).
  *   - Emit the top-[[OutK]] of the final beam, probe excluded.
  *
  * Beam search ESCAPES the probe's own neighborhood: a true neighbor
  * missed by the probe's own k-NN list is reachable through a mutual
  * neighbor's list — so recall@10 is ≥ the `knngraph` audit row's (which
  * reads the 8-entry list directly and is ceiling-bound at 0.8), the
  * inequality `ann_recall_eval` now exhibits and `AnnGraphSearchSpec`
  * pins. Every decision uses the (round-4 cosine desc, id) total order:
  * bit-stable under any partitioning, replayed in DuckDB as unrolled
  * per-hop MATERIALIZED CTEs over the SAME graph chain.
  *
  * Scale: the probe set is bounded (broadcast); each hop is one scan of
  * the graph rung (equi-join on the broadcast beam — |beam| ≤ probes·Ef
  * rows) plus one scan of the embedding rung for scoring (equi-join on
  * the broadcast candidate set, ≤ probes·Ef·(K+1) rows). Nothing
  * corpus-sized ever shuffles; hop count and beam width are fixed
  * parameters, so the whole search is [[Hops]]+1 rung scans regardless of
  * corpus size — the property that makes graph-ANN the 100 TB serving
  * path. */
object AnnGraphSearch extends graft.QueryModule {

  val Ef = 16 // beam width (HNSW efSearch)
  val Hops = 3 // fixed hop budget
  val OutK = 10 // published top-k (the family's recall@10 convention)

  private def topEf(scored: DataFrame, ef: Int): DataFrame = {
    val w = Window.partitionBy(col("p_id")).orderBy(col("cosine").desc, col("node"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= ef)
      .select(col("p_id"), col("node"), col("cosine"))
  }

  def graphSearch(s: SparkSession, dir: String): DataFrame =
    searchWith(s, dir, Ef)

  /** The walk with an explicit beam width — `ef = 1` is the pure GREEDY
    * descent (HNSW's searchLayer with ef=1); the spec pins that the
    * published beam width never loses to it. */
  private[sim] def searchWith(s: SparkSession, dir: String, ef: Int): DataFrame =
    searchRows(s, dir, ef).orderBy(col("q_id"), col("rank"))

  /** The walk WITHOUT the presentation sort — `ann_recall_eval`'s
    * graphsearch row re-aggregates these rows (order-destroying left-semi
    * join + count), so reading the sorted registered query would pay a
    * range exchange + sort below the audit for nothing (the
    * `graph_modularity` / `knnGraphRung` precedent, r15). Identical row
    * SET to the registered query by construction — same frame, sort
    * dropped above the last computation. */
  private[sim] def searchRows(s: SparkSession, dir: String, ef: Int = Ef): DataFrame = {
    // the graph is the staged rung (built once per session, the
    // `ann_recall_eval` lesson), read UNSORTED — the sorted accessor
    // would pay the rung-wide range exchange + sort per search, and the
    // walk's joins destroy order anyway. No persist needed: the rung is
    // already checkpoint blocks, each hop's read is a map-side project.
    val g = AnnKnnGraph.knnGraphRung(s, dir).select(col("q_id"), col("n_id"))
    val e = SimArtifacts.stagedBandIndex(s, dir).select(col("vec_id"), col("emb"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("p_id"), col("emb").as("p_emb"))
    def score(nodes: DataFrame): DataFrame =
      e.select(col("vec_id").as("node"), col("emb").as("n_emb"))
        .join(broadcast(nodes), Seq("node"))
        .join(broadcast(probes), Seq("p_id"))
        .withColumn("cosine", round(cosine(col("p_emb"), col("n_emb")), 4))
        .select(col("p_id"), col("node"), col("cosine"))
    val entry = probes.select(col("p_id"), col("p_id").as("node"))
      .unionByName(g.filter(col("q_id") < 10)
        .select(col("q_id").as("p_id"), col("n_id").as("node")))
      .distinct()
    // lineage cut per hop (the emb_mmr greedy-loop contract): each hop
    // references the previous beam TWICE (the broadcast expand and the
    // monotone union), so without the checkpoint the final plan holds
    // ~2^Hops copies of the hop-0 subtree, each rebuilding its own
    // broadcast — measured 7.3 s at sf0.1 for a ≤ probes·Ef-row beam.
    // The beam is bounded (≤ probes·Ef rows), so the cut is O(1).
    var beam = topEf(score(entry), ef).localCheckpoint(true)
    for (_ <- 1 to Hops) {
      val expand = g
        .join(broadcast(beam.select(col("p_id"), col("node").as("q_id"))), Seq("q_id"))
        .select(col("p_id"), col("n_id").as("node"))
      val cand = expand.unionByName(beam.select(col("p_id"), col("node"))).distinct()
      beam = topEf(score(cand), ef).localCheckpoint(true)
    }
    val w = Window.partitionBy(col("p_id")).orderBy(col("cosine").desc, col("node"))
    beam.filter(col("node") =!= col("p_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= OutK)
      .select(col("p_id").as("q_id"), col("node").as("n_id"), col("rank"), col("cosine"))
  }

  /** The beam-walk CTE chain reading a graph relation named `kg` with
    * columns (q_id, n_id) — shared verbatim between the standalone oracle
    * (which defines `kg` as the full knn-graph chain) and
    * `ann_recall_eval`'s composed oracle (which hoists ONE MATERIALIZED
    * graph for both graph-based methods). */
  private[sim] def chainSql(kg: String): String = {
    val cos = graft.dedup.DedupQueries.cosineSql("pp.p_emb", "ne.emb")
    val hops = (1 to Hops).map { h =>
      s"""c$h AS (SELECT b.p_id, g.n_id AS node FROM b${h - 1} b
         |  JOIN $kg g ON g.q_id = b.node
         | UNION SELECT p_id, node FROM b${h - 1}),
         |s$h AS (SELECT c.p_id, c.node, round($cos, 4) AS cosine
         | FROM c$h c JOIN pp ON pp.p_id = c.p_id JOIN ee ne ON ne.vec_id = c.node),
         |b$h AS MATERIALIZED (SELECT p_id, node, cosine FROM (
         |  SELECT p_id, node, cosine, row_number() OVER (PARTITION BY p_id
         |   ORDER BY cosine DESC, node) AS r FROM s$h) t WHERE r <= $Ef)""".stripMargin
    }.mkString(",\n")
    s"""ee AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |pp AS (SELECT vec_id AS p_id, emb AS p_emb FROM ee WHERE vec_id < 10),
       |n0 AS (SELECT p_id, p_id AS node FROM pp
       | UNION SELECT q_id AS p_id, n_id AS node FROM $kg WHERE q_id < 10),
       |s0 AS (SELECT n.p_id, n.node, round($cos, 4) AS cosine
       | FROM n0 n JOIN pp ON pp.p_id = n.p_id JOIN ee ne ON ne.vec_id = n.node),
       |b0 AS MATERIALIZED (SELECT p_id, node, cosine FROM (
       |  SELECT p_id, node, cosine, row_number() OVER (PARTITION BY p_id
       |   ORDER BY cosine DESC, node) AS r FROM s0) t WHERE r <= $Ef),
       |$hops""".stripMargin
  }

  private[sim] val finalSelectSql: String =
    s"""SELECT p_id AS q_id, node AS n_id, rank, cosine FROM (
       | SELECT p_id, node, cosine, row_number() OVER (PARTITION BY p_id
       |  ORDER BY cosine DESC, node)::BIGINT AS rank
       | FROM b$Hops WHERE node != p_id) t
       |WHERE rank <= $OutK ORDER BY q_id, rank""".stripMargin

  /** The whole search as one statement over an OUTER-scope graph relation
    * `kg` — DuckDB resolves the outer CTE lexically, so `ann_recall_eval`
    * can splice this as a subquery under its shared graph. */
  private[sim] def searchOverSql(kg: String): String =
    s"WITH ${chainSql(kg)}\n$finalSelectSql"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_graph_search" -> (graphSearch _))

  /** Standalone full oracle: the graph itself is the registered
    * `ann_knn_graph` chain verbatim (one MATERIALIZED frame), then the
    * unrolled beam walk. */
  val oracles: Map[String, String] = Map(
    "ann_graph_search" ->
      s"""WITH kgfull AS MATERIALIZED (SELECT q_id, n_id FROM (
         |${AnnKnnGraph.oracles("ann_knn_graph")}
         |) kgv),
         |${chainSql("kgfull")}
         |$finalSelectSql""".stripMargin)
}
