package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37f HITS hubs & authorities (Kleinberg, JACM 1999) over the citation
  * graph (SURVEY.md §2).
  *
  * PageRank scores global authority; HITS separates the two roles a link
  * graph actually has — AUTHORITIES (pages good links point at) and HUBS
  * (pages that point at good authorities). On a training-data link graph
  * the hub score finds the curated index/directory pages whose outlinks
  * are worth crawling, which PageRank structurally under-ranks. Same
  * directed edge list as `graph_pagerank` ([[PageRank.citationEdges]] /
  * [[PageRank.graphSqlCtes]] — one shared definition per engine).
  *
  * Determinism contract (the `graph_pagerank` pattern): ALL arithmetic is
  * integer fixed-point at [[Scale]] with SUM-normalization each half-step
  * (a ← Eᵀh then a·Scale div Σa; h ← Ea then h·Scale div Σh) — sums of
  * BIGINTs are order-independent, the div truncation is mirrored in the
  * oracle, and the bound holds by construction: normalized scores sum to
  * ≤ Scale, so every product is ≤ Scale² = 10^18 < 2^63. The oracle
  * replays all [[Iters]] iterations as an unrolled CTE chain.
  *
  * Scale shape: per half-step one edge⋈score hash join + one
  * map-side-combinable aggregate + a one-row total broadcast;
  * `localCheckpoint` cuts lineage per round (the dedup_clusters loop
  * contract). No NLJ, no driver-side score state. */
object Hits extends graft.QueryModule {

  val Scale = 1000000000L // 10^9: score sums ≤ Scale ⇒ products ≤ 10^18 < 2^63
  val Iters = 5

  def hits(s: SparkSession, dir: String): DataFrame = {
    val verts = GraphArtifacts.stagedVertices(s, dir)
    val n = verts.count()
    if (n == 0)
      return verts.select(col("doc_id"), lit(0L).as("auth_scaled"),
        lit(0L).as("hub_scaled"), lit(0.0).as("auth"), lit(0.0).as("hub"))
    // staged family rungs (citation list + vertex frame): materialized
    // once per (corpus, fingerprint), shared with pagerank
    val edges = GraphArtifacts.stagedCitation(s, dir)
    // gate keyed on the per-half-step edge⋈score join input |E|, not |V|
    // (r16, the graph_anf/Mmr gate-scope class)
    graft.InterpretedLoop.run(s, edges.count()) {
      // tiny per-iteration frames; interpreted loop (the PageRank tradeoff)
      var hub = verts.select(col("doc_id"), lit(Scale / n).as("v")).localCheckpoint(true)
      var auth = hub
      def normalize(raw: DataFrame): DataFrame = {
        val tot = raw.agg(sum(col("raw")).as("s"))
        verts.join(raw, verts("doc_id") === raw("id"), "left")
          .crossJoin(broadcast(tot))
          .select(verts("doc_id"), coalesce(expr(s"raw * $Scale div s"), lit(0L)).as("v"))
          .localCheckpoint(true)
      }
      for (_ <- 1 to Iters) {
        auth = normalize(
          edges.join(hub, edges("src") === hub("doc_id"))
            .groupBy(col("dst").as("id")).agg(sum(col("v")).as("raw")))
        hub = normalize(
          edges.join(auth, edges("dst") === auth("doc_id"))
            .groupBy(col("src").as("id")).agg(sum(col("v")).as("raw")))
      }
      verts
        .join(auth.select(col("doc_id"), col("v").as("auth_scaled")), Seq("doc_id"))
        .join(hub.select(col("doc_id"), col("v").as("hub_scaled")), Seq("doc_id"))
        // no round(): the same BIGINT over the same constant is the same
        // IEEE double in both engines; rounding at 8 decimals would sit on
        // half-boundaries (Scale = 10^9 leaves exactly one guard digit)
        .select(col("doc_id"), col("auth_scaled"), col("hub_scaled"),
          (col("auth_scaled") / lit(1000000000.0)).as("auth"),
          (col("hub_scaled") / lit(1000000000.0)).as("hub"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_hits" -> (hits _))

  val oracles: Map[String, String] = Map(
    "graph_hits" -> {
      // each CTE is referenced exactly ONCE downstream (the normalization
      // total is a window over the join, not a scalar subquery) — a second
      // reference per level would re-evaluate the chain exponentially in
      // engines that inline CTEs
      val iterCtes = (1 to Iters).map { k =>
        s"""ar$k AS (SELECT e.dst AS id, sum(h.v) AS raw
           | FROM e JOIN h${k - 1} h ON h.id = e.src GROUP BY e.dst),
           |a$k AS (SELECT v.doc_id AS id,
           |  coalesce(ar$k.raw * $Scale // sum(ar$k.raw) OVER (), 0) AS v
           | FROM v LEFT JOIN ar$k ON ar$k.id = v.doc_id),
           |hr$k AS (SELECT e.src AS id, sum(a.v) AS raw
           | FROM e JOIN a$k a ON a.id = e.dst GROUP BY e.src),
           |h$k AS (SELECT v.doc_id AS id,
           |  coalesce(hr$k.raw * $Scale // sum(hr$k.raw) OVER (), 0) AS v
           | FROM v LEFT JOIN hr$k ON hr$k.id = v.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |v AS (SELECT doc_id FROM documents),
         |h0 AS (SELECT doc_id AS id, (SELECT $Scale // cnt FROM n) AS v FROM v),
         |$iterCtes
         |SELECT v.doc_id, a$Iters.v::BIGINT AS auth_scaled,
         | h$Iters.v::BIGINT AS hub_scaled,
         | a$Iters.v / 1000000000.0 AS auth,
         | h$Iters.v / 1000000000.0 AS hub
         |FROM v JOIN a$Iters ON a$Iters.id = v.doc_id
         |JOIN h$Iters ON h$Iters.id = v.doc_id
         |ORDER BY v.doc_id""".stripMargin
    })
}
