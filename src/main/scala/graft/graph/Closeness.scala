package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37m `graph_closeness` — landmark HARMONIC closeness centrality over
  * the shared (undirected) citation graph: for every node, Σ 1/d(l, v)
  * over the [[K]] landmark probes within [[MaxHops]] hops. PageRank/HITS
  * rank by link ENDORSEMENT; closeness ranks by DISTANCE — the node a
  * crawl scheduler starts from to cover the graph fastest, and the
  * centrality that still works where endorsement is gamed (a link farm
  * inflates PageRank but cannot move the farm closer to everything
  * else). Exact all-pairs closeness is an APSP (quadratic — a
  * non-starter); the landmark form (Potamias et al. CIKM 2009 — the
  * standard scalable estimator) probes K pivots with ONE multi-source
  * BFS and uses harmonic aggregation (Boldi & Vigna 2014) so unreached
  * landmarks contribute 0 instead of poisoning a mean.
  *
  * Landmarks: the K smallest doc_ids (declared, deterministic, and
  * SQL-trivial; doc 0 is a `% 100` hub of this graph, so the pivot set
  * covers the core). Distances: [[MaxHops]] synchronous frontier rounds
  * of the `graph_bfs` chain run for all K sources AT ONCE — state is
  * (landmark, node, dist) under set-union semantics, bit-exact under any
  * partitioning.
  *
  * Determinism: the harmonic sum is EXACT INTEGERS — d ∈ {1..6} all
  * divide 60, so h60 = Σ 60/d is an exact BIGINT and closeness =
  * h60/60.0 is ONE fixed-form division (round 6). No float ever sums.
  * Self-probes (a landmark's own row, d = 0) are excluded by the d ≥ 1
  * rule; a node reaching no landmark reads closeness 0 (the harmonic
  * convention), never NULL-poisoned.
  *
  * Scale: per round ONE adjacency⋈frontier hash join on uniform node
  * keys + a (lm, node) anti-join against the visited set — K-bounded
  * multiplicative state (≤ K·|V| rows total), frontier-proportional
  * work, localCheckpoint lineage cuts (the `graph_bfs` loop contract);
  * the readout is one |V|-key map-side aggregate. */
object Closeness extends graft.QueryModule {

  val K = 8
  val MaxHops = 6
  val HLcm = 60L // lcm(1..MaxHops): every 1/d is exact as HLcm/d

  def closeness(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), lit(0L).as("n_reached"),
        lit(0L).as("h60"), lit(0.0).as("closeness"))
    // staged family rung: symmetric adjacency shared across the BFS family
    closenessOnAdj(s, docs, GraphArtifacts.stagedAdjacency(s, dir))
  }

  /** The probe core over explicit vertex + simple-edge frames — split out
    * so the spec can plant exact topologies (P₄ pins every harmonic sum
    * as a small rational). */
  private[graph] def closenessOf(s: SparkSession, docs: DataFrame, und: DataFrame): DataFrame =
    closenessOnAdj(s, docs,
      und.select(col("u").as("node"), col("v").as("nb"))
        .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
        .localCheckpoint(true))

  /** The core over a MATERIALIZED symmetric adjacency (node, nb). */
  private[graph] def closenessOnAdj(s: SparkSession, docs: DataFrame, adj: DataFrame): DataFrame = {
    val lms = docs.orderBy(col("doc_id")).limit(K)
      .select(col("doc_id").as("lm")).localCheckpoint(true)
    // gate keyed on the per-hop worst-case join mass — the frontier
    // carries the K-landmark dimension over the adjacency, so the honest
    // working set is |adj|·K, not |V| (r16, the graph_anf/Mmr class)
    graft.InterpretedLoop.run(s, adj.count() * K) {
      // visited kept as per-round checkpoint PARTS, unioned lazily — the
      // former per-round `(visited ∪ next).localCheckpoint` re-wrote the
      // whole growing state each hop (quadratic write amplification in
      // the hop budget); a union of checkpointed parts is a free scan and
      // set semantics are identical (r15, the Betweenness fix).
      val seed = lms.select(col("lm"), col("lm").as("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
      var parts = Vector(seed)
      var frontier = seed
      for (k <- 1 to MaxHops) {
        val visitedSoFar = parts.map(_.select(col("lm"), col("node")))
          .reduce(_.unionByName(_))
        val next = adj.join(frontier.select(col("lm"), col("node")), Seq("node"))
          .select(col("lm"), col("nb").as("node")).distinct()
          .join(visitedSoFar, Seq("lm", "node"), "left_anti")
          .select(col("lm"), col("node"), lit(k.toLong).as("dist"))
          .localCheckpoint(true)
        parts = parts :+ next
        frontier = next
      }
      val visited = parts.reduce(_.unionByName(_))
      val agg = visited.filter(col("dist") >= 1L)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_reached"),
          sum(expr(s"$HLcm div dist")).as("h60"))
      docs.join(agg.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("h60"), lit(0L)).as("h60"),
          round(coalesce(col("h60"), lit(0L)).cast("double") / lit(HLcm.toDouble), 6)
            .as("closeness"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_closeness" -> (closeness _))

  val oracles: Map[String, String] = Map(
    "graph_closeness" -> {
      val rounds = (1 to MaxHops).map { k =>
        s"""d$k AS MATERIALIZED (SELECT lm, node, dist FROM d${k - 1}
           | UNION ALL
           | SELECT lm, node, $k AS dist FROM (
           |  SELECT DISTINCT d.lm, adj.nb AS node FROM adj
           |  JOIN d${k - 1} d ON adj.node = d.node) f
           | WHERE NOT EXISTS (SELECT 1 FROM d${k - 1} x
           |  WHERE x.lm = f.lm AND x.node = f.node))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |lms AS (SELECT doc_id AS lm FROM documents ORDER BY doc_id LIMIT $K),
         |d0 AS (SELECT lm, lm AS node, 0::BIGINT AS dist FROM lms),
         |$rounds,
         |agg AS (SELECT node, count(*)::BIGINT AS n_reached,
         |  sum($HLcm // dist)::BIGINT AS h60
         | FROM d$MaxHops WHERE dist >= 1 GROUP BY node)
         |SELECT doc_id,
         | coalesce(agg.n_reached, 0)::BIGINT AS n_reached,
         | coalesce(agg.h60, 0)::BIGINT AS h60,
         | round(coalesce(agg.h60, 0)::DOUBLE / ${HLcm}.0, 6) AS closeness
         |FROM documents LEFT JOIN agg ON agg.node = doc_id
         |ORDER BY doc_id""".stripMargin
    })
}
