package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37o `graph_betweenness` — K-pivot Brandes betweenness centrality over
  * the shared (undirected) citation graph (Brandes 2001; pivot sampling
  * per Riondato & Kornaropoulos WSDM 2014) (SURVEY.md §2).
  *
  * The remaining centrality after `graph_closeness`: closeness ranks by
  * DISTANCE (where to start a crawl), betweenness by BROKERAGE — the cut
  * vertices most shortest paths flow THROUGH, the nodes whose removal
  * fragments the graph and the ones a trust/crawl pipeline treats
  * differently (they bridge communities rather than sit inside one).
  * Exact betweenness is an APSP-hard all-sources Brandes; the standard
  * scalable estimator runs Brandes from K sampled pivots and sums the
  * per-pivot dependencies — here the [[K]] smallest doc_ids within
  * [[MaxHops]] hops (the `graph_closeness` landmark + hop discipline,
  * declared estimator semantics: k-bounded pivot betweenness).
  *
  * Per pivot (all K at once, state keyed (lm, node)):
  *  - FORWARD: [[MaxHops]] synchronous BFS rounds carrying σ — the
  *    NUMBER of shortest paths — as exact BIGINTs (σ(w) at depth k =
  *    Σ σ(v) over depth-(k−1) neighbors: a map-side-combinable sum of
  *    integers, order-independent).
  *  - BACKWARD: Brandes' dependency accumulation δ(v) = Σ_{w∈succ(v)}
  *    (σ_v/σ_w)(1+δ_w), run as [[MaxHops]]−1 unrolled rounds from the
  *    deepest level up. δ is stored as INTEGER MILLIONTHS with each
  *    term's division TRUNCATED to BIGINT (`div`, mirrored by DuckDB
  *    `//`) — declared fixed-point rounding, so the cross-row sums are
  *    exact-integer order-independent and NO float ever sums (the
  *    `graph_hits` integer fixed-point discipline). On unique-shortest-
  *    path structures (σ ≡ 1) the arithmetic is EXACT.
  *
  * betweenness_scaled(v) = Σ over pivots of δ_lm(v), pivots' own rows
  * (dist 0) excluded — with ≥ K-node planted graphs whose nodes are all
  * pivots this IS exact Brandes betweenness (ordered-pair convention),
  * the spec's textbook anchors: P₅ interior 8/6/0-pattern, star center
  * (n−1)(n−2), clique uniformly 0.
  *
  * Declared BIGINT ranges: σ ≤ paths within 6 hops (degree⁶-bounded);
  * each backward term σ_v·(10⁶+δ_w) with δ ≤ (n−1)·10⁶ — products stay
  * far under 2⁶³ for any corpus this engine gates (the `stats_linreg`
  * range-contract convention, stressed by the sf1 insurance run).
  *
  * Scale: per forward round ONE adjacency⋈frontier hash join + a
  * map-side (lm, node) σ-sum + a visited anti-join (≤ K·|V| state, the
  * closeness envelope); the successor-DAG join is one (lm, node)-keyed
  * equi-join of the settled BFS against itself through the edge list;
  * per backward round one equi-join + map-side sum on the depth-d slice.
  * localCheckpoint lineage cuts per round; interpreted-loop gated. */
object Betweenness extends graft.QueryModule {

  val K = 8
  val MaxHops = 6
  val Scale = 1000000L

  def betweenness(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), lit(0L).as("bc_scaled"), lit(0.0).as("betweenness"))
    // staged family rung: symmetric adjacency shared across the BFS family
    betweennessOnAdj(s, docs, GraphArtifacts.stagedAdjacency(s, dir))
  }

  /** The Brandes core over explicit vertex + simple-edge frames — split
    * out so the spec can plant exact topologies (≤ K nodes ⇒ every node
    * is a pivot ⇒ exact betweenness). */
  private[graph] def betweennessOf(s: SparkSession, docs: DataFrame, und: DataFrame): DataFrame =
    betweennessOnAdj(s, docs,
      und.select(col("u").as("node"), col("v").as("nb"))
        .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
        .localCheckpoint(true))

  /** The core over a MATERIALIZED symmetric adjacency (node, nb). */
  private[graph] def betweennessOnAdj(s: SparkSession, docs: DataFrame, adj: DataFrame): DataFrame = {
    val lms = docs.orderBy(col("doc_id")).limit(K)
      .select(col("doc_id").as("lm")).localCheckpoint(true)
    // gate keyed on the per-hop worst-case join mass — frontier frames
    // carry the K-pivot dimension over the adjacency, so the honest
    // working set is |adj|·K, not |V| (r16, the graph_anf/Mmr class)
    graft.InterpretedLoop.run(s, adj.count() * K) {
      // -- forward: BFS with exact path counts ------------------------
      // Visited state is kept as a VECTOR of per-round checkpoints and
      // unioned lazily where a consumer needs the whole set: the former
      // `visited = (visited ∪ next).localCheckpoint` RE-MATERIALIZED the
      // full growing state every round (Σ_k |visited_k| checkpoint writes
      // — quadratic write amplification in the hop budget) where a union
      // of already-checkpointed parts is a free scan. Set semantics are
      // identical: union order never matters to the anti-join or the
      // aggregates. (r15 optimization; guide §2.4 — remove work, not
      // reorder it.)
      val seed = lms.select(col("lm"), col("lm").as("node"),
        lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(true)
      var parts = Vector(seed)
      var frontier = seed
      for (k <- 1 to MaxHops) {
        val visitedSoFar = parts.map(_.select(col("lm"), col("node")))
          .reduce(_.unionByName(_))
        val next = adj.join(frontier.select(col("lm"), col("node"), col("sigma")), Seq("node"))
          .groupBy(col("lm"), col("nb"))
          .agg(sum(col("sigma")).as("sigma"))
          .withColumnRenamed("nb", "node")
          .join(visitedSoFar, Seq("lm", "node"), "left_anti")
          .select(col("lm"), col("node"), lit(k.toLong).as("dist"), col("sigma"))
          .localCheckpoint(true)
        parts = parts :+ next
        frontier = next
      }
      val visited = parts.reduce(_.unionByName(_))
      // -- successor DAG: (v, w) edges with dist_w = dist_v + 1 -------
      val succ = visited.select(col("lm"), col("node"), col("dist").as("dv"), col("sigma").as("sv"))
        .join(adj, Seq("node"))
        .join(visited.select(col("lm"), col("node").as("nb"), col("dist").as("dw"),
          col("sigma").as("sw")), Seq("lm", "nb"))
        .filter(col("dw") === col("dv") + 1)
        .select(col("lm"), col("node").as("v"), col("nb").as("w"),
          col("sv"), col("sw"), col("dv"))
        .localCheckpoint(true)
      // -- backward: integer-millionth dependency accumulation --------
      // Round d only ever matches depth-(d+1) delta rows (a node has one
      // BFS depth per pivot, and succ edges step exactly one level), so
      // the lookup side is the PREVIOUS round's frame alone — the shape
      // the oracle always had (`b$d ... LEFT JOIN b${d+1}`); joining the
      // whole accumulated delta and re-checkpointing the union per round
      // was strictly wasted shuffle + write. Final acc unions the parts.
      var deltaPrev = seed.filter(lit(false))
        .select(col("lm"), col("node"), lit(0L).as("delta")) // empty, schema only
      var deltaParts = Vector.empty[DataFrame]
      for (d <- (MaxHops - 1) to 1 by -1) {
        val deltaD = succ.filter(col("dv") === d.toLong)
          .join(deltaPrev.select(col("lm"), col("node").as("w"), col("delta").as("delta_w")),
            Seq("lm", "w"), "left")
          // fail-fast range guard (the ann_cell_stats precedent): on a
          // dense graph sigma within MaxHops is degree^MaxHops-bounded and
          // sv * (Scale + delta_w) can pass 2^63 — Spark (non-ANSI) would
          // WRAP silently while the DuckDB oracle throws, so an
          // out-of-range corpus must fail loudly on THIS side too instead
          // of diverging engine-vs-oracle. The predicate uses only
          // overflow-free ops (integer div).
          .withColumn("term",
            expr(s"""CASE WHEN sv > ${Long.MaxValue}L div ($Scale + coalesce(delta_w, 0L))
                    | THEN raise_error('graph_betweenness: sigma * (Scale + delta) exceeds the declared BIGINT range — corpus too dense for the fixed-point contract')
                    | ELSE (sv * ($Scale + coalesce(delta_w, 0L))) div sw END""".stripMargin))
          .groupBy(col("lm"), col("v"))
          .agg(sum(col("term")).as("delta"))
          .withColumnRenamed("v", "node")
          .localCheckpoint(true)
        deltaParts = deltaParts :+ deltaD
        deltaPrev = deltaD
      }
      // reduceOption: the loop is empty whenever MaxHops < 2 — keep the
      // function total in the budget (r15 ADVICE; the empty schema frame
      // deltaPrev starts as is the correct zero)
      val delta = deltaParts.reduceOption(_.unionByName(_)).getOrElse(deltaPrev)
      val acc = delta.groupBy(col("node")).agg(sum(col("delta")).as("bc_scaled"))
      docs.join(acc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("bc_scaled"), lit(0L)).as("bc_scaled"),
          round(coalesce(col("bc_scaled"), lit(0L)).cast("double") / lit(Scale.toDouble), 6)
            .as("betweenness"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_betweenness" -> (betweenness _))

  val oracles: Map[String, String] = Map(
    "graph_betweenness" -> {
      val fwd = (1 to MaxHops).map { k =>
        s"""f$k AS MATERIALIZED (SELECT lm, node, dist, sigma FROM f${k - 1}
           | UNION ALL
           | SELECT lm, node, $k AS dist, sigma FROM (
           |  SELECT d.lm, adj.nb AS node, sum(d.sigma)::BIGINT AS sigma
           |  FROM adj JOIN f${k - 1} d ON adj.node = d.node AND d.dist = ${k - 1}
           |  GROUP BY d.lm, adj.nb) f
           | WHERE NOT EXISTS (SELECT 1 FROM f${k - 1} x
           |  WHERE x.lm = f.lm AND x.node = f.node))""".stripMargin
      }.mkString(",\n")
      val bwd = ((MaxHops - 1) to 1 by -1).map { d =>
        // a depth-d node's successors sit at exactly depth d+1, so only
        // b{d+1} can ever match the lookup
        val prev =
          if (d == MaxHops - 1) "SELECT NULL::BIGINT AS lm, NULL::BIGINT AS node, NULL::BIGINT AS delta WHERE 1=0"
          else s"SELECT lm, node, delta FROM b${d + 1}"
        s"""b$d AS MATERIALIZED (
           | SELECT s.lm, s.v AS node,
           |  sum((s.sv * ($Scale + coalesce(p.delta, 0))) // s.sw)::BIGINT AS delta
           | FROM succ s LEFT JOIN ($prev) p ON p.lm = s.lm AND p.node = s.w
           | WHERE s.dv = $d GROUP BY s.lm, s.v)""".stripMargin
      }.mkString(",\n")
      val accUnion = (1 to (MaxHops - 1)).map(d => s"SELECT node, delta FROM b$d")
        .mkString(" UNION ALL ")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |lms AS (SELECT doc_id AS lm FROM documents ORDER BY doc_id LIMIT $K),
         |f0 AS (SELECT lm, lm AS node, 0::BIGINT AS dist, 1::BIGINT AS sigma FROM lms),
         |$fwd,
         |succ AS MATERIALIZED (
         | SELECT a.lm, a.node AS v, b.node AS w, a.sigma AS sv, b.sigma AS sw,
         |  a.dist AS dv
         | FROM f$MaxHops a JOIN adj ON adj.node = a.node
         | JOIN f$MaxHops b ON b.lm = a.lm AND b.node = adj.nb AND b.dist = a.dist + 1),
         |$bwd,
         |acc AS (SELECT node, sum(delta)::BIGINT AS bc_scaled FROM ($accUnion) u GROUP BY node)
         |SELECT doc_id,
         | coalesce(acc.bc_scaled, 0)::BIGINT AS bc_scaled,
         | round(coalesce(acc.bc_scaled, 0)::DOUBLE / ${Scale}.0, 6) AS betweenness
         |FROM documents LEFT JOIN acc ON acc.node = doc_id
         |ORDER BY doc_id""".stripMargin
    })
}
