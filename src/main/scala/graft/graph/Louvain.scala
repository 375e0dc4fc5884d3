package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #37s `graph_louvain` — one-level modularity ASCENT (Blondel, Guillaume,
  * Lambiotte & Lefebvre 2008, "Fast unfolding of communities in large
  * networks"), synchronous deterministic variant (SURVEY.md §2; r13
  * verdict task #3).
  *
  * `graph_labelprop` finds communities by propagation and
  * `graph_modularity` SCORES a partition, but nothing OPTIMIZED modularity
  * — LPA's oscillation contract (honestly flagged via `converged`) is
  * exactly the weakness Louvain exists to fix. Each pass, nodes evaluate
  * moving to each NEIGHBORING community and take the best improving move;
  * all decisions in a pass read the PREVIOUS pass's assignment
  * (synchronous — deterministic under any partitioning), for [[Passes]]
  * fixed passes.
  *
  * ANTI-SWAP SCHEDULE: fully-synchronous moves oscillate on symmetric
  * motifs (two adjacent singletons each grab the other's community and
  * swap forever — measured on the two-triangle bridge before this guard).
  * The standard parallel-Louvain remedy is a graph-coloring schedule
  * (Lu, Halappanavar & Kalyanaraman, "Parallel heuristics for scalable
  * community detection", ParCo 2015): only one color class moves per
  * pass, so two adjacent nodes never move simultaneously on the swap
  * motif. Here the coloring is node-id PARITY (deterministic, free):
  * pass k moves only nodes with node % 2 == (k+1) % 2; [[Passes]] = 10
  * gives five full even/odd sweeps — measured on the corpus graph, the
  * ascent passes `graph_labelprop`'s modularity there (0.0234 vs 0.0203
  * at sf0.001; LouvainSpec audits the inequality through the registered
  * `graph_modularity` scorer). `converged` therefore witnesses ONE FULL
  * even/odd sweep: the final labels are compared against pass
  * [[Passes]]−2 (two passes back), because the last single pass only
  * lets one color class move — a one-pass witness would report even
  * nodes converged without their turn ever being re-taken (the r14
  * ADVICE finding).
  *
  * EXACT INTEGER GAIN: moving node i (degree ki) to community C under
  * total edge count m maximizes ΔQ iff it maximizes
  * `score(C) = 2m·ki_in(C) − ki·Σtot'(C)` where ki_in(C) counts i's edges
  * into C and Σtot'(C) is C's degree mass EXCLUDING i when i ∈ C — the
  * standard gain with the constant 1/(2m²) cleared. All BIGINT: the
  * recurrence is bit-exact under any partitioning and replays in DuckDB
  * as unrolled CTEs (the `graph_pagerank` discipline). Declared range:
  * 2m·ki and ki·Σtot are < 2^63 for any corpus with < ~10⁹ nodes at
  * out-degree 3 (6n² < 2^63) — far beyond the betweenness family's
  * declared envelope. Tie-break: stay if the own community ties the max,
  * else the smallest community id — fully deterministic.
  *
  * Scale: per pass = one degree-mass aggregate over the bounded community
  * frame + one adjacency⋈labels hash join + a per-(node, candidate)
  * aggregate + one row_number pick — the labelprop round shape plus one
  * broadcastable Σtot join; adjacency is the staged family rung
  * ([[GraphArtifacts]]), lineage cut per pass. */
object Louvain extends graft.QueryModule {

  val Passes = 10

  def louvain(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), col("doc_id").as("community"),
        lit(0L).as("community_size"), lit(true).as("converged")).limit(0)
    louvainOf(s, docs, GraphArtifacts.stagedAdjacency(s, dir))
  }

  /** The ascent core over explicit vertex + MATERIALIZED symmetric
    * adjacency frames — split out so the spec can plant exact topologies
    * (the two-clique bridge lands the clique split).
    *
    * PER-PASS EXCHANGE DIET (r16, guide §2.3/§2.4): the labels frame
    * carries each node's (constant) degree `ki`, so Σtot needs no join
    * and the score join touches labels once instead of deg+labels; the
    * kin count and the own-community zero row aggregate in ONE
    * (node, cn) pass (adj rows weigh 1, the own row 0 — sum ≡ the old
    * count-then-max-with-0); the per-node argmax is a map-side-combinable
    * `max(struct(score, own, -cn, …))` instead of a row_number window
    * (same (score desc, own desc, cn asc) total order — cn is unique per
    * node after the aggregate, so the max is the identical pick). Per
    * pass: 3 exchanges with partial aggregation, no sort, 2 fewer joins
    * — was 4 exchanges + a window sort. */
  private[graph] def louvainOf(s: SparkSession, docs: DataFrame, adj: DataFrame): DataFrame = {
    val m = adj.count() / 2 // |E|: bounded driver scalar, oracle-mirrored
    val deg = graft.CacheRegistry.track(
      docs.select(col("doc_id").as("node"))
        .join(adj.groupBy(col("node")).agg(count(lit(1)).as("ki")), Seq("node"), "left")
        .select(col("node"), coalesce(col("ki"), lit(0L)).as("ki")))
    // gate keyed on the per-pass candidate-frame mass |adj| (+|V| own
    // rows), not |V| alone (r16, the graph_anf/Mmr gate-scope class);
    // 2m = |adj| is already a driver scalar here — no extra action
    graft.InterpretedLoop.run(s, 2L * m + docs.count()) {
      var labels = deg.select(col("node"), col("node").as("c"), col("ki"))
        .localCheckpoint(true)
      // convergence witness: labels TWO passes back (one full even/odd
      // sweep — both color classes have re-taken their turn since)
      var prev = labels
      var prev2 = labels
      for (k <- 1 to Passes) {
        prev2 = prev
        prev = labels
        val tot = labels.groupBy(col("c")).agg(sum(col("ki")).as("tot"))
        // kin per (node, candidate community) and the own-community
        // candidate row (kin 0 when no internal edge — isolated nodes and
        // stay-put decisions exist in the frame) in one aggregate
        val cand = adj
          .join(labels.select(col("node").as("nb"), col("c").as("cn")), Seq("nb"))
          .select(col("node"), col("cn"), lit(1L).as("w"))
          .unionByName(labels.select(col("node"), col("c").as("cn"), lit(0L).as("w")))
          .groupBy(col("node"), col("cn")).agg(sum(col("w")).as("kin"))
        val sc = cand
          .join(labels, Seq("node")) // own label `c` + degree `ki`
          .join(tot.withColumnRenamed("c", "cn"), Seq("cn"))
          .withColumn("score",
            lit(2L * m) * col("kin") -
              col("ki") * (col("tot") -
                when(col("c") === col("cn"), col("ki")).otherwise(lit(0L))))
        // parity coloring: only this pass's color class applies its pick;
        // the other class carries its previous label forward
        val best = sc.groupBy(col("node")).agg(max(struct(
          col("score"),
          when(col("cn") === col("c"), 1L).otherwise(0L).as("own"),
          (-col("cn")).as("ncn"),
          col("cn"), col("c"), col("ki"))).as("b"))
        labels = best.select(col("node"),
            when(col("node") % 2 === lit((k + 1) % 2).cast("long"), col("b.cn"))
              .otherwise(col("b.c")).as("c"),
            col("b.ki").as("ki"))
          .localCheckpoint(true)
      }
      val sizes = labels.groupBy(col("c")).agg(count(lit(1)).as("community_size"))
      labels.join(sizes, Seq("c"))
        .join(prev2.select(col("node"), col("c").as("c_prev")), Seq("node"))
        .select(col("node").as("doc_id"), col("c").as("community"),
          col("community_size"), (col("c_prev") === col("c")).as("converged"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_louvain" -> (louvain _))

  val oracles: Map[String, String] = Map(
    "graph_louvain" -> {
      val m2 = "2 * (SELECT count(*) FROM se)"
      val passes = (1 to Passes).map { k =>
        s"""tt$k AS (SELECT l.c, sum(dg.ki)::BIGINT AS tot
           | FROM l${k - 1} l JOIN dg ON dg.node = l.node GROUP BY l.c),
           |ki$k AS (SELECT adj.node, l.c AS cn, count(*)::BIGINT AS kin
           | FROM adj JOIN l${k - 1} l ON l.node = adj.nb GROUP BY 1, 2),
           |cd$k AS (SELECT node, cn, max(kin) AS kin FROM (
           |  SELECT node, cn, kin FROM ki$k
           |  UNION ALL SELECT node, c, 0 FROM l${k - 1}) GROUP BY 1, 2),
           |sc$k AS (SELECT cd.node, cd.cn, lp.c AS oc,
           |  $m2 * cd.kin - dg.ki *
           |   (tt.tot - CASE WHEN lp.c = cd.cn THEN dg.ki ELSE 0 END) AS score
           | FROM cd$k cd JOIN dg ON dg.node = cd.node
           | JOIN l${k - 1} lp ON lp.node = cd.node
           | JOIN tt$k tt ON tt.c = cd.cn),
           |l$k AS MATERIALIZED (SELECT node,
           |  CASE WHEN node % 2 = ${(k + 1) % 2} THEN cn ELSE oc END AS c FROM (
           |  SELECT node, cn, oc, row_number() OVER (PARTITION BY node
           |   ORDER BY score DESC, CASE WHEN cn = oc THEN 1 ELSE 0 END DESC, cn) AS rn
           |  FROM sc$k) t WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |dg AS MATERIALIZED (SELECT doc_id AS node, coalesce(d.ki, 0)::BIGINT AS ki
         | FROM documents LEFT JOIN (SELECT node, count(*)::BIGINT AS ki
         |  FROM adj GROUP BY node) d ON d.node = doc_id),
         |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS c FROM documents),
         |$passes,
         |sz AS (SELECT c, count(*)::BIGINT AS community_size
         | FROM l$Passes GROUP BY c)
         |SELECT l.node AS doc_id, l.c AS community, sz.community_size,
         | (lp.c = l.c) AS converged
         |FROM l$Passes l JOIN sz ON sz.c = l.c
         |JOIN l${Passes - 2} lp ON lp.node = l.node
         |ORDER BY doc_id""".stripMargin
    })
}
