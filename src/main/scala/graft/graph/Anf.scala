package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.stats.Hll

/** #37p `graph_anf` — the approximate neighbourhood function and
  * effective diameter (ANF: Palmer, Gibbons & Faloutsos KDD 2002;
  * HyperANF: Boldi, Rosa & Vigna WWW 2011) over the shared undirected
  * citation graph (SURVEY.md §2).
  *
  * THE question a crawl planner asks of a web-scale graph — "how far is
  * everything from everything?" — is an APSP non-starter exactly like
  * all-pairs closeness; ANF answers it with sketches: every node keeps a
  * DISTINCT-COUNT sketch of its h-hop ball, and one round of
  * neighbour-merge turns the h-ball sketches into (h+1)-ball sketches
  * (sketch UNION is register-max — the mergeability that makes HLL the
  * right state). N(h) = Σ_v |B_h(v)| then reads off the per-node
  * estimates, and the effective diameter d₉₀ is the first h with
  * N(h) ≥ 90% of the final plateau — the number that says "the corpus
  * graph is 3 hops wide", which prices BFS budgets (`graph_bfs`,
  * `graph_closeness`'s 6-hop contract) instead of guessing them.
  *
  * Sketches are the HOUSE HLL (`stats_hll_distinct`'s exact register
  * chain — md5 bucket/ρ, integer harmonic sums, linear-counting small-
  * range correction, FULLY oracle-replayable), seeded with each node's
  * own id and merged [[H]] rounds; per round ONE adjacency⋈registers
  * equi-join + a (node, bucket) max-aggregate — map-side combinable,
  * monotone registers, localCheckpoint lineage cuts, interpreted-loop
  * gated (the graph-loop contract). State is |V|·[[Hll.M]] rows.
  *
  * Determinism: registers are integer maxima; each per-node estimate is
  * the Hll readout's fixed-form round-4 value; the CROSS-NODE total is
  * the sf1-proof shape — per-node estimates lift to integer
  * ten-thousandths and sum as exact BIGINTs (no float ever sums), so
  * nf / avg_ball / pct_final are each ONE fixed-form division of exact
  * integers. `covers90` marks h with N(h) ≥ 0.9·N(H) via exact integer
  * cross-multiply — the effective-diameter read-off. */
object Anf extends graft.QueryModule {

  val H = 6

  def anf(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return s.range(0).select(col("id").as("h"), lit(0L).as("n_nodes"),
        lit(0L).as("nf_scaled"), lit(0.0).as("nf"), lit(0.0).as("avg_ball"),
        lit(0.0).as("pct_final"), lit(false).as("covers90"))
    // staged family rung: the symmetric adjacency is materialized once per
    // (corpus, fingerprint), not per BFS-family operator
    anfOnAdj(s, docs, GraphArtifacts.stagedAdjacency(s, dir))
  }

  /** The sketch-merge core over explicit vertex + simple-edge frames —
    * split out so the spec can plant exact topologies. */
  private[graph] def anfOf(s: SparkSession, docs: DataFrame, und: DataFrame): DataFrame =
    anfOnAdj(s, docs,
      und.select(col("u").as("node"), col("v").as("nb"))
        .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
        .localCheckpoint(true))

  /** The core over a MATERIALIZED symmetric adjacency (node, nb). */
  private[graph] def anfOnAdj(s: SparkSession, docs: DataFrame, adj: DataFrame): DataFrame = {
    val n = docs.count()
    // self-loops fold the per-round `regs ∪ join(adj, regs)` into ONE
    // join: the (v,v) row joins v's own registers, contributing exactly
    // the rows the union branch carried — algebraically identical input
    // to the register-max aggregate, one fewer regs scan + union
    // exchange per round (r15; guide §2.3 "aggregate before you
    // shuffle" — the union branch shuffled |V|·M register rows per
    // round that the self-loop join carries for free).
    val adjPlus = adj.unionByName(
        docs.select(col("doc_id").as("node"), col("doc_id").as("nb")))
      .localCheckpoint(true)
    // Gate on the TRUE per-round working set (r16): each adjacency row
    // fans out to [[Hll.M]] register rows in the round join, so the mass
    // the interpreted window would cover is |adjPlus|·M — NOT |V|. Keyed
    // on |V| the sf0.1 corpus ran ~2.2M-row register merges interpreted
    // six rounds over (the Mmr gate-scope finding's sibling); keyed
    // honestly, small corpora still skip the per-round janino compiles
    // while anything edge-heavy keeps codegen.
    // Register merges are COMPUTE-dense per byte (M=64 packed register
    // maxima per node against ~20-byte rows), which byte-based AQE
    // coalescing cannot see: under the session's size-based posture
    // (Bench.scala, r16) the ~40 MB round shuffle coalesced to ~5 tasks
    // and serialized the merge — measured +68% at sf0.1/32. Scope the
    // advisory small for exactly the round loop so its shuffles keep the
    // configured dispatch width (guide §8 — the operator knows its
    // per-row cost; the optimizer only sees bytes).
    graft.InterpretedLoop.run(s, adjPlus.count() * Hll.M) {
     graft.ScopedConf.run(s, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m") {
      var regs = Hll.registers(
          docs.select(col("doc_id").as("node"), col("doc_id").as("user_id")),
          Seq("node"))
        .localCheckpoint(true)
      def roundTotal(h: Int, r: DataFrame): DataFrame =
        Hll.readout(r, Seq("node"))
          .select(round(col("est_distinct") * 10000).cast("long").as("e4"))
          .agg(sum(col("e4")).as("nf_scaled"))
          .select(lit(h.toLong).as("h"), col("nf_scaled"))
      var totals = Vector(roundTotal(0, regs))
      for (h <- 1 to H) {
        regs = adjPlus.join(regs.withColumnRenamed("node", "nb"), Seq("nb"))
          .select(col("node"), col("bucket"), col("m_j"))
          .groupBy(col("node"), col("bucket")).agg(max(col("m_j")).as("m_j"))
          .localCheckpoint(true)
        totals = totals :+ roundTotal(h, regs)
      }
      val allH = totals.reduce(_.unionByName(_))
      val fin = allH.filter(col("h") === H.toLong)
        .select(col("nf_scaled").as("nf_final"))
      allH.crossJoin(broadcast(fin))
        .select(col("h"), lit(n).as("n_nodes"), col("nf_scaled"),
          round(col("nf_scaled").cast("double") / 10000.0, 4).as("nf"),
          round(col("nf_scaled").cast("double") / n / 10000.0, 4).as("avg_ball"),
          round(col("nf_scaled").cast("double") / col("nf_final"), 4).as("pct_final"),
          (col("nf_scaled") * 10L >= col("nf_final") * 9L).as("covers90"))
        .orderBy(col("h"))
     }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_anf" -> (anf _))

  val oracles: Map[String, String] = Map(
    "graph_anf" -> {
      val m = Hll.M
      val rounds = (1 to H).map { h =>
        s"""r$h AS MATERIALIZED (SELECT node, bucket, max(m_j)::BIGINT AS m_j FROM (
           | SELECT node, bucket, m_j FROM r${h - 1}
           | UNION ALL
           | SELECT adj.node, r.bucket, r.m_j FROM adj
           | JOIN r${h - 1} r ON r.node = adj.nb) u
           | GROUP BY node, bucket)""".stripMargin
      }.mkString(",\n")
      // per-h total: the Hll readout per node, lifted to exact integer
      // ten-thousandths and summed
      val perH = (0 to H).map { h =>
        s"""t$h AS (SELECT $h::BIGINT AS h,
           | sum(round(est * 10000)::BIGINT)::BIGINT AS nf_scaled FROM (
           | SELECT CASE WHEN ${Hll.Alpha} * ${m * m}.0 * ${Hll.Scale} / s_scaled
           |     <= ${2.5 * m} AND v_zero > 0
           |   THEN round($m.0 * ln($m.0 / v_zero), 4)
           |   ELSE round(${Hll.Alpha} * ${m * m}.0 * ${Hll.Scale} / s_scaled, 4)
           |  END AS est FROM (
           |  SELECT node, ($m - count(*))::BIGINT AS v_zero,
           |   (sum(1::BIGINT << (53 - m_j)) + ($m - count(*)) * (1::BIGINT << 53))::BIGINT
           |    AS s_scaled
           |  FROM r$h GROUP BY node) a) e)""".stripMargin
      }.mkString(",\n")
      val unionH = (0 to H).map(h => s"SELECT h, nf_scaled FROM t$h").mkString(" UNION ALL ")
      s"""WITH ${PageRank.graphSqlCtes},
         |${Triangles.simpleEdgesSqlCte},
         |adj AS (SELECT u AS node, v AS nb FROM se
         | UNION ALL SELECT v AS node, u AS nb FROM se),
         |r0 AS MATERIALIZED (
         | SELECT doc_id AS node,
         |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::BIGINT % $m AS bucket,
         |  (CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 3, 13))::BIGINT = 0 THEN 53
         |    ELSE 53 - length(bin(('0x' || substr(md5(doc_id::VARCHAR), 3, 13))::BIGINT))
         |   END)::BIGINT AS m_j
         | FROM documents),
         |$rounds,
         |$perH,
         |allh AS ($unionH),
         |fin AS (SELECT nf_scaled AS nf_final FROM allh WHERE h = $H)
         |SELECT h, (SELECT count(*) FROM documents)::BIGINT AS n_nodes, nf_scaled,
         | round(nf_scaled::DOUBLE / 10000.0, 4) AS nf,
         | round(nf_scaled::DOUBLE / (SELECT count(*) FROM documents) / 10000.0, 4)
         |  AS avg_ball,
         | round(nf_scaled::DOUBLE / nf_final, 4) AS pct_final,
         | (nf_scaled * 10 >= nf_final * 9) AS covers90
         |FROM allh, fin ORDER BY h""".stripMargin
    })
}
