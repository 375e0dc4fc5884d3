package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37k `graph_scc` — strongly connected components of the DIRECTED
  * citation graph: the link-farm / citation-ring curation primitive
  * (`graph_components` answers "same island?" on the undirected view; this
  * answers "mutual reachability?", which is what separates a genuine
  * citation ring from a one-way reference chain — the structure a crawl
  * curator prunes or caps before trusting link-based authority like
  * `graph_pagerank`, whose directed edge list this shares).
  *
  * Algorithm: fixed-budget FORWARD-BACKWARD coloring (the distributed
  * FW-BW / coloring family — Orzan 2004; Hong et al. PPoPP'13 — made
  * deterministic the `graph_kcore` way, with every loop bound FIXED so the
  * oracle replays the identical chain):
  *
  *  - [[OuterRounds]] peel rounds over the still-active subgraph; each
  *    round settles every color-class root's full SCC, then removes it.
  *  - COLOR ([[FwdRounds]] rounds): c(v) ← min over active in-neighbors,
  *    then the pointer-doubling shortcut c(v) ← min(c(v), c(c(v))) — valid
  *    because c(v) is always an ancestor-or-self of v, so its color is
  *    also an ancestor of v. Converged, c(v) = the minimum active node
  *    that can REACH v.
  *  - BACKWARD ([[BwdRounds]] rounds): within each color class, d(v) = the
  *    minimum same-class node v can reach, propagated over same-class
  *    edges only (a within-SCC path never leaves the class, so the
  *    restriction loses nothing and bounds the work — Orzan's trick),
  *    with the same doubling shortcut.
  *  - SETTLE where c(v) = d(v): v both reaches and is reached by the class
  *    root r, so v ∈ SCC(r); at settlement r is exactly the SCC's minimum
  *    member, making labels canonical (min-member) and partitioning-
  *    independent. Truncation can never MERGE two SCCs (c(v) is always a
  *    true ancestor and d(v) a true same-class descendant — settling
  *    proves mutual reachability); an unconverged budget only delays
  *    settlement or (color-split) settles one SCC under two labels, which
  *    is why the budget is sized with measured slack: the gate corpora
  *    converge at F=B=9/outer=1 and ship with 12/4, and `SccSpec` replays
  *    an exact driver-side Tarjan over the corpus edge list and asserts
  *    label-for-label equality plus full settlement. Long feed-forward
  *    chains are the declared budget pathology (one root settles per peel
  *    round — the FW-BW family's known serial tail); `settled=false` rows
  *    make the truncation visible instead of silent.
  *
  * Determinism: labels are min-comparisons of BIGINT ids — no floats
  * anywhere; set semantics are exact under any partitioning, and the
  * oracle unrolls the identical fixed chain, so the driver gate
  * hash-checks every row cross-engine.
  *
  * Scale: per inner round ONE edges⋈labels hash join + a map-side min
  * aggregate + bounded-key lookups, all on uniform node keys; edges
  * shrink monotonically across peel rounds; `localCheckpoint` cuts
  * lineage per round (the `graph_kcore` loop contract). Empty-active
  * rounds are skipped Spark-side (identical result: an empty round is a
  * no-op), so the common one-giant-SCC corpus pays for a single peel. */
object Scc extends graft.QueryModule {

  val OuterRounds = 4
  val FwdRounds = 12
  val BwdRounds = 9

  /** Directed simple edges u→v of the shared citation graph (distinct,
    * self-loops dropped — they never change SCC membership). */
  private[graph] def directedEdges(docs: DataFrame, n: Long): DataFrame =
    PageRank.citationEdges(docs, n)
      .filter(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .distinct()

  /** Eager local checkpoint THAT ALSO RESETS STATS. Spark preserves the
    * originating plan's sizeInBytes estimate through `localCheckpoint`
    * (`LogicalRDD` carries it over), and every FW-BW round joins a frame
    * with a derivative of itself — so the inherited estimate SQUARES per
    * round and by round ~20 the catalyst stats visitor is multiplying
    * million-bit BigIntegers (minutes of planner CPU for a 500-row frame).
    * Rebuilding the frame over the checkpointed RDD gives the next round a
    * fresh default estimate; the data is already materialized, the
    * row-conversion pass is |V|-bounded. */
  private def cut(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  def scc(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      return docs.select(col("doc_id"), col("doc_id").as("scc_id"),
        lit(false).as("settled"), lit(0L).as("scc_size")).filter(lit(false))
    // staged family rung: the distinct directed-edge shuffle runs once per
    // corpus (shared with graph_reciprocity)
    sccOf(s, docs, GraphArtifacts.stagedDirectedSimple(s, dir))
  }

  /** The budget FW-BW core over an explicit directed edge list — split out
    * so the spec can drive planted topologies (a 2-cycle settles under its
    * min member; a feed-forward chain peels one singleton per round). */
  private[graph] def sccOf(s: SparkSession, verts: DataFrame,
      edgesIn: DataFrame): DataFrame = {
    // tiny per-round frames: interpreted loop (the PageRank/kcore tradeoff
    // — janino compile per unique round plan costs more than it buys);
    // gate keyed on the per-round label⋈edge join mass |E| + |V|, not
    // |V| alone (r16, the graph_anf/Mmr gate-scope class)
    graft.InterpretedLoop.run(s, edgesIn.count() + verts.count()) {
      val edges0 = cut(edgesIn)
      var active = cut(verts.select(col("doc_id").as("node")))
      var activeN = active.count()
      var settled: DataFrame = null

      /** Forward phase: [[FwdRounds]] rounds of c(v) ← min over
        * in-neighbors-and-self (the self contribution rides a synthetic
        * self-loop so the labels frame is referenced ONCE per aggregate),
        * then the pointer-doubling shortcut in the same plan. One stats-
        * resetting checkpoint per round. */
      def forward(active: DataFrame, es: DataFrame): DataFrame = {
        val esSelf = es.unionByName(
          active.select(col("node").as("u"), col("node").as("v")))
        var l = active.select(col("node"), col("node").as("lab"))
        for (_ <- 1 to FwdRounds) {
          val t = esSelf.join(l.withColumnRenamed("node", "u"), Seq("u"))
            .groupBy(col("v")).agg(min(col("lab")).as("lab"))
            .withColumnRenamed("v", "node")
          val pt = t.select(col("node").as("pn"), col("lab").as("plab"))
          l = cut(t.join(pt, t("lab") === pt("pn"), "left")
            .select(col("node"),
              least(col("lab"), coalesce(col("plab"), col("lab"))).as("lab")))
        }
        l
      }

      /** Backward phase over the same-class edges, REVERSED: d(v) ← min
        * over out-neighbors-and-self — plain propagation ([[BwdRounds]]
        * rounds; within a color class the reach is SCC-diameter-shallow,
        * so doubling buys nothing here), labels referenced once per round
        * via the self-loop union, a single checkpoint at the end. */
      def backward(active: DataFrame, ce: DataFrame): DataFrame = {
        val ceSelf = ce.unionByName(
          active.select(col("node").as("u"), col("node").as("v")))
        var d = active.select(col("node"), col("node").as("lab"))
        for (_ <- 1 to BwdRounds) {
          d = ceSelf.join(d.withColumnRenamed("node", "v"), Seq("v"))
            .groupBy(col("u")).agg(min(col("lab")).as("lab"))
            .withColumnRenamed("u", "node")
        }
        cut(d)
      }

      var o = 0
      while (o < OuterRounds && activeN > 0) {
        o += 1
        val ed = cut(edges0
          .join(active.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(active.select(col("node").as("v")), Seq("v"), "left_semi"))
        val colors = forward(active, ed)
        // same-class edges only: a within-SCC path never leaves the class
        val ce = cut(ed
          .join(colors.select(col("node").as("u"), col("lab").as("cu")), Seq("u"))
          .join(colors.select(col("node").as("v"), col("lab").as("cv")), Seq("v"))
          .filter(col("cu") === col("cv"))
          .select(col("u"), col("v")))
        val back = backward(active, ce)
        val st = cut(colors
          .join(back.withColumnsRenamed(Map("lab" -> "dlab")), Seq("node"))
          .filter(col("lab") === col("dlab"))
          .select(col("node"), col("lab").as("scc")))
        settled = if (settled == null) st else settled.unionByName(st)
        active = cut(active.join(st, Seq("node"), "left_anti"))
        activeN = active.count()
      }

      val lab = graft.CacheRegistry.track(
        verts.join(
          settled.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("scc"), col("doc_id")).as("scc_id"),
            col("scc").isNotNull.as("settled")))
      val sz = lab.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
      lab.join(sz, Seq("scc_id"))
        .select(col("doc_id"), col("scc_id"), col("settled"), col("scc_size"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_scc" -> (scc _))

  val oracles: Map[String, String] = Map(
    "graph_scc" -> {
      def phase(pfx: String, o: Int, ed: String, src: String, dst: String,
          rounds: Int, doubling: Boolean): String =
        (1 to rounds).map { k =>
          val edgeMin =
            s"""SELECT x.node, least(x.lab, coalesce(m.mlab, x.lab)) AS lab
               | FROM ${pfx}l${o}_${k - 1} x LEFT JOIN (
               |  SELECT e.$dst AS node, min(y.lab) AS mlab FROM $ed e
               |  JOIN ${pfx}l${o}_${k - 1} y ON y.node = e.$src GROUP BY e.$dst) m
               |  ON m.node = x.node""".stripMargin
          if (doubling)
            s"""${pfx}t${o}_$k AS MATERIALIZED (
               |$edgeMin),
               |${pfx}l${o}_$k AS MATERIALIZED (
               | SELECT t.node, least(t.lab, coalesce(p.lab, t.lab)) AS lab
               | FROM ${pfx}t${o}_$k t LEFT JOIN ${pfx}t${o}_$k p ON p.node = t.lab)"""
              .stripMargin
          else
            s"""${pfx}l${o}_$k AS MATERIALIZED (
               |$edgeMin)""".stripMargin
        }.mkString(",\n")
      val outers = (1 to OuterRounds).map { o =>
        s"""ed$o AS MATERIALIZED (SELECT de.u, de.v FROM de
           | JOIN act$o a ON a.node = de.u JOIN act$o b ON b.node = de.v),
           |cl${o}_0 AS (SELECT node, node AS lab FROM act$o),
           |${phase("c", o, s"ed$o", "u", "v", FwdRounds, doubling = true)},
           |ce$o AS MATERIALIZED (SELECT e.u, e.v FROM ed$o e
           | JOIN cl${o}_$FwdRounds x ON x.node = e.u
           | JOIN cl${o}_$FwdRounds y ON y.node = e.v WHERE x.lab = y.lab),
           |dl${o}_0 AS (SELECT node, node AS lab FROM act$o),
           |${phase("d", o, s"ce$o", "v", "u", BwdRounds, doubling = false)},
           |st$o AS MATERIALIZED (
           | SELECT x.node, x.lab AS scc FROM cl${o}_$FwdRounds x
           | JOIN dl${o}_$BwdRounds y ON y.node = x.node WHERE x.lab = y.lab),
           |act${o + 1} AS MATERIALIZED (
           | SELECT a.node FROM act$o a LEFT JOIN st$o s ON s.node = a.node
           | WHERE s.node IS NULL)""".stripMargin
      }.mkString(",\n")
      val unionSt = (1 to OuterRounds)
        .map(o => s"SELECT node, scc FROM st$o").mkString(" UNION ALL ")
      s"""WITH ${PageRank.graphSqlCtes},
         |de AS MATERIALIZED (
         | SELECT DISTINCT src AS u, dst AS v FROM e WHERE src <> dst),
         |act1 AS MATERIALIZED (SELECT doc_id AS node FROM documents),
         |$outers,
         |allst AS ($unionSt),
         |lab AS MATERIALIZED (
         | SELECT d.doc_id, coalesce(s.scc, d.doc_id) AS scc_id,
         |  s.scc IS NOT NULL AS settled
         | FROM documents d LEFT JOIN allst s ON s.node = d.doc_id),
         |sz AS (SELECT scc_id, count(*)::BIGINT AS scc_size
         | FROM lab GROUP BY scc_id)
         |SELECT l.doc_id, l.scc_id, l.settled, sz.scc_size
         |FROM lab l JOIN sz USING (scc_id) ORDER BY l.doc_id""".stripMargin
    })
}
