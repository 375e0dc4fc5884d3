package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #37l `graph_reciprocity` — edge reciprocity of the DIRECTED citation
  * graph: what share of links are returned? The one-pass companion to
  * `graph_scc`'s ring extraction — reciprocity is the aggregate signal
  * (how much mutual linking exists at all), SCC the structural one (which
  * nodes form rings); a curator reads this number FIRST, because a corpus
  * whose reciprocity sits far above the density baseline is organizing
  * into mutual-citation cliques (link farms, translation mirrors citing
  * each other) and the SCC pass is worth its rounds.
  *
  * Two readouts (Garlaschelli & Loffredo, Phys. Rev. Lett. 93, 2004):
  *
  *   - `reciprocity` r = m/E — the raw share of directed edges whose
  *     reverse also exists (m counts BOTH directions of a mutual pair);
  *   - `rho_gl` ρ = (r − a)/(1 − a) with a = E/(N(N−1)) the link density:
  *     the density-corrected correlation coefficient, because on a dense
  *     graph a high raw r is expected BY CHANCE (a = expected r under
  *     random wiring) — ρ > 0 is genuinely reciprocal wiring, ρ < 0
  *     anti-reciprocal, NULL on the complete graph (no variance: every
  *     possible edge exists, nothing to correlate).
  *
  * Determinism: m, E, N are exact integers (distinct-set semantics,
  * partitioning-independent); r, a are single IEEE divisions and ρ is ONE
  * fixed-form expression over the integer inputs — ρ = (m·D − E²)/(E·(D −
  * E)) with D = N(N−1), algebraically identical to (r − a)/(1 − a) but
  * free of intermediate rounding; products taken in double (the
  * `stats_corr` contract) so nothing overflows BIGINT, every factor cast
  * the same way in both engines, round 6. Range declared: exact while
  * N(N−1) fits BIGINT (N < 3·10⁹) and the double products stay inside
  * 2⁵³-exact territory for the gate corpora.
  *
  * Scale: the shared directed-edge chain (distinct, self-loops dropped —
  * `graph_scc`'s edge set), ONE self-semi-join on uniform (u,v) keys for
  * the mutual count, two one-row aggregates crossed into the readout (the
  * `graph_modularity` bounded one-row BNLJ class). No windows, nothing
  * quadratic, nothing driver-side but the bounded vertex count N. */
object Reciprocity extends graft.QueryModule {

  def reciprocity(s: SparkSession, dir: String): DataFrame = {
    val docs = GraphArtifacts.stagedVertices(s, dir)
    val n = docs.count()
    if (n == 0)
      // the oracle's aggregate CTEs (nn/ec/mu) each produce one row on an
      // empty corpus, so the readout row EXISTS with zero counts and NULL
      // ratios — emit the identical single row (the stats_anova empty
      // convention), not zero rows
      return s.range(1).select(lit(0L).as("n_nodes"), lit(0L).as("n_edges"),
        lit(0L).as("n_mutual"), lit(null).cast("double").as("reciprocity"),
        lit(null).cast("double").as("density"), lit(null).cast("double").as("rho_gl"))
    // staged family rung: the distinct directed-edge shuffle runs once per
    // corpus (shared with graph_scc)
    reciprocityOf(GraphArtifacts.stagedDirectedSimple(s, dir), n)
  }

  /** The readout core over an explicit directed simple edge list (u ≠ v,
    * distinct) — split out so the spec can drive planted topologies (a
    * 2-cycle + tail pins r = 2/3 and ρ = 1/3; a pure DAG pins r = 0 with
    * ρ = −a/(1−a); the complete digraph pins the ρ NULL guard). */
  private[graph] def reciprocityOf(edgesIn: DataFrame, nNodes: Long): DataFrame = {
    val edges = graft.CacheRegistry.track(edgesIn)
    val rev = edges.select(col("v").as("u"), col("u").as("v"))
    val mu = edges.join(rev, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_mutual"))
    val ec = edges.agg(count(lit(1)).as("n_edges"))
    val d = nNodes * (nNodes - 1L) // exact Long; declared N < 3e9
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val rhoNum = dd(col("n_mutual")) * dd(lit(d)) - dd(col("n_edges")) * dd(col("n_edges"))
    val rhoDen = dd(col("n_edges")) * (dd(lit(d)) - dd(col("n_edges")))
    ec.crossJoin(mu).select(
      lit(nNodes).as("n_nodes"), col("n_edges"), col("n_mutual"),
      when(col("n_edges") > 0L,
        round(dd(col("n_mutual")) / dd(col("n_edges")), 6)).as("reciprocity"),
      when(lit(d) > 0L,
        round(dd(col("n_edges")) / dd(lit(d)), 6)).as("density"),
      when(col("n_edges") > 0L && lit(d) > col("n_edges"),
        round(rhoNum / rhoDen, 6)).as("rho_gl"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_reciprocity" -> (reciprocity _))

  val oracles: Map[String, String] = Map(
    "graph_reciprocity" ->
      s"""WITH ${PageRank.graphSqlCtes},
         |de AS (SELECT DISTINCT src AS u, dst AS v FROM e WHERE src <> dst),
         |mu AS (SELECT count(*)::BIGINT AS n_mutual
         | FROM de a JOIN de b ON b.u = a.v AND b.v = a.u),
         |ec AS (SELECT count(*)::BIGINT AS n_edges FROM de),
         |nn AS (SELECT count(*)::BIGINT AS n_nodes,
         |  (count(*) * (count(*) - 1))::BIGINT AS d FROM documents)
         |SELECT n_nodes, n_edges, n_mutual,
         | CASE WHEN n_edges > 0
         |  THEN round(n_mutual::DOUBLE / n_edges::DOUBLE, 6) END AS reciprocity,
         | CASE WHEN d > 0
         |  THEN round(n_edges::DOUBLE / d::DOUBLE, 6) END AS density,
         | CASE WHEN n_edges > 0 AND d > n_edges
         |  THEN round((n_mutual::DOUBLE * d::DOUBLE - n_edges::DOUBLE * n_edges::DOUBLE)
         |    / (n_edges::DOUBLE * (d::DOUBLE - n_edges::DOUBLE)), 6) END AS rho_gl
         |FROM nn, ec, mu""".stripMargin)
}
