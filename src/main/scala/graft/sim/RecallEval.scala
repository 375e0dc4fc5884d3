package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #25k `ann_recall_eval` — recall@k of EVERY approximate ANN variant the
  * engine ships against the exact brute-force ground truth, per query: THE
  * evaluation an ANN deployment runs before trusting an index (Faiss/ScaNN
  * ship it as a first-class tool), covering all eight surfaces whose
  * recall/latency/memory trade drives index choice — `ann_ivf` (inverted
  * file), `ann_lsh_bucketed` (hyperplane bands), `ann_multiprobe`
  * (Hamming-1 probe fan-out), `ann_pq` (ADC over 8-byte codes),
  * `ann_ivfpq` (IVFADC residual codes), `ann_hamming_rerank` (1-bit codes
  * + exact rerank), `ann_knn_graph` (NN-descent neighbor lists,
  * probe-restricted), `ann_graph_search` (the beam walk OVER that graph).
  * recall = |approx-top-k ∩ exact-top-k| / k.
  *
  * Drift-proof BY CONSTRUCTION: each method row re-runs the variant's OWN
  * registered query, and the DuckDB twin embeds the variant's OWN
  * registered oracle as a subquery (the `etl_run_report` one-source-of-
  * truth discipline) — the audit cannot disagree with the indexes it
  * audits, and since every chain is deterministic the recall numbers are
  * FULLY oracle-checked (re-proving cross-engine agreement of all nine
  * operators in one query). k is reported per query (=|exact top-k|, 10 on
  * any corpus of ≥11 vectors) so the ratio is well-defined on degenerate
  * corpora.
  *
  * Scale: the nine sub-pipelines inherit their own operators' posture
  * (map-side chains, broadcast query sides); each intersection is a
  * left-semi join on (q_id, n_id) — |queries|·k rows — and the readout an
  * 8·|queries|-row aggregate. Evaluation adds nothing super-linear. */
object RecallEval extends graft.QueryModule {

  /** Every approximate variant the engine ships, with its registered
    * query fn and its DuckDB oracle (composed verbatim — except the two
    * GRAPH-BASED methods, whose shared knn-graph chain is hoisted once as
    * the `kgfull` MATERIALIZED CTE so the descent recurrence — the
    * heaviest chain the engine replays — is not computed twice in one
    * audit statement; their method SQL reads that outer relation, with
    * `ann_graph_search`'s beam chain spliced through the same
    * [[AnnGraphSearch.searchOverSql]] text its own registered oracle
    * uses).
    *
    * `knngraph` is the all-nodes NN-descent graph restricted to the probe
    * set — the restriction happens BEFORE any broadcast (the graph is
    * corpus-sized; the other surfaces are probe-bounded by construction).
    * Its neighbor lists are k=[[AnnKnnGraph.K]]=8 long against the exact
    * top-10 ground truth, so its recall@10 ceiling is 0.8 BY DESIGN — the
    * honest readout of an 8-neighbor index audited at 10, not a defect.
    * `graphsearch` is the SEARCH over that same graph: its beam escapes
    * the probe's own list, so its recall reads ≥ the knngraph row
    * (spec-pinned) with no 0.8 ceiling. */
  val Methods: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    // the two graph-based rows read the UNSORTED forms (r16): the audit's
    // left-semi intersection destroys row order anyway, and a sort below a
    // persist boundary is invisible to EliminateSorts — the registered
    // accessors would pay a rung-wide range exchange + sort per audit for
    // nothing. Row SETS are bit-identical to the registered queries (the
    // same frames below their presentation sorts — the `graph_modularity`
    // precedent), so the composed oracle is unchanged.
    ("graphsearch",
      (s: SparkSession, dir: String) => AnnGraphSearch.searchRows(s, dir),
      AnnGraphSearch.searchOverSql("kgfull")),
    ("hamming", BinaryEmb.queries("ann_hamming_rerank"),
      BinaryEmb.oracles("ann_hamming_rerank")),
    ("ivf", AnnIvf.queries("ann_ivf"), AnnIvf.oracles("ann_ivf")),
    ("ivfpq", AnnIvfPq.queries("ann_ivfpq"), AnnIvfPq.oracles("ann_ivfpq")),
    ("knngraph",
      (s: SparkSession, dir: String) =>
        AnnKnnGraph.knnGraphRung(s, dir).filter(col("q_id") < 10),
      "SELECT q_id, n_id FROM kgfull WHERE q_id < 10"),
    ("lsh", AnnLsh.queries("ann_lsh_bucketed"), AnnLsh.oracles("ann_lsh_bucketed")),
    ("multiprobe", AnnLsh.queries("ann_multiprobe"), AnnLsh.oracles("ann_multiprobe")),
    ("pq", AnnPq.queries("ann_pq"), AnnPq.oracles("ann_pq")))

  def recallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = graft.CacheRegistry.track(
      SimQueries.annTopkBrute(s, dir).select(col("q_id"), col("n_id")))
    val kPerQ = exact.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
    def recallOf(method: String, appr: DataFrame): DataFrame = {
      // both sides are |queries|·k rows (the eval set is bounded by
      // design) — broadcast them so the intersection never sort-merges
      val hits = exact
        .join(broadcast(appr.select(col("q_id"), col("n_id"))),
          Seq("q_id", "n_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      kPerQ.join(broadcast(hits), Seq("q_id"), "left")
        .select(lit(method).as("method"), col("q_id"), col("k"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("k"), 4))
    }
    Methods.map { case (m, fn, _) => recallOf(m, fn(s, dir)) }
      .reduce(_.unionByName(_)).orderBy(col("method"), col("q_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_recall_eval" -> (recallEval _))

  val oracles: Map[String, String] = Map(
    "ann_recall_eval" -> {
      val methodCtes = Methods.map { case (m, _, sql) =>
        s"""m_$m AS (SELECT q_id, n_id FROM (\n$sql\n) v_$m),
           |h_$m AS (SELECT b.q_id, count(*)::BIGINT AS n_hit
           | FROM brute b JOIN m_$m a ON b.q_id = a.q_id AND b.n_id = a.n_id
           | GROUP BY b.q_id)""".stripMargin
      }.mkString(",\n")
      val readouts = Methods.map { case (m, _, _) =>
        s"""SELECT '$m' AS method, kq.q_id, kq.k,
           | coalesce(h.n_hit, 0)::BIGINT AS n_hit,
           | round(coalesce(h.n_hit, 0) / kq.k::DOUBLE, 4) AS recall
           |FROM kq LEFT JOIN h_$m h USING (q_id)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH brute AS MATERIALIZED (SELECT q_id, n_id FROM (
         |${SimQueries.oracles("ann_topk_brute")}
         |) vb),
         |kq AS MATERIALIZED (SELECT q_id, count(*)::BIGINT AS k FROM brute GROUP BY q_id),
         |kgfull AS MATERIALIZED (SELECT q_id, n_id FROM (
         |${AnnKnnGraph.oracles("ann_knn_graph")}
         |) kgv),
         |$methodCtes
         |$readouts
         |ORDER BY method, q_id""".stripMargin
    })
}
