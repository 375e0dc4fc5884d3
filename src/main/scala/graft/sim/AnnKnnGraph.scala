package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.DedupQueries.cosine
import graft.functions.HashExprs

/** #25n `ann_knn_graph` — k-NN GRAPH CONSTRUCTION via NN-descent (Dong,
  * Moses & Li, WWW 2011: "Efficient k-nearest neighbor graph construction
  * for generic similarity measures") (SURVEY.md §2; r13 verdict task #2).
  *
  * The one ANN artifact class the engine could not build: every vector's
  * k=[[K]] approximate nearest neighbors — the graph index modern
  * retrieval stacks (HNSW, NSG) are built on, and the neighbor structure
  * SemDeDup-style semantic dedup and dataset-cartography analyses consume
  * at corpus scale. The six existing ann_* surfaces answer top-k for a
  * bounded QUERY set; this materializes the all-nodes neighbor graph.
  *
  * Algorithm (deterministic NN-descent):
  *   - Round 0: LSH-bucketed start — the family's 16 hyperplane sign bits
  *     regrouped as 2 bands × 8 bits (the 4-bit bands of `ann_lsh_bucketed`
  *     pair too many collisions for a corpus SELF-join; 8-bit keys keep the
  *     pair mass near-linear), per-bucket occupancy capped at [[MaxBucket]]
  *     (the dedup `MaxBandBucket` discipline — overflowing buckets are
  *     near-duplicate mass, exact dedup's job) — UNIONED with Dong et al.'s
  *     random initialization made deterministic: K seed edges per node by
  *     golden-ratio arithmetic ((id·2654435761 + j·40503) mod n, the
  *     `graph_pagerank` edge convention), which guarantees every node
  *     enters round 0 with ~K candidates even where LSH buckets are sparse
  *     (a small or high-entropy corpus) — descent cannot climb out of a
  *     disconnected start. Colliding pairs score round-4 cosine; each node
  *     keeps its top-[[SearchK]] by (cosine desc, id) — the internal
  *     search width is 2K (the efSearch > k practice; measured, the wide
  *     internal list is what lifts recall 0.73 → 0.95+).
  *   - Rounds 1..[[Rounds]]: neighbor-of-neighbor refinement. B(i) =
  *     knn(i) ∪ rknn(i) with BOTH lists capped at [[SearchK]] by the same
  *     total order (Dong et al.'s reverse sampling made deterministic), so
  *     the join fan is ≤ (2·SearchK)² per node — 4·SearchK²·n candidate
  *     mass per round, linear by construction (the honest bound; SURVEY §2
  *     #25n states the same one). Candidates re-score and each node
  *     re-keeps its top-SearchK; only the final round publishes the
  *     top-[[K]].
  *
  * Every decision uses the (round-4 cosine desc, id asc) total order, so
  * the whole recurrence is bit-stable under any partitioning and replays
  * in DuckDB as unrolled CTEs (MATERIALIZED per round — inlined CTEs
  * re-expand exponentially, the `graph_louvain` lesson). The scale lever
  * for round-0 bucket density is band width (more sign bits per band as
  * the corpus grows) — the `ann_lsh_bucketed` posture note, inherited.
  *
  * Nodes isolated in LSH space start with no neighbors and can still be
  * ADOPTED via reverse edges in later rounds; nodes whose candidate set
  * stays empty emit no rows (declared — an empty neighbor list, not a
  * fabricated one). */
object AnnKnnGraph extends graft.QueryModule {

  val K = 8
  val SearchK = 16
  val Rounds = 5
  val MaxBucket = 256

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cosine"))
  }

  /** Explicit invalidation for the staged knn-graph artifact. */
  def clearKnnCache(): Unit = graft.StagedArtifacts.clear("sim/knnGraph")

  /** The graph is a session-staged ARTIFACT (the family-ladder discipline):
    * NN-descent is the engine's most expensive single build (~6.6 s at
    * sf0.1), and `ann_recall_eval` re-runs the registered query as its
    * seventh audited surface — without staging, the whole descent ran
    * twice per session. One materialization per (corpus, fingerprint);
    * supersede evicts on rewrite. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphRung(s, dir).orderBy(col("q_id"), col("rank"))

  /** The staged rung WITHOUT the presentation sort — consumers that
    * re-join / re-aggregate the edge set (`ann_graph_search`'s beam
    * expand, `dedup_knn_semantic`'s edge filter) read this form: their
    * own operators destroy row order anyway, but a plan built on the
    * sorted accessor pays the rung-wide range exchange + sort per read
    * (the optimizer cannot eliminate a sort below a persist boundary). */
  private[graft] def knnGraphRung(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"sim/knnGraph#$dir",
      graft.sources.TableFingerprint.of(s, s"$dir/embeddings.parquet")) {
      buildKnnGraph(s, dir).localCheckpoint(true)
    }

  private def buildKnnGraph(s: SparkSession, dir: String): DataFrame = {
    HashExprs.register(s)
    // the sign bits come from the staged `sim/bandIndex` rung (shared
    // with the four other LSH consumers); the embedding frame read off
    // the same rung feeds every round's candidate re-score
    val idx = SimArtifacts.stagedBandIndex(s, dir)
    val e = graft.CacheRegistry.track(idx.select(col("vec_id"), col("emb")))
    val b4 = idx.select(col("vec_id"), col("bands").as("b"))
    val banded = b4.select(col("vec_id"), posexplode(array(
        col("b").getItem(0) * 16 + col("b").getItem(1),
        col("b").getItem(2) * 16 + col("b").getItem(3))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bkey"))
    val hot = banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") > MaxBucket)
      .select(col("band"), col("bkey"))
    val cool = banded.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    // deterministic seed sample (the paper's random init): K arithmetic
    // targets per node; ids pointing at absent vec_ids drop in the score
    // join (fewer seeds, never a fabricated neighbor). n is the bounded
    // driver scalar of the family (oracle-mirrored as a scalar subquery).
    val n = e.count()
    val seeds =
      if (n == 0) e.select(col("vec_id").as("a_id"), col("vec_id").as("b_id")).limit(0)
      else e.select(col("vec_id"), explode(sequence(lit(1), lit(K))).as("j"))
        .select(col("vec_id").as("a_id"),
          ((col("vec_id") * 2654435761L + col("j") * 40503L) % n).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"))
    val pairs0 = cool.select(col("band"), col("bkey"), col("vec_id").as("a_id"))
      .join(cool.select(col("band"), col("bkey"), col("vec_id").as("b_id")),
        Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .unionByName(seeds)
      .distinct()
    val scored0 = pairs0
      .join(e.select(col("vec_id").as("a_id"), col("emb").as("a_emb")), Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("emb").as("b_emb")), Seq("b_id"))
      .withColumn("cosine", round(cosine(col("a_emb"), col("b_emb")), 4))
      .select(col("a_id"), col("b_id"), col("cosine"))
    val dir0 = scored0.select(col("a_id").as("q_id"), col("b_id").as("n_id"), col("cosine"))
      .unionByName(scored0.select(col("b_id").as("q_id"), col("a_id").as("n_id"), col("cosine")))
    graft.InterpretedLoop.run(s, e.count()) {
      var knn = topK(dir0, SearchK).localCheckpoint(true)
      for (_ <- 1 to Rounds) {
        // reverse lists capped at SearchK by the same total order
        val wR = Window.partitionBy(col("n_id")).orderBy(col("cosine").desc, col("q_id"))
        val rknn = knn.withColumn("rr", row_number().over(wR)).filter(col("rr") <= SearchK)
          .select(col("n_id").as("q_id"), col("q_id").as("n_id"))
        val b = knn.select(col("q_id"), col("n_id")).unionByName(rknn).distinct()
        val cand = b.select(col("q_id"), col("n_id").as("mid"))
          .join(b.select(col("q_id").as("mid"), col("n_id")), Seq("mid"))
          .filter(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"))
          .unionByName(knn.select(col("q_id"), col("n_id")))
          .distinct()
        val scored = cand
          .join(e.select(col("vec_id").as("q_id"), col("emb").as("a_emb")), Seq("q_id"))
          .join(e.select(col("vec_id").as("n_id"), col("emb").as("b_emb")), Seq("n_id"))
          .withColumn("cosine", round(cosine(col("a_emb"), col("b_emb")), 4))
          .select(col("q_id"), col("n_id"), col("cosine"))
        knn = topK(scored, SearchK).localCheckpoint(true)
      }
      // emit the OUTPUT k: the search width (SearchK) is wider than the
      // published list, the standard efSearch > k practice (the rung
      // stores this unordered; the query entry sorts)
      knn.filter(col("rank") <= K)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_knn_graph" -> (knnGraph _))

  val oracles: Map[String, String] = Map(
    "ann_knn_graph" -> {
      val cos = graft.dedup.DedupQueries.cosineSql("ea.emb", "eb.emb")
      val rounds = (1 to Rounds).map { k =>
        s"""rv$k AS (SELECT n_id AS q_id, q_id AS n_id FROM (
           |  SELECT q_id, n_id, row_number() OVER (PARTITION BY n_id
           |   ORDER BY cosine DESC, q_id) AS rr FROM n${k - 1}) t WHERE rr <= $SearchK),
           |b$k AS MATERIALIZED (SELECT q_id, n_id FROM n${k - 1}
           |  UNION SELECT q_id, n_id FROM rv$k),
           |c$k AS (SELECT x.q_id, y.n_id FROM b$k x JOIN b$k y ON x.n_id = y.q_id
           |  WHERE x.q_id != y.n_id
           | UNION SELECT q_id, n_id FROM n${k - 1}),
           |s$k AS (SELECT c.q_id, c.n_id, round($cos, 4) AS cosine
           | FROM c$k c JOIN e ea ON ea.vec_id = c.q_id JOIN e eb ON eb.vec_id = c.n_id),
           |n$k AS MATERIALIZED (SELECT q_id, n_id, rank, cosine FROM (
           |  SELECT q_id, n_id, cosine, row_number() OVER (PARTITION BY q_id
           |   ORDER BY cosine DESC, n_id)::BIGINT AS rank FROM s$k) t
           | WHERE rank <= $SearchK)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${HashExprs.hyperplaneChainSql},
         |k8 AS MATERIALIZED (SELECT vec_id,
         |  sum(CASE WHEN band = 0 THEN bkey * 16 WHEN band = 1 THEN bkey ELSE 0 END)::BIGINT AS b0,
         |  sum(CASE WHEN band = 2 THEN bkey * 16 WHEN band = 3 THEN bkey ELSE 0 END)::BIGINT AS b1
         | FROM bd GROUP BY vec_id),
         |b8 AS MATERIALIZED (SELECT vec_id, 0 AS band, b0 AS bkey FROM k8
         | UNION ALL SELECT vec_id, 1, b1 FROM k8),
         |oc AS (SELECT band, bkey FROM b8 GROUP BY band, bkey
         | HAVING count(*) <= $MaxBucket),
         |cool AS (SELECT b8.* FROM b8 JOIN oc USING (band, bkey)),
         |nn AS (SELECT count(*)::BIGINT AS n FROM e),
         |sd AS (SELECT least(a_id, b_id) AS a_id, greatest(a_id, b_id) AS b_id FROM (
         |  SELECT vec_id AS a_id,
         |   (vec_id * 2654435761 + j * 40503) % (SELECT n FROM nn) AS b_id
         |  FROM e CROSS JOIN (SELECT unnest(range(1, ${K + 1})) AS j) js) t
         | WHERE a_id != b_id),
         |p0 AS (SELECT a_id, b_id FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM cool a JOIN cool b USING (band, bkey)
         |  WHERE a.vec_id < b.vec_id
         |  UNION SELECT a_id, b_id FROM sd) u GROUP BY 1, 2),
         |s0 AS (SELECT a_id, b_id, round($cos, 4) AS cosine
         | FROM p0 JOIN e ea ON ea.vec_id = p0.a_id JOIN e eb ON eb.vec_id = p0.b_id),
         |d0 AS (SELECT a_id AS q_id, b_id AS n_id, cosine FROM s0
         | UNION ALL SELECT b_id, a_id, cosine FROM s0),
         |n0 AS MATERIALIZED (SELECT q_id, n_id, rank, cosine FROM (
         | SELECT q_id, n_id, cosine, row_number() OVER (PARTITION BY q_id
         |  ORDER BY cosine DESC, n_id)::BIGINT AS rank FROM d0) t
         | WHERE rank <= $SearchK),
         |$rounds
         |SELECT q_id, n_id, rank, cosine FROM n$Rounds WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin
    })
}
