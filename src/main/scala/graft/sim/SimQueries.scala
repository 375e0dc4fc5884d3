package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.{cosine, cosineSql}

/** Similarity search (SURVEY.md §2 #24-25).
  *
  * Brute force is the exactness baseline: broadcast the (small) query set
  * against the corpus, score map-side, take per-query top-k. At 100 TB the
  * corpus side stays partition-parallel with no shuffle until the final
  * per-query k-row reduction (the window below collapses to a tiny
  * aggregation because rows were pre-filtered per partition by rank). The
  * LSH-bucketed variant (AnnLsh.scala) is the sub-linear scale path.
  */
object SimQueries extends graft.QueryModule {

  /** #24 Brute-force cosine top-10 for the first 10 vectors as queries. */
  def annTopkBrute(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cosine", round(cosine(col("q_emb"), col("n_emb")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "n_id", "rank", "cosine")
      .orderBy(col("q_id"), col("rank"))
  }

  /** #24b Hard-negative mining for contrastive training (the DPR-style
    * recipe, arXiv:2004.04906: the negatives that teach an embedding model
    * the most are nearest neighbors that are NOT semantically equivalent to
    * the anchor). The trained kmeans cells provide the semantic-equivalence
    * blocks: per anchor, the top-k highest-cosine vectors from OTHER
    * clusters are emitted. Candidates are scored map-side against the
    * broadcast anchor set (no corpus shuffle before the per-anchor k-row
    * reduction), and the cluster exclusion reuses the same memoized model
    * every other kmeans consumer shares — the oracle replays the identical
    * Lloyd chain, so the query is fully hash-checked. */
  val HardNegK = 5

  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val asgn = Kmeans.assignments(s, dir)
    val q = asgn.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("cluster").as("q_cluster"), col("emb").as("q_emb"))
    val c = asgn.select(col("vec_id").as("n_id"), col("cluster").as("n_cluster"), col("emb").as("n_emb"))
    val scored = c.join(broadcast(q), col("q_cluster") =!= col("n_cluster"))
      .withColumn("cosine", round(cosine(col("q_emb"), col("n_emb")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= HardNegK)
      .select("q_id", "n_id", "rank", "cosine")
      .orderBy(col("q_id"), col("rank"))
  }

  /** #24g Filtered vector search — top-k cosine among the vectors whose
    * LABEL matches the query's, the shape every retrieval stack actually
    * serves ("nearest products in THIS category") and the classic weak
    * point of post-hoc ANN filtering (filter-after-search starves k when
    * the predicate is selective). Here the predicate joins in as an
    * equi-key alongside the broadcast (label IS the join key), so the
    * corpus is pre-filtered BEFORE scoring: the scan reads only matching
    * rows, no candidate starvation, and the plan story is
    * predicate-before-distance rather than distance-then-predicate. At
    * 100 TB, with label a partition column, this prunes partitions
    * outright. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("n_id"), col("label"), col("embedding").as("n_emb"))
    val scored = c.join(broadcast(q), Seq("label"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", round(cosine(col("q_emb"), col("n_emb")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "label", "n_id", "rank", "cosine")
      .orderBy(col("q_id"), col("rank"))
  }

  /** #24h Radius (range) vector search — every corpus vector within cosine
    * ≥ [[RangeTau]] of each probe, the "all sufficiently similar" query
    * retrieval and dedup tooling serve beside top-k (k-NN bounds the COUNT,
    * range bounds the QUALITY — a probe with no close neighbors correctly
    * returns nothing instead of k mediocre hits). Exact by construction:
    * broadcast probes, one map-side cosine filter over the corpus — no
    * window, no shuffle at all before the presentation sort, so at 100 TB
    * it is a pure partition-parallel scan (the sub-linear swaps are the
    * declared-recall LSH/IVF paths, `ann_lsh_bucketed`/`ann_ivf`). */
  val RangeTau = 0.25

  def annRangeSearch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cosine", round(cosine(col("q_emb"), col("n_emb")), 4))
      .filter(col("cosine") >= RangeTau)
      .select("q_id", "n_id", "cosine")
      .orderBy(col("q_id"), col("n_id"))
  }

  /** #23d Semantic benchmark decontamination — `text_decontaminate`'s
    * modern EMBEDDING-space twin (surface n-gram matching misses
    * paraphrased and translated benchmark leakage; cosine against the
    * benchmark's embeddings catches it): every corpus vector is scored
    * against the broadcast benchmark set (the first [[ContamBenchN]]
    * vec_ids stand in for the embedded eval set), and anything with max
    * cosine ≥ [[ContamTau]] is flagged contaminated, with the closest
    * benchmark item named for the audit trail (ties to lowest id).
    * Scale: identical posture to `ann_range_search` — broadcast benchmark,
    * ONE map-side cosine pass over the corpus, the per-vector argmax is a
    * window over ≤ benchmark-size rows; the corpus never shuffles. */
  val ContamBenchN = 20
  val ContamTau = 0.6

  def embDecontaminate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val bench = e.filter(col("vec_id") < ContamBenchN)
      .select(col("vec_id").as("bench_id"), col("embedding").as("b_emb"))
    val corpus = e.filter(col("vec_id") >= ContamBenchN)
      .select(col("vec_id"), col("embedding").as("c_emb"))
    val scored = corpus.join(broadcast(bench), lit(true))
      .withColumn("cosine", round(cosine(col("c_emb"), col("b_emb")), 4))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("bench_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bench_id").as("closest_bench"),
        col("cosine").as("max_cosine"),
        (col("cosine") >= ContamTau).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_decontaminate" -> (embDecontaminate _),
    "ann_topk_brute" -> (annTopkBrute _),
    "ann_filtered" -> (annFiltered _),
    "ann_range_search" -> (annRangeSearch _),
    "emb_hard_negatives" -> (hardNegatives _))

  val oracles: Map[String, String] = Map(
    "emb_decontaminate" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         | SELECT c.vec_id, b.vec_id AS bench_id,
         |  round(${cosineSql("c.emb", "b.emb")}, 4) AS cosine
         | FROM e c JOIN e b ON c.vec_id >= $ContamBenchN AND b.vec_id < $ContamBenchN)
         |SELECT vec_id, bench_id AS closest_bench, cosine AS max_cosine,
         | (cosine >= $ContamTau) AS contaminated
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |   ORDER BY cosine DESC, bench_id) AS rn FROM scored) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "emb_hard_negatives" ->
      s"""WITH ${Kmeans.chainSql},
         |scored AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |  round(${cosineSql("q.emb", "c.emb")}, 4) AS cosine
         | FROM asgn q JOIN asgn c ON q.vec_id < 10 AND q.cluster != c.cluster)
         |SELECT q_id, n_id, rank, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM scored) t
         |WHERE rank <= $HardNegK ORDER BY q_id, rank""".stripMargin,
    "ann_topk_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |  round(${cosineSql("q.emb", "c.emb")}, 4) AS cosine
         | FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id)
         |SELECT q_id, n_id, rank, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM scored) t
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "ann_range_search" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
         |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         | round(${cosineSql("q.emb", "c.emb")}, 4) AS cosine
         |FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id
         |WHERE round(${cosineSql("q.emb", "c.emb")}, 4) >= $RangeTau
         |ORDER BY q_id, n_id""".stripMargin,
    "ann_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         | SELECT q.vec_id AS q_id, q.label, c.vec_id AS n_id,
         |  round(${cosineSql("q.emb", "c.emb")}, 4) AS cosine
         | FROM e q JOIN e c ON q.vec_id < 10 AND q.label = c.label
         |  AND q.vec_id != c.vec_id)
         |SELECT q_id, label, n_id, rank, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM scored) t
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)
}
