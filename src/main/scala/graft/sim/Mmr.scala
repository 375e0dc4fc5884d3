package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.{cosine, cosineSql}

/** #24i `emb_mmr` — Maximal Marginal Relevance diversified retrieval
  * (Carbonell & Goldstein SIGIR 1998) (SURVEY.md §2).
  *
  * Plain top-k returns [[SelectK]] copies of the same best answer when the
  * corpus has near-duplicates — the RAG failure mode where every retrieved
  * passage says the same thing. MMR re-ranks greedily: step 1 takes the
  * most relevant candidate; each later step takes
  * argmax λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) — relevance minus the
  * worst redundancy against what is already selected.
  *
  * Determinism: relevance and pairwise similarities enter as INTEGER
  * ten-thousandths (round(cos·10⁴) as BIGINT), so each step's score is the
  * exact integer 7·rel₄ − 3·pen₄ (λ=0.7 as 7/10) — a float score of the
  * form 0.7·r − 0.3·p lands exactly on 5th-decimal half-boundaries, where
  * the engines' round() legitimately disagree (the `graph_hits` lesson);
  * integer scores make the (score desc, id) argmax a total order with no
  * rounding anywhere. The displayed score is the single division si/10⁵ —
  * identical IEEE op on identical integers in both engines. The oracle
  * replays the greedy chain as [[SelectK]]−1 UNROLLED SQL steps (the
  * `graph_pagerank` fixed-iteration trick applied to a greedy selection):
  * FULLY hash-checked despite being a sequential algorithm.
  *
  * Scale posture: the only corpus-wide work is the brute top-[[CandK]]
  * candidate cut (broadcast probes, partition-parallel scan, per-query
  * k-row reduction — `ann_topk_brute`'s plan; the LSH/IVF variants swap in
  * sub-linearly). Everything after operates on the |queries|×CandK
  * candidate microframe and its within-query pairs — bounded rows
  * independent of corpus size, no driver-side state. */
object Mmr extends graft.QueryModule {

  val CandK = 16
  val SelectK = 5
  /** λ = [[LambdaNum]]/10 relevance weight; 1−λ = [[MuNum]]/10 penalizes
    * redundancy — integer numerators so scores stay exact BIGINTs. */
  val LambdaNum = 7L
  val MuNum = 3L

  def mmr(s: SparkSession, dir: String): DataFrame =
    mmrBody(s, dir)

  private def mmrBody(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val rel4 = round(cosine(col("q_emb"), col("n_emb")) * 10000).cast("long")
    val w = Window.partitionBy(col("q_id")).orderBy(col("rel4").desc, col("n_id"))
    // persist: the candidate microframe feeds the pair join and every greedy step
    val cand = graft.CacheRegistry.track(
      c.join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("rel4", rel4)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= CandK)
        .select(col("q_id"), col("n_id"), col("rel4"), col("n_emb")))
    val pairs = graft.CacheRegistry.track(
      cand.select(col("q_id"), col("n_id").as("pa"), col("n_emb").as("ea"))
        .join(cand.select(col("q_id"), col("n_id").as("pb"), col("n_emb").as("eb")),
          Seq("q_id"))
        .filter(col("pa") =!= col("pb"))
        .select(col("q_id"), col("pa"), col("pb"),
          round(cosine(col("ea"), col("eb")) * 10000).cast("long").as("pcos4")))
    val slim = cand.select(col("q_id"), col("n_id"), col("rel4"))
    // step 1: pure relevance (si in λ-scaled 10^-5 units, like later steps)
    val step1 = slim
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rel4").desc, col("n_id"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), lit(1L).as("step"), col("n_id").as("sel_id"),
        (col("rel4") * 10L).as("si"))
    // Materialize the CORPUS-SIZED work (the brute candidate cut feeding
    // `cand`'s cache) and the pair microframe OUTSIDE the interpreted
    // window (r16, r15 ADVICE): the gate below is keyed on the constant
    // ≤10·CandK greedy working set, and before this split the first gated
    // action pulled the whole corpus scan into the codegen-off window —
    // bypassing InterpretedLoop's ≤2M-row guard on any large corpus run
    // without the scale-posture conf. Step 1 is an eager checkpoint (its
    // scan fills `cand`'s cache under codegen); the pair join then runs
    // over that cache.
    var selected = step1.localCheckpoint()
    pairs.count()
    // greedy-step frames are ≤ |queries|·CandK rows by construction — the
    // graph-loop interpreted gate applies to the STEP LOOP only (janino
    // compiles SelectK unique step plans per run otherwise); scale posture
    // unchanged: the gate is off under spark.graft.scale.approx (r15)
    graft.InterpretedLoop.run(s, 10L * CandK) {
    for (k <- 2 to SelectK) {
      val selKeys = selected.select(col("q_id").as("sq"), col("sel_id").as("sid"))
      val remaining = slim.join(selKeys,
          col("q_id") === col("sq") && col("n_id") === col("sid"), "left_anti")
      val pen = remaining
        .join(pairs.withColumnRenamed("pa", "n_id"), Seq("q_id", "n_id"))
        .join(selected.select(col("q_id"), col("sel_id").as("pb")), Seq("q_id", "pb"))
        .groupBy(col("q_id"), col("n_id"), col("rel4"))
        .agg(max(col("pcos4")).as("pen4"))
      val next = pen
        .withColumn("si", lit(LambdaNum) * col("rel4") - lit(MuNum) * col("pen4"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("si").desc, col("n_id"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), lit(k.toLong).as("step"), col("n_id").as("sel_id"),
          col("si"))
      // lineage cut: each step references `selected` twice — without the
      // checkpoint the plan doubles per iteration (the graph-op pattern)
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected
      .select(col("q_id"), col("step"), col("sel_id"),
        (col("si").cast("double") / 100000.0).as("score"))
      .orderBy(col("q_id"), col("step"))
    }
  }

  private def oracleSqlText: String = {
    val cos = cosineSql("q.emb", "c.emb")
    val pcs = cosineSql("a.n_emb", "b.n_emb")
    val steps = (2 to SelectK).map { k =>
      val prev = (1 until k).map(i => s"s$i").mkString(" UNION ALL SELECT * FROM ")
      s"""prev$k AS (SELECT * FROM $prev),
         |s$k AS (SELECT q_id, $k::BIGINT AS step, n_id AS sel_id, si FROM (
         |  SELECT c.q_id, c.n_id,
         |   ($LambdaNum * c.rel4 - $MuNum * max(p.pcos4))::BIGINT AS si,
         |   row_number() OVER (PARTITION BY c.q_id
         |     ORDER BY $LambdaNum * c.rel4 - $MuNum * max(p.pcos4) DESC, c.n_id) AS rn
         |  FROM cand c
         |  JOIN prev$k s ON s.q_id = c.q_id
         |  JOIN pair p ON p.q_id = c.q_id AND p.pa = c.n_id AND p.pb = s.sel_id
         |  WHERE NOT EXISTS (SELECT 1 FROM prev$k x
         |    WHERE x.q_id = c.q_id AND x.sel_id = c.n_id)
         |  GROUP BY c.q_id, c.n_id, c.rel4) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |scored AS (
       | SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |  CAST(round(($cos) * 10000) AS BIGINT) AS rel4,
       |  c.emb AS n_emb
       | FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id),
       |cand AS (SELECT q_id, n_id, rel4, n_emb FROM (
       | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel4 DESC, n_id) AS rk
       | FROM scored) t WHERE rk <= $CandK),
       |pair AS (SELECT a.q_id, a.n_id AS pa, b.n_id AS pb,
       |  CAST(round(($pcs) * 10000) AS BIGINT) AS pcos4
       | FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id != b.n_id),
       |s1 AS (SELECT q_id, 1::BIGINT AS step, n_id AS sel_id,
       |  (rel4 * 10)::BIGINT AS si FROM (
       | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel4 DESC, n_id) AS rn
       | FROM cand) t WHERE rn = 1),
       |$steps
       |SELECT q_id, step, sel_id, si::DOUBLE / 100000.0 AS score
       |FROM (SELECT * FROM ${(1 to SelectK).map(i => s"s$i").mkString(" UNION ALL SELECT * FROM ")}) u
       |ORDER BY q_id, step""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_mmr" -> (mmr _))

  val oracles: Map[String, String] = Map(
    "emb_mmr" -> oracleSqlText)
}
