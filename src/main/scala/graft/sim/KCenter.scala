package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.{cosine, cosineSql}

/** #24k `sample_kcenter` — greedy k-center coreset selection (Gonzalez
  * 1985 farthest-first traversal) over the embedding corpus: the
  * data-SELECTION primitive behind diversity-maximizing training subsets
  * (pick the K points that best cover the embedding space; every point is
  * then within the coreset's covering radius of a chosen center).
  * Complements the family: `sample_*` picks by strata/weights, `emb_mmr`
  * re-ranks a retrieved list, k-center picks the global coverage skeleton.
  *
  * Determinism contract (the oracle replays every round): the seed is
  * vec_id 0 (the `Kmeans` init convention); each of the K-1 remaining
  * rounds picks the not-yet-chosen vector MINIMIZING its max round-6
  * HALF_UP cosine to the chosen set (= farthest first under cosine
  * distance), ties to the lowest vec_id. The final report assigns every
  * vector its nearest center (max round-6 cosine, ties to the lowest
  * center id) — `TopCells`' exact comparator, so the assignment reuses the
  * shared [[CentroidAssign]] path (literal under the size threshold,
  * broadcast relation above — K here is a fixed budget, but the
  * assignment inherits the large-K path for free).
  *
  * Scale: each round is ONE map-side pass (compiled TopCells against the
  * ≤K-vector literal) + a one-row min aggregate; K rounds total, K×Dim
  * doubles on the driver — the bounded-model-artifact contract. Nothing
  * quadratic, nothing driver-side but the coreset itself. K SEQUENTIAL
  * corpus scans are the exact form's cost; at 100 TB the conf-switched
  * batched form (`spark.graft.scale.approx=true`) doubles the pick batch
  * each round — round r selects min(|centers|, K−|centers|) farthest
  * points in ONE TakeOrderedAndProject pass (per-partition heads, never a
  * global sort) — so the whole coreset costs ⌈log₂K⌉ scans instead of
  * K−1. Batched Gonzalez keeps the 2·OPT-flavored coverage guarantee up
  * to the batch factor (each batch is chosen against the same center
  * set, so two batch-mates can be close — the standard over-select
  * trade); `ScaleModeSpec` pins the batched picks to a driver replay and
  * the scan count to ⌈log₂K⌉.
  */
object KCenter extends graft.QueryModule {

  val K = 8

  /** Batched farthest-first rounds (the `scale.approx` path): pick sizes
    * 1, 1, 2, 4, … (doubling), each batch the `b` not-yet-chosen vectors
    * with the LOWEST round-6 max-cosine to the chosen set (ties to the
    * lowest vec_id) — one bounded TakeOrdered pass per round. */
  private[sim] def batchedRounds(e: DataFrame,
      seed: (Long, Array[Double]), k: Int): Vector[(Long, Array[Double])] = {
    graft.functions.HashExprs.register(e.sparkSession)
    var centers = Vector(seed)
    while (centers.size < k) {
      val cents = centers.map(_._2).toArray
      val chosen = centers.map(_._1)
      val b = math.min(centers.size, k - centers.size)
      val picks = CentroidAssign.withBestCell(
          e.filter(!col("vec_id").isin(chosen: _*)), cents)
        .select(round(cosine(col("emb"), col("c_emb")), 6).as("mc"),
          col("vec_id"), col("emb"))
        .orderBy(col("mc"), col("vec_id")).limit(b).collect()
      centers = centers ++ picks.map(r =>
        r.getLong(1) -> r.getSeq[Double](2).toArray)
    }
    centers
  }

  def kcenter(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val n = e.count()
    if (n == 0)
      return e.select(col("vec_id"), lit(0L).as("center_id"),
        lit(false).as("is_center"), lit(0.0).as("cos_center")).filter(lit(false))

    val k = math.min(K.toLong, n).toInt
    val seed = e.filter(col("vec_id") === 0L).select(col("emb")).collect()
    require(seed.length == 1, "seed vec_id 0 must exist (dense-id corpus contract)")
    var centers = Vector(0L -> seed.head.getSeq[Double](0).toArray)
    if (graft.ScaleMode.approx(s))
      centers = batchedRounds(e, centers.head, k)
    while (centers.size < k) {
      val cents = centers.map(_._2).toArray
      val chosen = centers.map(_._1)
      // farthest-first: the best-center cosine IS TopCells' top-1 score —
      // one compiled map-side pass, then a one-row min-struct aggregate
      // (lowest max-cosine wins, ties to the lowest vec_id)
      // the vector rides in the struct as payload: (mc, vid) decide the
      // min (vid is unique, emb never enters the comparison), so one job
      // returns both the picked id and its embedding
      val pick = CentroidAssign.withBestCell(
          e.filter(!col("vec_id").isin(chosen: _*)), cents)
        .select(struct(round(cosine(col("emb"), col("c_emb")), 6).as("mc"),
          col("vec_id").as("vid"), col("emb").as("emb")).as("sc"))
        .agg(min(col("sc"))).head.getStruct(0)
      centers = centers :+ (pick.getLong(1) -> pick.getSeq[Double](2).toArray)
    }
    // the assignment's declared tie-break is LOWEST CENTER ID, but
    // TopCells breaks ties by CELL INDEX — so the final assignment must
    // see the centers in id order, not pick order (a round-6 cosine tie
    // between two centers surfaced exactly this at sf1: the engine
    // answered the earlier-PICKED center, the oracle the lower ID)
    val byId = centers.sortBy(_._1)
    val cents = byId.map(_._2).toArray
    val centerIds = byId.map(_._1)
    // TopCells cell index -> the actual chosen vec_id (typed map literal)
    val idLit = typedlit(centerIds)
    CentroidAssign.withBestCell(e, cents)
      .select(col("vec_id"),
        element_at(idLit, (col("cell") + 1).cast("int")).as("center_id"),
        col("vec_id").isin(centerIds: _*).as("is_center"),
        col("cos_center"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_kcenter" -> (kcenter _))

  /** Unrolled K-1 round replay: centsI grows by the argmin-of-max-cosine
    * pick each round; the final select assigns nearest centers with the
    * TopCells comparator (max round-6 cosine DESC, center id ASC). */
  val oracles: Map[String, String] = {
    val c6 = (a: String, b: String) => s"round(${cosineSql(a, b)}, 6)"
    // every centsI is referenced three times (scorer, NOT-IN guard, union)
    // — without MATERIALIZED DuckDB inlines each reference and the chain
    // re-evaluates 3^K times (measured: minutes at sf0.1, ms materialized)
    val rounds = (1 until K).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e.vec_id, max(${c6("e.emb", "c.c_emb")}) AS mc
         | FROM e CROSS JOIN cents$i c
         | WHERE e.vec_id NOT IN (SELECT c_id FROM cents$i)
         | GROUP BY e.vec_id),
         |p$i AS MATERIALIZED (SELECT vec_id FROM s$i ORDER BY mc ASC, vec_id ASC LIMIT 1),
         |cents${i + 1} AS MATERIALIZED (SELECT * FROM cents$i UNION ALL
         | SELECT vec_id, emb FROM e WHERE vec_id IN (SELECT vec_id FROM p$i))""".stripMargin
    }.mkString(",\n")
    Map("sample_kcenter" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cents1 AS MATERIALIZED (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id = 0),
         |$rounds,
         |ranked AS (SELECT e.vec_id, c.c_id,
         |  row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${c6("e.emb", "c.c_emb")} DESC, c.c_id ASC) AS r,
         |  round(${cosineSql("e.emb", "c.c_emb")}, 4) AS cos_center
         | FROM e CROSS JOIN cents$K c)
         |SELECT vec_id, c_id AS center_id,
         | (vec_id IN (SELECT c_id FROM cents$K)) AS is_center, cos_center
         |FROM ranked WHERE r = 1 ORDER BY vec_id""".stripMargin)
  }
}
