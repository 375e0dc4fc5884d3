package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.{cosine, cosineSql}

/** Binary (1-bit) embedding compression + Hamming-prefilter ANN
  * (SURVEY.md §2 #24n / #25h) — the 64×-smaller sibling of
  * `emb_quantize_int8` and the cheapest coarse-search sketch a
  * billion-vector serving stack runs before exact rerank (sign-bit /
  * threshold binarization à la hashing-for-similarity-search surveys;
  * one 64-bit word per vector, XOR+popcount per distance).
  *
  * Binarization scheme: per dimension d, threshold mid_d = the corpus
  * MIDRANGE (mn_d + mx_d)/2 — min/max are order-independent aggregates
  * (no float-sum drift; a per-dim MEAN would be partition-order
  * dependent — the `emb_dim_stats` lesson), and the midrange centers the
  * bit for the uniform-ish synthetic corpus. bit_d = (x_d > mid_d); the
  * 64 bits pack into ONE signed long (bit 63 lands on the sign bit —
  * same two's-complement value in both engines).
  *
  * Scale posture: calibration is one map-side-combinable 2×Dim aggregate
  * (bounded model artifact to the driver, shipped back as a plan
  * literal); encoding is one codegen `aggregate` over the array — no
  * joins, no shuffle. The Hamming search scores the corpus map-side
  * against ≤NQueries broadcast codes; the rank-k cut is
  * WindowGroupLimit-pushed (per-partition top-k BEFORE the exchange), and
  * only |queries|×HamCand candidate rows ever fetch float vectors for the
  * exact-cosine rerank.
  */
object BinaryEmb extends graft.QueryModule {

  val Dim = Kmeans.Dim
  /** Queries = first NQueries vec_ids (the ann-family convention). */
  val NQueries = 10
  /** Hamming-coarse candidates per query fed to the exact rerank. */
  val HamCand = 50
  /** Final exact-cosine neighbors per query. */
  val K = 10

  /** (vec_id, code) — the packed 64-bit sign codes, CacheRegistry-tracked
    * when `track` (both sides of the Hamming join consume it). */
  private def codesFrame(s: SparkSession, dir: String): Option[DataFrame] = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val statCols = (1 to Dim).flatMap(i =>
      Seq(min(element_at(col("emb"), i)), max(element_at(col("emb"), i))))
    val statRow = e.agg(statCols.head, statCols.tail: _*).collect()
    if (statRow.isEmpty || statRow.head.isNullAt(0)) return None
    val r = statRow.head
    val mids = Array.tabulate(Dim)(i => (r.getDouble(2 * i) + r.getDouble(2 * i + 1)) / 2.0)
    val midsLit = typedlit(mids.toSeq)
    // one codegen pass: sum of shiftleft(1L, d) over set bits == the
    // two's-complement packed word (distinct powers — no carries, and bit
    // 63's term IS Long.MinValue, so ANSI arithmetic never overflows)
    val code = aggregate(
      sequence(lit(0), lit(Dim - 1)),
      lit(0L),
      (acc, i) => acc + when(
        element_at(col("emb"), (i + 1).cast("int")) >
          element_at(midsLit, (i + 1).cast("int")),
        call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(lit(0L)))
    Some(e.select(col("vec_id"), code.as("code")))
  }

  /** #24n `emb_binarize`: per-vector packed sign code + population count. */
  def binarize(s: SparkSession, dir: String): DataFrame =
    codesFrame(s, dir) match {
      case None =>
        val e = Tables.embeddings(s, dir)
        e.select(col("vec_id"), lit(0L).as("code"), lit(0L).as("nbits")).filter(lit(false))
      case Some(codes) =>
        codes.select(col("vec_id"), col("code"),
            bit_count(col("code")).cast("long").as("nbits"))
          .orderBy(col("vec_id"))
    }

  /** #25h `ann_hamming_rerank`: XOR+popcount coarse top-[[HamCand]] per
    * query over the packed codes, exact-cosine rerank to top-[[K]]. */
  def hammingRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    codesFrame(s, dir) match {
      case None =>
        Tables.embeddings(s, dir).select(
          col("vec_id").as("q_id"), col("vec_id").as("n_id"),
          lit(0L).as("rank"), lit(0L).as("hamming"), lit(0.0).as("cosine"))
          .filter(lit(false))
      case Some(codesDf) =>
        val codes = graft.CacheRegistry.track(codesDf)
        val q = codes.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("q_id"), col("code").as("q_code"))
        val scored = codes
          .select(col("vec_id").as("n_id"), col("code").as("n_code"))
          .join(broadcast(q), col("q_id") =!= col("n_id"))
          .withColumn("hamming",
            bit_count(col("n_code").bitwiseXOR(col("q_code"))).cast("long"))
        val hw = Window.partitionBy(col("q_id")).orderBy(col("hamming"), col("n_id"))
        val cand = scored.withColumn("hrk", row_number().over(hw))
          .filter(col("hrk") <= HamCand)
          .select("q_id", "n_id", "hamming")
        // exact rerank: only the candidate sliver fetches float vectors
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        val qe = e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
        val candIds = cand.select(col("n_id").as("vec_id")).distinct()
        val ne = e.join(broadcast(candIds), Seq("vec_id"), "left_semi")
          .select(col("vec_id").as("n_id"), col("emb").as("n_emb"))
        val rw = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
        cand.join(broadcast(qe), Seq("q_id"))
          .join(ne, Seq("n_id"))
          .withColumn("cosine", round(cosine(col("q_emb"), col("n_emb")), 4))
          .withColumn("rank", row_number().over(rw).cast("long"))
          .filter(col("rank") <= K)
          .select("q_id", "n_id", "rank", "hamming", "cosine")
          .orderBy(col("q_id"), col("rank"))
    }
  }

  /** The calibration + packing chain, replayed in DuckDB (midrange cal,
    * bit 63 stated as the literal Long.MinValue — DuckDB's `1 << 63`
    * overflows where Java's wraps to the sign bit). */
  private val codesSql: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |x AS (SELECT vec_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS d FROM e),
       |cal AS MATERIALIZED (SELECT d, (min(v) + max(v)) / 2.0 AS mid FROM x GROUP BY d),
       |codes AS MATERIALIZED (SELECT x.vec_id,
       |  bit_or(CASE WHEN x.v > cal.mid THEN
       |    CASE WHEN x.d = $Dim THEN (-9223372036854775807 - 1)
       |         ELSE (1::BIGINT << (x.d - 1)) END
       |  ELSE 0 END)::BIGINT AS code
       | FROM x JOIN cal ON x.d = cal.d GROUP BY x.vec_id)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_binarize" -> (binarize _),
    "ann_hamming_rerank" -> (hammingRerank _))

  val oracles: Map[String, String] = Map(
    "emb_binarize" ->
      s"""WITH $codesSql
         |SELECT vec_id, code, bit_count(code)::BIGINT AS nbits
         |FROM codes ORDER BY vec_id""".stripMargin,
    "ann_hamming_rerank" ->
      s"""WITH $codesSql,
         |q AS (SELECT vec_id AS q_id, code AS q_code FROM codes WHERE vec_id < $NQueries),
         |ham AS (SELECT q.q_id, c.vec_id AS n_id,
         |  bit_count(xor(c.code, q.q_code))::BIGINT AS hamming
         | FROM codes c JOIN q ON c.vec_id <> q.q_id),
         |cand AS (SELECT q_id, n_id, hamming FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hrk
         |  FROM ham) t WHERE hrk <= $HamCand),
         |rer AS (SELECT cand.q_id, cand.n_id, cand.hamming,
         |  round(${cosineSql("qe.emb", "ne.emb")}, 4) AS cosine
         | FROM cand JOIN e qe ON qe.vec_id = cand.q_id
         | JOIN e ne ON ne.vec_id = cand.n_id)
         |SELECT q_id, n_id, rank, hamming, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM rer) t WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin)
}
