package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #30j `mm_retrieval_eval` — caption→media retrieval recall, the audit
  * that PRICES the alignment gate (SURVEY.md §2).
  *
  * `mm_align_score` trusts its encoders to separate aligned from
  * misaligned pairs; THIS op measures whether they actually can — the
  * standard cross-modal benchmark (CLIP's image-text retrieval table,
  * Radford et al. 2021 §3.3; LAION reports the same): within an eval
  * pool, each caption queries the WHOLE media pool by cosine, and the
  * rank of its own true pair is the score. recall@1/5/10 high ⇒ the
  * encoder space is sharp enough that a threshold gate means something;
  * recall near pool-random ⇒ `mm_align_score`'s keeps/drops are noise.
  * The session theme: every gameable artifact gets its ungameable
  * companion — a gate threshold can be tuned, the retrieval rank of the
  * true pair cannot.
  *
  * Pool semantics (declared): doc_id < [[PoolN]]; queries are pool docs
  * with BOTH caption and media vectors non-zero (their true pair
  * exists), candidates are all pool docs with a media vector —
  * zero-caption docs stay as distractors. Encoders are the alignment
  * family's ONE stand-in featVec (`AlignScore.featVec` — swap in the
  * real towers and this audit re-prices them unchanged).
  *
  * Determinism: scores are the family's exact-BIGINT dot/norm cosine
  * (one fixed-form round-4 division); ranks break ties by candidate id;
  * rr = 1/rank is one fixed-form round-6 division of an exact integer.
  *
  * Scale: the eval pool is CONSTANT-bounded by design (the
  * `ann_recall_eval` bounded-probe discipline), so the pool×pool cross
  * is a broadcast of [[PoolN]] ids — bounded-pool BNLJ class — and the
  * sparse dot is one dim-keyed equi-join over pool rows only; the
  * corpus-wide work is the two map-side featVec aggregates, pruned to
  * the pool before anything pairs. */
object RetrievalEval extends graft.QueryModule {

  val PoolN = 100L

  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < PoolN).select(col("doc_id"), col("text"))
    val cap = AlignScore.featVec(docs, expr(s"substring(text, 1, ${AlignScore.CaptionChars})"))
      .withColumnRenamed("w", "wc")
    val med = AlignScore.featVec(docs, expr(s"substring(text, ${AlignScore.CaptionChars + 1})"))
      .withColumnRenamed("w", "wm")
    val capN = cap.groupBy(col("doc_id")).agg(sum(col("wc") * col("wc")).as("ssc"))
    val medN = med.groupBy(col("doc_id")).agg(sum(col("wm") * col("wm")).as("ssm"))
    // queries: true pair exists; candidates: any doc with media
    val q = capN.select(col("doc_id").as("q_id"), col("ssc"))
      .join(medN.select(col("doc_id").as("q_id")), Seq("q_id"), "left_semi")
    val c = medN.select(col("doc_id").as("c_id"), col("ssm"))
    val dots = cap.select(col("doc_id").as("q_id"), col("dim"), col("wc"))
      .join(med.select(col("doc_id").as("c_id"), col("dim"), col("wm")), Seq("dim"))
      .groupBy(col("q_id"), col("c_id")).agg(sum(col("wc") * col("wm")).as("dot"))
    val scored = q.join(broadcast(c), lit(true))
      .join(dots, Seq("q_id", "c_id"), "left")
      .withColumn("score", round(coalesce(col("dot"), lit(0L)).cast("double") /
        (sqrt(col("ssc").cast("double")) * sqrt(col("ssm").cast("double"))), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id"))
    val nCand = c.count()
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("q_id") === col("c_id"))
      .select(col("q_id").as("doc_id"), lit(nCand).as("n_candidates"),
        col("rank").as("true_rank"),
        round(lit(1.0) / col("rank").cast("double"), 6).as("rr"),
        (col("rank") <= 1L).as("hit1"), (col("rank") <= 5L).as("hit5"),
        (col("rank") <= 10L).as("hit10"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_retrieval_eval" -> (retrievalEval _))

  val oracles: Map[String, String] = Map(
    "mm_retrieval_eval" -> {
      val capCte = AlignScore.featSql("cap0", s"substr(text, 1, ${AlignScore.CaptionChars})", "wc")
      val medCte = AlignScore.featSql("med0", s"substr(text, ${AlignScore.CaptionChars + 1})", "wm")
      s"""WITH $capCte,
         |$medCte,
         |cap AS (SELECT * FROM cap0 WHERE doc_id < $PoolN),
         |med AS (SELECT * FROM med0 WHERE doc_id < $PoolN),
         |capn AS (SELECT doc_id, sum(wc * wc)::BIGINT AS ssc FROM cap GROUP BY 1),
         |medn AS (SELECT doc_id, sum(wm * wm)::BIGINT AS ssm FROM med GROUP BY 1),
         |q AS (SELECT capn.doc_id AS q_id, ssc FROM capn
         | WHERE EXISTS (SELECT 1 FROM medn WHERE medn.doc_id = capn.doc_id)),
         |c AS (SELECT doc_id AS c_id, ssm FROM medn),
         |dots AS (SELECT cap.doc_id AS q_id, med.doc_id AS c_id,
         |  sum(cap.wc * med.wm)::BIGINT AS dot
         | FROM cap JOIN med ON cap.dim = med.dim GROUP BY 1, 2),
         |sc AS (SELECT q.q_id, c.c_id,
         |  round(coalesce(dots.dot, 0)::DOUBLE /
         |        (sqrt(q.ssc::DOUBLE) * sqrt(c.ssm::DOUBLE)), 4) AS score
         | FROM q CROSS JOIN c
         | LEFT JOIN dots ON dots.q_id = q.q_id AND dots.c_id = c.c_id),
         |rk AS (SELECT q_id, c_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
         | FROM sc)
         |SELECT q_id AS doc_id,
         | (SELECT count(*) FROM c)::BIGINT AS n_candidates,
         | rank::BIGINT AS true_rank,
         | round(1.0::DOUBLE / rank::DOUBLE, 6) AS rr,
         | (rank <= 1) AS hit1, (rank <= 5) AS hit5, (rank <= 10) AS hit10
         |FROM rk WHERE q_id = c_id ORDER BY doc_id""".stripMargin
    })
}
