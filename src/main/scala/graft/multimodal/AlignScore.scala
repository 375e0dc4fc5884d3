package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #30i `mm_align_score` — cross-modal alignment gate (the CLIP-score
  * filter of LAION-5B §3.1, Schuhmann et al. 2022) (SURVEY.md §2).
  *
  * The single most consequential multimodal curation op: a crawled
  * (media, caption) pair is worth training on only if the caption
  * actually DESCRIBES the media — LAION kept pairs whose CLIP
  * image-text cosine cleared a threshold and discarded the rest, and
  * every successor pipeline runs the same gate. Here the pair is the
  * document row itself: the CAPTION is the first [[CaptionChars]] chars
  * (the alt-text stand-in), the MEDIA payload is the remainder of the
  * text (the mm convention: payloads are UTF-8 bytes, decode is a
  * deterministic stand-in — `MultimodalQueries` §30).
  *
  * Encoders: both sides embed with the signed feature-hashing text
  * encoder (`text_hash_embed`'s Weinberger convention, 40-bit md5 token
  * hash → [[Dims]] signed buckets) — the deterministic stand-in for the
  * shared CLIP space. THE REAL-ENCODER SEAM: in production the media
  * side replaces `featVec(payload-decode)` with a Pandas-UDF CLIP image
  * tower over the binary column (same (doc_id, dim, w) output shape, the
  * `BinaryPipeline` batching); the caption side keeps a text tower. The
  * gate's join/threshold/audit shape is encoder-agnostic.
  *
  * Alignment = cosine of the two vectors: dot and both squared norms are
  * exact BIGINT sums (order-independent), ONE fixed-form division
  * round-4. A pair whose media decodes to nothing (text ≤ 80 chars) or
  * whose caption hashes to the zero vector scores NULL and is DROPPED —
  * undecodable media is exactly what a curation gate must reject.
  * `src_keep_pct` is the per-source audit rate (exact integer ratio,
  * round 4) — the number a curator reads to spot a crawl source whose
  * captions are systematically junk.
  *
  * Scale: tokenize-explode per side, two map-side-combinable (doc, dim)
  * aggregates, dot = one (doc_id, dim) equi-join + per-doc sum, readout
  * = three per-doc equi-joins on uniform keys; the audit rate is a
  * window over |source| partitions. No all-pairs, nothing driver-side. */
object AlignScore extends graft.QueryModule {

  val CaptionChars = 80
  val AlignTau = 0.35
  val Dims = 64L

  /** Signed feature-hash vector of a text expression — the shared
    * stand-in encoder (text_hash_embed's exact hash convention); shared
    * with `mm_retrieval_eval` (the alignment family's one encoder). */
  private[multimodal] def featVec(docs: DataFrame, textExpr: Column): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(lower(textExpr), "\\s+")).as("t"))
      .filter(col("t") =!= "")
    val hSql = "cast(conv(substring(md5(t), 1, 10), 16, 10) as bigint)"
    tok.select(col("doc_id"), expr(s"$hSql % $Dims").as("dim"),
        expr(s"(($hSql div $Dims) % 2) * 2 - 1").as("sign"))
      .groupBy(col("doc_id"), col("dim")).agg(sum(col("sign")).as("w"))
      .filter(col("w") =!= 0)
  }

  def alignScore(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.CacheRegistry.track(
      Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")))
    val cap = featVec(docs, expr(s"substring(text, 1, $CaptionChars)"))
      .withColumnRenamed("w", "wc")
    // the media payload's decoded token stream — REAL-ENCODER SEAM (a
    // CLIP image tower replaces this featVec in production; shape kept)
    val med = featVec(docs, expr(s"substring(text, ${CaptionChars + 1})"))
      .withColumnRenamed("w", "wm")
    val dot = cap.join(med, Seq("doc_id", "dim"))
      .groupBy(col("doc_id")).agg(sum(col("wc") * col("wm")).as("dot"))
    val ssc = cap.groupBy(col("doc_id")).agg(sum(col("wc") * col("wc")).as("ssc"))
    val ssm = med.groupBy(col("doc_id")).agg(sum(col("wm") * col("wm")).as("ssm"))
    val bySource = Window.partitionBy(col("source"))
    docs.select(col("doc_id"), col("source"))
      .join(ssc, Seq("doc_id"), "left")
      .join(ssm, Seq("doc_id"), "left")
      .join(dot, Seq("doc_id"), "left")
      .withColumn("align_score", when(col("ssc") > 0 && col("ssm") > 0,
        round(coalesce(col("dot"), lit(0L)).cast("double") /
          (sqrt(col("ssc").cast("double")) * sqrt(col("ssm").cast("double"))), 4)))
      .withColumn("kept", coalesce(col("align_score") >= AlignTau, lit(false)))
      .withColumn("src_keep_pct",
        round(sum(col("kept").cast("long")).over(bySource).cast("double") /
          count(lit(1)).over(bySource).cast("double"), 4))
      .select(col("doc_id"), col("source"), col("align_score"), col("kept"),
        col("src_keep_pct"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_align_score" -> (alignScore _))

  private[multimodal] def featSql(cte: String, textExpr: String, w: String): String =
    s"""$cte AS (
       | SELECT doc_id, ('0x' || substr(md5(t), 1, 10))::BIGINT % $Dims AS dim,
       |  sum((('0x' || substr(md5(t), 1, 10))::BIGINT // $Dims) % 2 * 2 - 1)::BIGINT AS $w
       | FROM (SELECT doc_id, unnest(regexp_split_to_array(lower($textExpr), '\\s+')) AS t
       |       FROM documents) x
       | WHERE t != '' GROUP BY 1, 2
       | HAVING sum((('0x' || substr(md5(t), 1, 10))::BIGINT // $Dims) % 2 * 2 - 1) != 0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_align_score" ->
      s"""WITH ${featSql("cap", s"substr(text, 1, $CaptionChars)", "wc")},
         |${featSql("med", s"substr(text, ${CaptionChars + 1})", "wm")},
         |dt AS (SELECT c.doc_id, sum(c.wc * m.wm)::BIGINT AS dot
         | FROM cap c JOIN med m ON c.doc_id = m.doc_id AND c.dim = m.dim
         | GROUP BY 1),
         |nc AS (SELECT doc_id, sum(wc * wc)::BIGINT AS ssc FROM cap GROUP BY 1),
         |nm AS (SELECT doc_id, sum(wm * wm)::BIGINT AS ssm FROM med GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |  CASE WHEN nc.ssc > 0 AND nm.ssm > 0 THEN
         |   round(coalesce(dt.dot, 0)::DOUBLE / (sqrt(nc.ssc::DOUBLE) * sqrt(nm.ssm::DOUBLE)), 4)
         |  END AS align_score
         | FROM documents d
         | LEFT JOIN nc ON nc.doc_id = d.doc_id
         | LEFT JOIN nm ON nm.doc_id = d.doc_id
         | LEFT JOIN dt ON dt.doc_id = d.doc_id),
         |kp AS (SELECT *, coalesce(align_score >= $AlignTau, false) AS kept FROM sc)
         |SELECT doc_id, source, align_score, kept,
         | round(sum(CASE WHEN kept THEN 1 ELSE 0 END) OVER (PARTITION BY source)::DOUBLE /
         |       count(*) OVER (PARTITION BY source)::DOUBLE, 4) AS src_keep_pct
         |FROM kp ORDER BY doc_id""".stripMargin)
}
