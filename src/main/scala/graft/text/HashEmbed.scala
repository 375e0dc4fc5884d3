package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #28n `text_hash_embed` — feature-hashing document vectors
  * (Weinberger et al., ICML 2009) (SURVEY.md §2).
  *
  * The vocabulary-free featurizer that turns raw text into fixed-width
  * vectors with NO trained model and NO vocabulary table — the bridge
  * between the text side of the pipeline and the embedding operators
  * (`emb_*`/`ann_*` consume exactly this shape when no neural encoder is
  * in the loop, e.g. the DSIR-style importance models). Each token hashes
  * to one of [[Dims]] buckets; the signed-sum trick (a second hash bit
  * decides ±1) keeps collisions unbiased, which is what makes hashed
  * features usable at small widths.
  *
  * Output is the SPARSE long format (doc_id, dim, w_raw, w_norm) — raw
  * weights are exact BIGINTs; the L2 normalizer is √(Σw²) of exact
  * integers with one fixed-form division per row, so the result is
  * hash-checkable (an ARRAY output would compare structurally anyway;
  * long format also IS the shape a sparse downstream join wants).
  *
  * Scale posture: tokenize-explode is the only row multiplier; the
  * (doc, dim) signed count is ONE map-side-combinable aggregate; the norm
  * window partitions per doc over ≤ Dims rows. The 40-bit md5-prefix
  * token hash is the shared `text_ngram_freq`/`dedup` convention —
  * identical in both engines. */
object HashEmbed extends graft.QueryModule {

  val Dims = 64L

  def hashEmbed(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("t"))
      .filter(col("t") =!= "")
    val hSql = "cast(conv(substring(md5(t), 1, 10), 16, 10) as bigint)"
    val weights = tok
      .select(col("doc_id"), expr(s"$hSql % $Dims").as("dim"),
        expr(s"(($hSql div $Dims) % 2) * 2 - 1").as("sign"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign")).as("w_raw"))
      .filter(col("w_raw") =!= 0)
    val byDoc = Window.partitionBy(col("doc_id"))
    weights
      .withColumn("ss", sum(col("w_raw") * col("w_raw")).over(byDoc))
      .select(col("doc_id"), col("dim"), col("w_raw"),
        round(col("w_raw").cast("double") / sqrt(col("ss").cast("double")), 4).as("w_norm"))
      .orderBy(col("doc_id"), col("dim"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_hash_embed" -> (hashEmbed _))

  val oracles: Map[String, String] = Map(
    "text_hash_embed" ->
      s"""WITH tok AS (
         | SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
         | FROM documents),
         |w AS (SELECT doc_id,
         |  ('0x' || substr(md5(t), 1, 10))::BIGINT % $Dims AS dim,
         |  sum((('0x' || substr(md5(t), 1, 10))::BIGINT // $Dims) % 2 * 2 - 1)::BIGINT AS w_raw
         | FROM tok WHERE t != '' GROUP BY 1, 2),
         |f AS (SELECT *, sum(w_raw * w_raw) OVER (PARTITION BY doc_id) AS ss
         | FROM w WHERE w_raw != 0)
         |SELECT doc_id, dim, w_raw,
         | round(w_raw::DOUBLE / sqrt(ss::DOUBLE), 4) AS w_norm
         |FROM f ORDER BY doc_id, dim""".stripMargin)
}
