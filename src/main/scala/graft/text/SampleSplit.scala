package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28m Leakage-safe train/val/test splitting (SURVEY.md §2).
  *
  * The split step every training-corpus build ends with, done the way
  * evaluation integrity requires: the split key is the CONTENT hash, not
  * the row id, so byte-identical documents can never straddle splits — the
  * classic eval-set contamination bug (a random or id-hashed split puts one
  * copy of a duplicated page in train and another in test, and the model is
  * graded on memorized text). Near-dup leakage is `text_decontaminate` /
  * `dedup_clusters`' job upstream; this operator closes the exact-dup hole
  * at assignment time.
  *
  * Mechanics: bucket = md5(text) prefix in the exact 2^20 space (the
  * `sample_temperature` convention — 16^6 / 2^20 is exact, so the bucket is
  * unbiased), split thresholds are integer literals (90% / 5% / 5%).
  * Content-stable hashing makes the assignment reproducible on any engine
  * and any cluster size, and a re-run after appending new documents never
  * reassigns an old one — the property that keeps eval sets frozen across
  * corpus versions (rand()/TABLESAMPLE have neither).
  *
  * Scale posture: pure map-side codegen projection — one corpus scan, zero
  * shuffles at any size (the trailing orderBy is presentation only). */
object SampleSplit extends graft.QueryModule {

  val Buckets = 1048576L            // 2^20
  val TrainThreshold = 943718L      // round(0.90 * 2^20)
  val ValThreshold = 996147L        // round(0.95 * 2^20)

  def split(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 6), 16, 10)
      .cast("long") % Buckets
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainThreshold, "train")
          .when(col("bucket") < ValThreshold, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_split" -> (split _))

  val oracles: Map[String, String] = Map(
    "sample_split" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |  ('0x' || substr(md5(text), 1, 6))::BIGINT % $Buckets AS bucket
         | FROM documents)
         |SELECT doc_id, lang,
         | CASE WHEN bucket < $TrainThreshold THEN 'train'
         |      WHEN bucket < $ValThreshold THEN 'val'
         |      ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin)
}
