package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.QualityClassifier

/** #33k `stream_quality_score` — the trained quality gate
  * (`text_quality_classifier`) deployed on a DOCUMENT STREAM: the
  * model-artifact × streaming composition every production pipeline runs
  * (train offline nightly, score the firehose online). The scorer is
  * [[QualityClassifier.mapSideMargin]] — the whole feature+margin chain
  * folded into ONE stateless per-record expression (bigram signed sums,
  * per-row L2 integerization, aux stats, bias) under the broadcast 67-long
  * model — so it runs under Structured Streaming's constraints with NO
  * shuffle, NO window, NO state: a streaming `select`. Exact-integer
  * margins make stream ≡ batch bit-equality a meaningful claim, and
  * `StreamQualityScoreSpec` pins it: the streaming path over micro-batched
  * doc feeds emits row-identical scores to the registered batch twin.
  *
  * The registered batch twin scores the corpus through the SAME
  * single-pass expression (model memoized per corpus fingerprint), which
  * makes the oracle a triangle: single-pass scorer ≡ the classifier's
  * distributed explode→groupBy→window chain ≡ the DuckDB training replay
  * (the oracle embeds the registered classifier oracle and projects its
  * margin/score/verdict). Plan: scan → project — the scoring pass carries
  * zero exchanges before the output sort. */
object StreamQualityScore extends graft.QueryModule {

  /** Stateless streaming scorer: works on any (doc_id, text) frame,
    * batch or streaming — the expression is the whole deployment. */
  def scoreFrame(docs: DataFrame, w: Array[Long]): DataFrame = {
    graft.functions.HashExprs.register(docs.sparkSession)
    val mi = QualityClassifier.mapSideMargin(w, col("text"))
    docs.select(col("doc_id") +: QualityClassifier.readout(mi): _*)
  }

  /** Batch twin for the gate: train (memoized) on `dir`, score `dir`'s
    * docs through the single-pass expression. */
  def scoreBatch(s: SparkSession, dir: String): DataFrame = {
    val w = QualityClassifier.modelFor(s, dir)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    if (w.isEmpty)
      return docs.limit(0).select(col("doc_id"), lit(0L).as("margin_i"),
        lit(0.0).as("score"), lit(false).as("pred"))
    scoreFrame(docs, w).orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_quality_score" -> (scoreBatch _))

  val oracles: Map[String, String] = Map(
    // the triangle closes through the registered classifier oracle: the
    // single-pass scorer must reproduce the distributed chain's margins,
    // which the classifier oracle replays from first principles
    "stream_quality_score" ->
      s"""SELECT doc_id, margin_i, score, pred
         |FROM (${QualityClassifier.classifierOracle}) t
         |ORDER BY doc_id""".stripMargin)
}
