package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28k Corpus-LM fluency scoring (SURVEY.md §2).
  *
  * The CCNet recipe (Wenzek et al. 2020): score every document's fluency
  * under a language model trained on the corpus itself and gate on the
  * score — word salad, boilerplate explosions, and mojibake surface as
  * high surprisal even when the `text_quality` surface ratios look fine.
  * The model here is the classic add-one bigram LM; the score is average
  * per-bigram surprisal.
  *
  * The determinism trick that makes an LM score FULLY oracle-checkable:
  * surprisal is measured in WHOLE BITS. For the smoothed probability
  * (cbg+1)/(cw+V), the bit count floor(log2((cw+V)/(cbg+1))) equals
  * `length(bin(den div num)) − 1` — pure integer arithmetic (for den ≥
  * num, den//num lands in [2^k, 2^(k+1)) exactly when the real quotient
  * does), available verbatim in both engines, no libm log anywhere. Whole
  * bits also have the right resolution for a FILTER: quality gates
  * threshold at coarse granularity anyway, and integer bit sums are
  * order-independent under any partitioning.
  *
  * Scale: the model is two map-side-combinable counts over the exploded
  * bigram stream (the tracked cache feeds both model builds and the
  * scoring join); scoring joins on uniform keys (bigram, then first-word)
  * and re-aggregates per doc. V rides as a bounded driver scalar (vocab
  * count — the PageRank `n` pattern), mirrored as a scalar subquery in
  * the oracle. At 100 TB the model tables are vocabulary-sized, far
  * smaller than the corpus, and nothing is driver-side but V. */
object LmScore extends graft.QueryModule {

  val SuspectBits = 4.5

  private[text] def docFp(s: SparkSession, dir: String): String =
    graft.sources.TableFingerprint.of(s, s"$dir/documents.parquet")

  /** Explicit invalidation for the LM staging ladder. */
  def clearLmCache(): Unit = graft.StagedArtifacts.clear("text/lm")

  /** Session-scoped staged bigram stream — (doc_id, split, bg, w1), the
    * ONE corpus scan + explode the whole LM family shares (r13 verdict
    * task #8). `split` is `sample_split`'s exact md5-bucket CASE computed
    * map-side at stage time so `text_lm_eval` reads the same rung as
    * `text_lm_score` (which ignores the column). Same lifecycle contract
    * as the dedup/graph ladders (supersede evicts; [[clearLmCache]]). */
  private[graft] def stagedBigrams(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"text/lmBigrams#$dir", docFp(s, dir)) {
      graft.functions.HashExprs.register(s)
      val bucket = conv(substring(md5(col("text")), 1, 6), 16, 10)
        .cast("long") % SampleSplit.Buckets
      val splitC = when(bucket < SampleSplit.TrainThreshold, "train")
        .when(bucket < SampleSplit.ValThreshold, "val")
        .otherwise("test")
      Tables.documents(s, dir)
        .select(col("doc_id"), splitC.as("split"),
          explode(graft.functions.HashExprs.bigramsAll(col("text"))).as("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .localCheckpoint(true)
    }

  /** Session-scoped staged per-doc LM scores — `text_lm_score`'s complete
    * output frame, staged so its three registered consumers
    * (`text_perplexity_buckets`, `sample_curriculum`, and the score query
    * itself) run the add-one model ONCE per (corpus, fingerprint) per
    * session instead of once per consumer. */
  private[graft] def stagedScored(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"text/lmScored#$dir", docFp(s, dir)) {
      val inst = stagedBigrams(s, dir)
      val v = inst.select(substring_index(col("bg"), " ", -1).as("w2")).distinct().count()
      val cbg = inst.groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
      val cw = inst.groupBy(col("w1")).agg(count(lit(1)).as("cw"))
      val scored = inst.join(cbg, Seq("bg")).join(cw, Seq("w1"))
        .withColumn("bits", length(bin(expr(s"(cw + ${v}L) div (cbg + 1L)"))) - 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).cast("long").as("total_bits"))
      val avg = round(col("total_bits").cast("double") / col("n_bigrams"), 4)
      Tables.documents(s, dir).select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("total_bits"), lit(0L)).as("total_bits"),
          when(col("n_bigrams") > 0, avg).as("avg_bits"),
          coalesce(when(col("n_bigrams") > 0, avg >= SuspectBits), lit(false)).as("is_suspect"))
        .localCheckpoint(true)
    }

  def lmScore(s: SparkSession, dir: String): DataFrame =
    stagedScored(s, dir).orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_score" -> (lmScore _))

  private val w = "regexp_split_to_array(text, '\\s+')"

  val oracles: Map[String, String] = Map(
    "text_lm_score" ->
      s"""WITH ww AS (SELECT doc_id, $w AS w FROM documents),
         |bgx AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         | FROM ww),
         |i AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bgx),
         |m1 AS (SELECT bg, count(*) AS cbg FROM i GROUP BY bg),
         |m2 AS (SELECT w1, count(*) AS cw FROM i GROUP BY w1),
         |v AS (SELECT count(DISTINCT split_part(bg, ' ', 2))::BIGINT AS vc FROM i),
         |sc AS (SELECT i.doc_id,
         |  length(bin((m2.cw + (SELECT vc FROM v)) // (m1.cbg + 1))) - 1 AS bits
         | FROM i JOIN m1 USING (bg) JOIN m2 USING (w1)),
         |d AS (SELECT doc_id, count(*) AS n_bigrams, sum(bits)::BIGINT AS total_bits
         | FROM sc GROUP BY doc_id)
         |SELECT ww.doc_id,
         | coalesce(d.n_bigrams, 0)::BIGINT AS n_bigrams,
         | coalesce(d.total_bits, 0)::BIGINT AS total_bits,
         | CASE WHEN d.n_bigrams > 0
         |   THEN round(d.total_bits::DOUBLE / d.n_bigrams, 4) END AS avg_bits,
         | coalesce(CASE WHEN d.n_bigrams > 0
         |   THEN round(d.total_bits::DOUBLE / d.n_bigrams, 4) >= $SuspectBits END,
         |  false) AS is_suspect
         |FROM ww LEFT JOIN d ON d.doc_id = ww.doc_id
         |ORDER BY ww.doc_id""".stripMargin)
}
