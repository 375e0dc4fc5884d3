package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #28ae `text_ngram_novelty` — per-document CONTRIBUTION: what share of
  * a doc's 3-shingles appear here FIRST (in doc_id = ingest order)? The
  * dedup family reports what is duplicated (`dedup_spans`,
  * `text_boilerplate` list the shared content); novelty reports what
  * each document ADDS — the number a dedup-aware mixer weights by
  * (training on a doc whose shingles all arrived earlier teaches the
  * model nothing new even if no single pair crosses the near-dup
  * threshold: the "stitched from seen parts" case pairwise dedup is
  * structurally blind to). `is_derivative` (novelty < [[DerivativeMax]])
  * is the gate form.
  *
  * Shingle space is EXACTLY the dedup family's (`shingles3` / its SQL
  * twin — distinct per doc, the shared whitespace convention), so a
  * novelty number and a near-dup verdict always talk about the same
  * units. First-seen is min(doc_id) per shingle: exact distinct-set
  * integer semantics, partitioning-independent; rate = one fixed-form
  * division (round 6); a shingle-less doc reads counts 0 with NULL rate
  * and is NOT flagged (no evidence either way, declared).
  *
  * Scale: one corpus scan explodes distinct shingles map-side (the
  * compiled expression — no posexplode self-join); first-seen is a
  * map-side-combinable min keyed by shingle; the verdict join is
  * shingle-keyed against the 1-row-per-shingle min table (hash join —
  * high-df boilerplate shingles fan out rows but the build side stays one
  * row per key); one per-doc re-aggregate. Nothing quadratic. */
object NgramNovelty extends graft.QueryModule {

  val DerivativeMax = 0.5

  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val docs = Tables.documents(s, dir)
    val sh = graft.CacheRegistry.track(
      docs.select(col("doc_id"),
        explode(graft.functions.HashExprs.shingles3(col("text"))).as("g")))
    val first = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val per = sh.join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    val rate = round(col("n_novel").cast("double") / col("n_grams"), 6)
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0, rate).as("novelty_rate"),
        coalesce(when(col("n_grams") > 0, rate < DerivativeMax), lit(false))
          .as("is_derivative"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_ngram_novelty" -> (ngramNovelty _))

  val oracles: Map[String, String] = Map(
    "text_ngram_novelty" ->
      s"""WITH d AS (SELECT doc_id, ${graft.dedup.DedupQueries.shinglesSql} AS sh
         | FROM documents),
         |s AS (SELECT doc_id, unnest(sh) AS g FROM d),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM s GROUP BY g),
         |p AS (SELECT s.doc_id, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
         | FROM s JOIN f USING (g) GROUP BY s.doc_id)
         |SELECT doc_id,
         | coalesce(p.n_grams, 0)::BIGINT AS n_grams,
         | coalesce(p.n_novel, 0)::BIGINT AS n_novel,
         | CASE WHEN p.n_grams > 0
         |  THEN round(p.n_novel::DOUBLE / p.n_grams::DOUBLE, 6) END AS novelty_rate,
         | coalesce(CASE WHEN p.n_grams > 0
         |  THEN round(p.n_novel::DOUBLE / p.n_grams::DOUBLE, 6) < $DerivativeMax END,
         |  false) AS is_derivative
         |FROM documents LEFT JOIN p USING (doc_id)
         |ORDER BY doc_id""".stripMargin)
}
