package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{DedupClusters, DedupQueries}

/** Training-corpus builder: the LLM-data-pipeline operators composed into
  * one job, the way CrashPipeline composes the reference ETL surface.
  *
  *   quality gate (incl. repetition metrics) → exact dedup → near-dup
  *   cluster canonicalization → benchmark decontamination → deterministic
  *   stratified sampling → sequence packing
  *
  * Each stage is the same logic as its standalone oracle-checked operator;
  * the composition stays declarative except the (iterative) cluster step.
  * Scale shape: the corpus is filtered map-side first (cheapest cut), the
  * only shuffles are the dedup groupBy, the sparse near-dup machinery and
  * the per-shard packing window; the benchmark set rides along as a
  * broadcast.
  */
object CorpusPipeline extends graft.QueryModule {

  /** Stages 1-5 (quality gate → exact dedup → near-dup canonicalization →
    * decontamination → deterministic sample): the cleaned corpus both
    * products consume. */
  def cleaned(s: SparkSession, dir: String,
      minWords: Long = 10, maxStopRatio: Double = 0.6,
      maxTopWordFrac: Double = 0.5, maxDupBigramFrac: Double = 0.9,
      benchmarkMaxOverlap: Long = 20, sampleBucketOf100: Long = 80): DataFrame = {
    graft.functions.HashExprs.register(s)

    // 1. quality gate (map-side only): length/stopword shape + Gopher-style
    // repetition cut via the compiled RepStats expression
    val ws = split(col("text"), "\\s+")
    val stop = size(filter(ws, w => w.isin("the", "a", "of", "and", "in"))).cast("double")
    val rs = graft.functions.HashExprs.repStats(col("text"))
    val quality = Tables.documents(s, dir)
      .withColumn("n_words", size(ws).cast("long"))
      .withColumn("rs", rs)
      .filter(col("n_words") >= minWords &&
        stop / col("n_words") <= maxStopRatio &&
        col("rs.top_word_n").cast("double") / col("rs.n_words") <= maxTopWordFrac &&
        (col("rs.n_bigrams") === 0 ||
          col("rs.dup_bigram_n").cast("double") / col("rs.n_bigrams") <= maxDupBigramFrac))
      .drop("rs")

    // 2. exact dedup: keep the min doc_id per content hash
    val keepers = quality
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exactDeduped = quality.join(keepers, "doc_id")

    // 3. near-dup canonicalization: drop non-canonical cluster members
    val clusters = DedupClusters.clusters(s, dir)
      .filter(col("doc_id") =!= col("canonical"))
      .select(col("doc_id"))
    val nearDeduped = exactDeduped.join(clusters, Seq("doc_id"), "left_anti")

    // 4. decontamination vs the benchmark shingle set (broadcast)
    val sh = DedupQueries.shingles(col("text"))
    val bench = Tables.documents(s, dir).filter(col("doc_id") < 10)
      .select(explode(DedupQueries.shingles(col("text"))).as("shingle"))
      .agg(array_sort(collect_set(col("shingle"))).as("bench_sh"))
    val clean = nearDeduped
      .withColumn("sh", sh)
      .crossJoin(broadcast(bench))
      .filter(col("doc_id") >= 10 &&
        size(array_intersect(col("sh"), col("bench_sh"))) < benchmarkMaxOverlap)
      .drop("sh", "bench_sh")

    // 5. deterministic sample (content-stable hash bucket)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long") % 100
    clean.filter(bucket < sampleBucketOf100)
      .select("doc_id", "text", "lang", "source", "n_chars", "n_words")
  }

  /** Training product: stage 6, sequence packing — map each surviving doc
    * to its chunk span in the fixed-window token stream
    * (TextQueries.packSpans — one shared definition of the contract). */
  def build(s: SparkSession, dir: String): DataFrame =
    TextQueries.packSpans(cleaned(s, dir), "n_words")
      .drop("end_pos")
      .orderBy("doc_id")

  /** Retrieval product: the same cleaned corpus split into overlapping
    * `TextQueries.chunk` windows for a RAG/embedding index — stages 1-5
    * shared, no packing pass or training sort paid. */
  def buildRetrievalIndex(s: SparkSession, dir: String): DataFrame = {
    val survivors = cleaned(s, dir).select("doc_id")
    TextQueries.chunk(s, dir)
      .join(survivors, "doc_id")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Both products in ONE job: `cleaned` (including its iterative cluster
    * machinery) runs once and is checkpointed; both consumers read the
    * materialized survivors. This is the seam a combined nightly build
    * uses — invoked separately the products recompute instead (stateless
    * by default; at warehouse scale the checkpoint becomes a parquet
    * staging table). */
  def buildBoth(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = cleaned(s, dir).localCheckpoint(true)
    val packed = TextQueries.packSpans(c, "n_words")
      .drop("end_pos")
      .orderBy("doc_id")
    val retrieval = TextQueries.chunk(s, dir)
      .join(c.select("doc_id"), "doc_id")
      .orderBy(col("doc_id"), col("chunk_idx"))
    (packed, retrieval)
  }

  /** #28i `text_pipeline_report`: per-stage attrition of the corpus build —
    * the operational artifact every training-data pipeline ships beside its
    * corpus: how many documents and words each gate cost, in order. One row
    * per stage with (n_in, n_dropped, n_out, words_dropped); telescoping
    * invariants (n_out(i) = n_in(i+1), n_out(5) = |cleaned|) are spec-pinned
    * against `cleaned` itself.
    *
    * Shape: ONE corpus scan computes every stage verdict per document — the
    * stage-2 keeper is derived among stage-1 survivors with a window over
    * the content hash (no second scan), the cluster and benchmark sets join
    * in exactly as the pipeline consumes them, and the first failing stage
    * wins (a doc dropped at quality never reaches the dedup counters). The
    * final cumulative report is arithmetic over SIX aggregate rows. Every
    * stage predicate is the same expression `cleaned` applies, so the
    * report cannot drift from the pipeline it describes. */
  def pipelineReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.HashExprs.register(s)
    val ws = split(col("text"), "\\s+")
    val stop = size(filter(ws, w => w.isin("the", "a", "of", "and", "in"))).cast("double")
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), size(ws).cast("long").as("n_words"),
        stop.as("stop_n"), graft.functions.HashExprs.repStats(col("text")).as("rs"))
      .withColumn("quality",
        col("n_words") >= 10 && col("stop_n") / col("n_words") <= 0.6 &&
          col("rs.top_word_n").cast("double") / col("rs.n_words") <= 0.5 &&
          (col("rs.n_bigrams") === 0 ||
            col("rs.dup_bigram_n").cast("double") / col("rs.n_bigrams") <= 0.9))
    // stage-2 keeper among stage-1 survivors: min surviving doc_id per hash
    val keeper = min(when(col("quality"), col("doc_id")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text"))))
    val nonCanon = DedupClusters.clusters(s, dir)
      .filter(col("doc_id") =!= col("canonical"))
      .select(col("doc_id"), lit(true).as("near_drop"))
    val bench = Tables.documents(s, dir).filter(col("doc_id") < 10)
      .select(explode(DedupQueries.shingles(col("text"))).as("shingle"))
      .agg(array_sort(collect_set(col("shingle"))).as("bench_sh"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long") % 100
    val verdicts = base
      .withColumn("keeper", keeper)
      .join(nonCanon, Seq("doc_id"), "left")
      .crossJoin(broadcast(bench))
      .select(col("doc_id"), col("n_words"),
        when(!col("quality"), "1_quality")
          .when(col("doc_id") =!= col("keeper"), "2_exact_dedup")
          .when(coalesce(col("near_drop"), lit(false)), "3_neardup")
          .when(col("doc_id") < 10 ||
            size(array_intersect(DedupQueries.shingles(col("text")), col("bench_sh"))) >= 20,
            "4_decontaminate")
          .when(bucket >= 80, "5_sample")
          .otherwise("kept").as("stage"))
    val counts = verdicts.groupBy(col("stage"))
      .agg(count(lit(1)).as("n"), sum(col("n_words")).as("wsum"))
    val stages = Seq((1L, "1_quality"), (2L, "2_exact_dedup"), (3L, "3_neardup"),
      (4L, "4_decontaminate"), (5L, "5_sample")).toDF("stage_ord", "stage")
    // total = |documents| (every doc gets exactly one verdict) — counted
    // off the raw table, NOT verdicts, which would re-run the whole
    // sketch/cluster subtree a second time just to count its rows
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("total_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage_ord"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    stages.join(counts, Seq("stage"), "left")
      .select(col("stage_ord"), col("stage"),
        coalesce(col("n"), lit(0L)).as("n_dropped"),
        coalesce(col("wsum"), lit(0L)).as("words_dropped"))
      .crossJoin(broadcast(total))
      .withColumn("n_in", col("total_docs") - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .select(col("stage_ord"), col("stage"), col("n_in"), col("n_dropped"),
        col("n_out"), col("words_dropped"))
      .orderBy(col("stage_ord"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_pipeline_report" -> (pipelineReport _))

  private val w = "regexp_split_to_array(text, '\\s+')"

  val oracles: Map[String, String] = Map(
    "text_pipeline_report" ->
      s"""WITH RECURSIVE
         |${DedupClusters.clustersCteSql},
         |ws0 AS (SELECT doc_id, $w AS ws, text FROM documents),
         |wrd AS (SELECT doc_id, unnest(ws) AS wd FROM ws0),
         |wc AS (SELECT doc_id, wd, count(*) AS n FROM wrd GROUP BY 1, 2),
         |wstat AS (SELECT doc_id, sum(n)::BIGINT AS n_words, max(n)::BIGINT AS top_word_n
         |  FROM wc GROUP BY 1),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |   i -> ws[i] || ' ' || ws[i+1])) AS b FROM ws0),
         |bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
         |bstat AS (SELECT doc_id, sum(n)::BIGINT AS n_bigrams,
         |  sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS dup_bigram_n
         |  FROM bc GROUP BY 1),
         |q AS (SELECT ws0.doc_id, ws0.text, wstat.n_words,
         |  (wstat.n_words >= 10
         |   AND len(list_filter(ws0.ws, x -> list_contains(['the','a','of','and','in'], x)))::DOUBLE
         |       / wstat.n_words <= 0.6
         |   AND wstat.top_word_n::DOUBLE / wstat.n_words <= 0.5
         |   AND (COALESCE(bstat.n_bigrams, 0) = 0
         |        OR bstat.dup_bigram_n::DOUBLE / bstat.n_bigrams <= 0.9)) AS quality
         | FROM ws0 JOIN wstat USING (doc_id) LEFT JOIN bstat USING (doc_id)),
         |k AS (SELECT doc_id, n_words, quality,
         |  min(CASE WHEN quality THEN doc_id END) OVER (PARTITION BY md5(text)) AS keeper
         | FROM q),
         |bench AS (SELECT list_distinct(flatten(list(sh))) AS bsh FROM d WHERE doc_id < 10),
         |noncanon AS (SELECT doc_id FROM clust WHERE doc_id != canonical),
         |verdict AS (
         | SELECT k.doc_id, k.n_words,
         |  CASE WHEN NOT k.quality THEN '1_quality'
         |       WHEN k.doc_id != k.keeper THEN '2_exact_dedup'
         |       WHEN nc.doc_id IS NOT NULL THEN '3_neardup'
         |       WHEN k.doc_id < 10 OR len(list_intersect(d.sh, bench.bsh)) >= 20
         |         THEN '4_decontaminate'
         |       WHEN ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 6))::BIGINT % 100 >= 80
         |         THEN '5_sample'
         |       ELSE 'kept' END AS stage
         | FROM k JOIN d USING (doc_id) CROSS JOIN bench
         |   LEFT JOIN noncanon nc ON nc.doc_id = k.doc_id),
         |counts AS (SELECT stage, count(*)::BIGINT AS n, sum(n_words)::BIGINT AS wsum
         | FROM verdict GROUP BY stage),
         |stages AS (SELECT * FROM (VALUES (1::BIGINT, '1_quality'), (2, '2_exact_dedup'),
         |  (3, '3_neardup'), (4, '4_decontaminate'), (5, '5_sample')) t(stage_ord, stage)),
         |tot AS (SELECT count(*)::BIGINT AS total_docs FROM documents),
         |j AS (SELECT s.stage_ord, s.stage, COALESCE(c.n, 0)::BIGINT AS n_dropped,
         |  COALESCE(c.wsum, 0)::BIGINT AS words_dropped
         | FROM stages s LEFT JOIN counts c USING (stage)),
         |rep AS (SELECT stage_ord, stage,
         |  ((SELECT total_docs FROM tot) - COALESCE(sum(n_dropped) OVER (
         |    ORDER BY stage_ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_in,
         |  n_dropped, words_dropped FROM j)
         |SELECT stage_ord, stage, n_in, n_dropped, (n_in - n_dropped)::BIGINT AS n_out,
         |  words_dropped
         |FROM rep ORDER BY stage_ord""".stripMargin)
}
