package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** DSIR-style importance resampling (SURVEY.md §2 #28j) — data SELECTION,
  * the step after filtering/dedup in a training pipeline: from a raw pool,
  * keep the documents whose hashed-n-gram distribution looks most like a
  * target corpus (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", arXiv:2302.03169 — hashed n-gram bag models of
  * target vs raw, rank raw docs by importance weight, resample).
  *
  * Features are word-bigram occurrences hashed into [[Buckets]] buckets
  * (the paper's hashed n-gram generative model) via the repo's
  * content-stable md5-prefix bucket, so the oracle replays bit-for-bit.
  * Here target = the English sub-corpus and the pool = everything else:
  * "find the most target-like documents in the rest" — the paper's
  * select-web-like-Wikipedia shape on this corpus's strongest
  * distributional split.
  *
  * Weight is the paper's log-likelihood-ratio Σ_g [log p̂_t(h(g)) −
  * log p̂_r(h(g))] made integer-exact so both engines hash identically:
  * with add-one smoothing, rank by the common-denominator numerator
  * difference  Σ_g [(cnt_t(b)+1)·(N_r+B) − (cnt_r(b)+1)·(N_t+B)]  — each
  * term is the sign of p̂_t(b) − p̂_r(b) scaled by the positive constant
  * (N_t+B)(N_r+B), a monotone per-bucket surrogate computed entirely in
  * int64 (no transcendentals, no summation-order drift; the determinism
  * checklist bans log). Top quarter of the pool by weight wins,
  * doc_id-ascending on ties. At corpus scale the counts would move to the
  * paper's log form in doubles (int64 products overflow past ~1e9·1e9);
  * at oracle scale the integer form is exact in both engines.
  *
  * Scale: the model is one explode + B-key map-side-combinable count (in
  * production trained ONCE offline and reused, exactly as DSIR ships its
  * bucket models); scoring is one explode + (doc,bucket) pre-aggregate +
  * broadcast join against the ≤B-row model + per-doc sum. Nothing joins
  * fact-to-fact; the only driver-side values are four bounded scalars.
  * The final quota cut is an exact global rank over the per-doc weights
  * (Spark plants a per-partition partial `WindowGroupLimit` before the
  * single merge); exactness is what makes the selection deterministic and
  * oracle-checkable. At 100 TB the same plan swaps that last step for an
  * `approx_percentile` weight threshold + distributed filter (sketch-
  * mergeable, one pass, no total order) — the paper itself samples rather
  * than ranks exactly — with only the boundary docs differing.
  */
object ImportanceResample extends graft.QueryModule {

  val Buckets = 1024L // 16^6 mod 2^10 = 0: the 6-hex-char bucket is unbiased
  val TargetLang = "en"
  val KeepDenom = 4L // keep the top quarter of the pool

  private def bucketOf(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 6), 16, 10).cast("long") % Buckets

  def sampleImportance(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.HashExprs.bigramsAll(col("text"))).as("bg"))
      .select(col("doc_id"), col("lang"), bucketOf(col("bg")).as("bucket"))

    val isT = col("lang") === TargetLang
    // persist: the ≤B-row model is (1) collected for the two totals and
    // (2) broadcast into the scoring join — un-persisted, the broadcast
    // RE-RAN the whole corpus bigram-explode + count under it, a second
    // full feature pass per run (r15; guide §5 persist-on-reuse — the
    // cache is bounded at Buckets rows, nothing corpus-sized).
    val model = graft.CacheRegistry.track(occ.groupBy(col("bucket")).agg(
      sum(when(isT, 1L).otherwise(0L)).as("cnt_t"),
      sum(when(isT, 0L).otherwise(1L)).as("cnt_r")))

    // four bounded scalars: the two model totals, pool size, quota
    val totRow = model.agg(
      coalesce(sum(col("cnt_t")), lit(0L)).as("nt"),
      coalesce(sum(col("cnt_r")), lit(0L)).as("nr")).collect()(0)
    val (nt, nr) = (totRow.getLong(0), totRow.getLong(1))
    val poolCount = Tables.documents(s, dir).filter(col("lang") =!= TargetLang).count()
    val quota = poolCount / KeepDenom

    val perTerm = col("dc") *
      ((col("cnt_t") + 1L) * lit(nr + Buckets) - (col("cnt_r") + 1L) * lit(nt + Buckets))
    val scored = occ.filter(col("lang") =!= TargetLang)
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("dc"))
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id")).agg(sum(perTerm).as("weight"))
    if (graft.ScaleMode.approx(s)) return approxSelect(s, scored, quota, poolCount)
    val w = Window.orderBy(col("weight").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= quota)
      .orderBy(col("rank"))
  }

  /** The 100 TB selection (`spark.graft.scale.approx=true`): the exact
    * top-quota global rank funnels the whole pool through one window task;
    * this path instead (1) cuts by a weight threshold from ONE mergeable
    * `percentile_approx` pass — admitting the boundary tie group whole,
    * the only membership difference vs exact — and (2) ranks the
    * survivors with a RANGE-PARTITIONED rank: range-repartition by
    * (weight desc, doc_id), rank within each partition, add the exact
    * per-partition offsets (a ≤|partitions|-row collect — bounded model
    * state, not corpus). Every partition's window is bounded by the range
    * partitioner, so no task ever sees more than its share of the
    * selected set. Ranks of non-boundary docs are identical to exact
    * mode (the docs ahead of them are the same set). */
  private def approxSelect(s: SparkSession, scored: DataFrame,
      quota: Long, poolCount: Long): DataFrame = {
    val frac = if (poolCount <= 0) 1.0
      else 1.0 - quota.toDouble / poolCount
    val thrRow = scored.agg(percentile_approx(col("weight"), lit(frac),
      lit(graft.ScaleMode.SketchAccuracy))).head()
    if (thrRow.isNullAt(0))
      return scored.select(col("doc_id"), col("weight"), lit(0L).as("rank")).filter(lit(false))
    val thr = thrRow.getLong(0)
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    val sorted = graft.CacheRegistry.track(
      scored.filter(col("weight") >= thr)
        .repartitionByRange(parts, col("weight").desc, col("doc_id"))
        .sortWithinPartitions(col("weight").desc, col("doc_id"))
        .withColumn("pid", spark_partition_id()))
    val counts = sorted.groupBy(col("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (pid, off)) =>
      when(col("pid") === pid, off).otherwise(acc) }
    val wp = Window.partitionBy(col("pid"))
      .orderBy(col("weight").desc, col("doc_id"))
    sorted
      .withColumn("rank", (row_number().over(wp) + offCol).cast("long"))
      .select(col("doc_id"), col("weight"), col("rank"))
      .orderBy(col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_importance" -> (sampleImportance _))

  private val w = "regexp_split_to_array(text, '\\s+')"

  val oracles: Map[String, String] = Map(
    "sample_importance" ->
      s"""WITH occ AS (
         | SELECT doc_id, lang,
         |  ('0x' || substr(md5(bg), 1, 6))::BIGINT % $Buckets AS bucket
         | FROM (SELECT doc_id, lang,
         |   unnest(list_transform(range(1, len($w)), i -> $w[i] || ' ' || $w[i+1])) AS bg
         |  FROM documents) g),
         |model AS (
         | SELECT bucket,
         |  sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END)::BIGINT AS cnt_t,
         |  sum(CASE WHEN lang != '$TargetLang' THEN 1 ELSE 0 END)::BIGINT AS cnt_r
         | FROM occ GROUP BY bucket),
         |tot AS (SELECT coalesce(sum(cnt_t), 0)::BIGINT AS nt,
         |  coalesce(sum(cnt_r), 0)::BIGINT AS nr FROM model),
         |quota AS (SELECT (count(*) // $KeepDenom)::BIGINT AS q
         | FROM documents WHERE lang != '$TargetLang'),
         |dc AS (SELECT doc_id, bucket, count(*)::BIGINT AS dc
         | FROM occ WHERE lang != '$TargetLang' GROUP BY doc_id, bucket),
         |scored AS (
         | SELECT dc.doc_id,
         |  sum(dc.dc * ((model.cnt_t + 1) * (tot.nr + $Buckets)
         |    - (model.cnt_r + 1) * (tot.nt + $Buckets)))::BIGINT AS weight
         | FROM dc JOIN model USING (bucket) CROSS JOIN tot
         | GROUP BY dc.doc_id)
         |SELECT doc_id, weight, rank FROM (
         | SELECT *, row_number() OVER (ORDER BY weight DESC, doc_id) AS rank
         | FROM scored) t
         |WHERE rank <= (SELECT q FROM quota) ORDER BY rank""".stripMargin)
}
