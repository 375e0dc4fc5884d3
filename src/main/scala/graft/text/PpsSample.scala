package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #28o `sample_pps_systematic` — systematic probability-proportional-to-
  * size sampling over the corpus (Madow's method: lay the documents on a
  * weight line in doc_id order, take every step-th unit of weight). The
  * deterministic heavyweight of the sampling family: unlike Bernoulli /
  * stratified rates, it hits the target count EXACTLY (±0 — sum(copies) =
  * totalW div step by construction), long documents are selected with
  * probability ∝ length (a doc with w ≥ step is ALWAYS selected, with
  * multiplicity floor(w/step)±1 — the "certainty stratum" for free), and
  * every quantity is INTEGER arithmetic on exact cumulative sums — no
  * float inclusion probability anywhere, so the sample is bit-reproducible
  * across engines and partitionings (the repo-wide float-free-threshold
  * convention; a float u^(1/w) PPSWOR race would be engine-divergent in
  * the last ulp).
  *
  * Scale posture: the cumulative sum is NOT a global-sort window — it is
  * the two-level distributed prefix sum: (1) per-bucket weight totals
  * (map-side combinable aggregate on doc_id div width, width derived at
  * ~√(id span) from a one-row calibration aggregate), (2) bucket
  * prefix offsets via a window over the ~√n bucket rows (the derived
  * width keeps BOTH levels √n at any scale), broadcast back, (3)
  * within-bucket cumsum windows that
  * parallelize across buckets. The step is a one-row broadcast. The
  * selection predicate ((cum div step) − ((cum−w) div step) ≥ 1) is
  * map-side; nothing wide ever shuffles.
  */
object PpsSample extends graft.QueryModule {

  /** Target sample size: step = max(totalW div TargetN, 1). */
  val TargetN = 64
  /** Floor for the derived prefix-sum bucket width (tiny corpora would
    * otherwise degenerate to one doc per bucket). */
  val MinPpsBucket = 64L

  def ppsSystematic(s: SparkSession, dir: String): DataFrame = {
    // tracked: three consumers (the calibration aggregate, bucket totals,
    // the per-doc cumsum) would otherwise each re-scan the corpus
    val base = graft.CacheRegistry.track(Tables.documents(s, dir)
      .select(col("doc_id"), greatest(col("n_chars"), lit(0L)).as("w")))
    // one-row calibration (the bounded-model-artifact contract): total
    // weight fixes the step; the id span fixes the bucket width at
    // ~sqrt(span), so BOTH prefix-sum levels are O(sqrt n) — a constant
    // width would make the |buckets| window the O(n) single-partition
    // bottleneck at 100 TB. The width only shapes the plan: the cumulative
    // sum (and therefore the output) is bucketing-invariant, so the float
    // sqrt can never leak into the result.
    val calRow = base.agg(sum(col("w")), max(col("doc_id"))).head
    if (calRow.isNullAt(1))
      return base.select(col("doc_id"), col("w").as("weight"),
        lit(0L).as("copies")).filter(lit(false))
    val step = math.max(calRow.getLong(0) / TargetN, 1L)
    val width = math.max(math.ceil(
      math.sqrt((calRow.getLong(1) + 1).toDouble)).toLong, MinPpsBucket)
    val d = base.withColumn("bkt", expr(s"doc_id div $width"))
    val bsums = d.groupBy(col("bkt")).agg(sum(col("w")).as("bw"))
    // ~sqrt(n)-row frame: the single-partition window is bounded by the
    // derived-width discipline — never a window over the documents
    val boff = bsums.withColumn("boffset",
      coalesce(sum(col("bw")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("boffset"))
    d.join(broadcast(boff), Seq("bkt"))
      .withColumn("cin", sum(col("w")).over(
        Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum", col("boffset") + col("cin"))
      .withColumn("copies", expr(s"(cum div ${step}L) - ((cum - w) div ${step}L)"))
      .filter(col("copies") >= 1L)
      .select(col("doc_id"), col("w").as("weight"), col("copies"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_pps_systematic" -> (ppsSystematic _))

  val oracles: Map[String, String] = Map(
    "sample_pps_systematic" ->
      s"""WITH d AS (SELECT doc_id, greatest(n_chars, 0)::BIGINT AS w FROM documents),
         |c AS (SELECT doc_id, w,
         |  sum(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM d),
         |t AS (SELECT greatest(sum(w)::BIGINT // $TargetN, 1)::BIGINT AS step FROM d)
         |SELECT doc_id, w AS weight,
         | ((cum // step) - ((cum - w) // step))::BIGINT AS copies
         |FROM c, t
         |WHERE (cum // step) - ((cum - w) // step) >= 1
         |ORDER BY doc_id""".stripMargin)
}
