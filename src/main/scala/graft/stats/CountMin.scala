package graft.stats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #35f Count-Min sketch point-frequency estimation (SURVEY.md §2).
  *
  * The frequency companion to the distinct-count sketches (`stats_approx`
  * HLL++, `stats_kmv_distinct` KMV): estimate how often an item occurs
  * without ever shuffling the item-key universe (Cormode & Muthukrishnan
  * 2005, "An improved data stream summary: the count-min sketch and its
  * applications"). d hash rows × w counters; an item's estimate is the MIN
  * over its d row counters — always ≥ the truth (one-sided), within
  * e·n/w of it with probability 1−2^−d.
  *
  * Spark-first shape: the sketch IS a bounded d·w-key aggregate. Each
  * event emits its d (row, bucket) coordinates map-side (a 4-wide literal
  * array + posexplode — no shuffle multiplier survives past the partial
  * aggregate because the key space is d·w = 256), so the only exchange
  * moves ≤ d·w rows per partition regardless of corpus size — the same
  * contract as the typed-Aggregator sketches ([[KmvSketch.KmvAgg]],
  * HeavyHitters' Misra-Gries) expressed as a plain Catalyst aggregate,
  * which keeps the whole build inside whole-stage codegen. Probes then
  * broadcast-join the tiny counter relation and take the min.
  *
  * Determinism: the per-row hashes are integer LCGs ((x·A_r + B_r) mod P
  * mod w, xxhash-prime multipliers) both engines evaluate exactly, counts
  * are integers, and min is order-independent — so the DuckDB oracle
  * replays the ENTIRE sketch, hash-exact, unlike HLL whose registers are
  * implementation-private. Probes absent from the corpus estimate as the
  * pure collision mass of their buckets (≥ 0), never null.
  */
object CountMin extends graft.QueryModule {

  val D = 4
  val W = 64L
  val HashP = 2147483647L // 2^31 − 1
  val HashA = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
  val HashB = Seq(40503L, 40507L, 40519L, 40529L)
  val NProbes = 25L // fixed probe set: user_id 0..24

  private def bucket(x: Column, r: Int): Column =
    ((x * HashA(r) + HashB(r)) % HashP) % W

  private def coords(x: Column): Column =
    array((0 until D).map(r => bucket(x, r)): _*)

  /** `stats_cms`: per-user event-count estimates for the fixed probe set,
    * from one bounded-key aggregate over the fact stream. */
  def cmsFreq(s: SparkSession, dir: String): DataFrame = {
    val counters = Tables.events(s, dir)
      .select(posexplode(coords(col("user_id"))).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val probes = s.range(NProbes).select(col("id").as("user_id"))
      .select(col("user_id"), posexplode(coords(col("user_id"))).as(Seq("r", "bucket")))
    // counters ≤ d·w rows at ANY corpus size — always the broadcast side
    probes.join(broadcast(counters), Seq("r", "bucket"), "left")
      .groupBy(col("user_id"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
      .orderBy(col("user_id"))
  }

  /** #35o `stats_cms_eval` — measured error of the Count-Min estimates
    * against the exact per-probe counts: the frequency-sketch member of
    * the eval family (`ann_recall_eval` / `dedup_recall_eval` /
    * `stats_sketch_eval`), turning the CM theorem's two claims into
    * checked numbers — `overestimate` must be ≥ 0 on EVERY row (the
    * one-sided guarantee: min-of-counters can never undercount), and its
    * magnitude is the actual collision mass vs the e·n/w bound a team
    * sizes w against. Drift-proof composition: re-runs `stats_cms`'s own
    * registered query; the oracle embeds its registered oracle. Exact
    * truth is a pruned scan (user_id < NProbes pushes to parquet) + a
    * 25-key aggregate — cheap at any scale, unlike the distinct-sketch
    * evals' full `count(DISTINCT)`. */
  def cmsEval(s: SparkSession, dir: String): DataFrame = {
    val est = cmsFreq(s, dir)
    val truth = Tables.events(s, dir)
      .filter(col("user_id") >= 0L && col("user_id") < NProbes)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_true"))
    est.join(broadcast(truth), Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        col("est_count"),
        (col("est_count") - coalesce(col("n_true"), lit(0L))).as("overestimate"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_cms" -> (cmsFreq _),
    "stats_cms_eval" -> (cmsEval _))

  private val cmsSql: String = {
    val hashRows = (0 until D)
      .map(r => s"(${r}, ${HashA(r)}, ${HashB(r)})").mkString(", ")
    s"""WITH h(r, a, b) AS (VALUES $hashRows),
       |c AS (SELECT h.r, ((e.user_id * h.a + h.b) % $HashP) % $W AS bucket,
       |   count(*)::BIGINT AS cnt
       | FROM events e CROSS JOIN h GROUP BY 1, 2),
       |p AS (SELECT unnest(range(0, $NProbes)) AS user_id),
       |pb AS (SELECT p.user_id, h.r,
       |   ((p.user_id * h.a + h.b) % $HashP) % $W AS bucket
       | FROM p CROSS JOIN h)
       |SELECT pb.user_id, min(coalesce(c.cnt, 0))::BIGINT AS est_count
       |FROM pb LEFT JOIN c ON pb.r = c.r AND pb.bucket = c.bucket
       |GROUP BY pb.user_id ORDER BY pb.user_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "stats_cms" -> cmsSql,
    // the eval oracle composes stats_cms's registered oracle verbatim
    "stats_cms_eval" ->
      s"""WITH est AS (SELECT user_id, est_count FROM (
         |$cmsSql
         |) t),
         |tr AS (SELECT user_id, count(*)::BIGINT AS n_true FROM events
         | WHERE user_id >= 0 AND user_id < $NProbes GROUP BY 1)
         |SELECT est.user_id, coalesce(tr.n_true, 0)::BIGINT AS n_true,
         | est.est_count,
         | (est.est_count - coalesce(tr.n_true, 0))::BIGINT AS overestimate
         |FROM est LEFT JOIN tr USING (user_id)
         |ORDER BY est.user_id""".stripMargin)
}
