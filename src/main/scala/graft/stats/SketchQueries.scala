package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-analytics sketches — the operators that replace their exact
  * twins at 100 TB, where countDistinct is a full shuffle of every key and
  * an exact percentile is a global sort. Both sketches here are map-side
  * mergeable (HLL++ registers, Greenwald-Khanna summaries), so the plan is
  * one partial-agg pass regardless of cardinality.
  *
  * The query emits the approximate and exact answers side by side: the
  * driver does a rows-only check (approximation is engine-specific, so no
  * DuckDB hash parity), and SketchSpec pins the error envelope — HLL++ at
  * rsd=0.02 and the quantile sketch at accuracy=1000 must land within 5%
  * of exact on the test distributions.
  */
object SketchQueries extends graft.QueryModule {

  def approxReport(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"),
        expr("percentile(value, 0.5)").as("exact_p50"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("approx_p95"),
        expr("percentile(value, 0.95)").as("exact_p95"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("event_type"))
  }

  /** The sketch columns alone — the production shape. Without the exact
    * twins the whole aggregation is one partial-agg pass with a single
    * exchange; the exact countDistinct in `approxReport` is what forces
    * Spark's two-phase distinct expansion (a second full shuffle). The
    * pair of plans is the scale argument, and SketchSpec pins both. */
  def sketchOnly(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("approx_p95"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("event_type"))
  }

  /** Fixed-width histogram per type: bin = floor(value / width), the exact
    * distribution report behind dashboards and skew diagnostics. Pure
    * integer bin arithmetic (no quantile estimation), one map-side
    * combinable groupBy — the 100 TB plan is identical. */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(s, dir)
      .select(col("event_type"), floor(col("value") / 50.0).cast("long").as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", (col("bin") * 50.0))
      .select("event_type", "bin", "bin_lo", "n")
      .orderBy(col("event_type"), col("bin"))
  }

  /** #35h Benford first-digit audit (Newcomb 1881 / Benford 1938; the
    * standard forensic screen for fabricated or truncated numeric feeds —
    * organically-generated magnitudes follow P(d) = log10(1+1/d), manual
    * entry and synthetic padding do not): leading digit of each positive
    * cent-scaled value, observed vs expected share, per-digit chi-square
    * contribution, and a per-digit deviation flag. The leading digit is
    * taken from the DECIMAL STRING of the exact BIGINT cents — no float
    * log10 anywhere, so both engines bin identically; expected shares are
    * the same 4-decimal literals in both. One map-side-combinable 9-key
    * aggregate + a one-row total broadcast; the corpus is touched once.
    * (The synthetic `value` column spans four decades and lands close to
    * Benford — no digit trips the 0.02 gate; the spec pins that, plants a
    * single-decade uniform corpus that MUST flag, and a Weyl-sequence
    * log-uniform sample that must pass.) */
  val BenfordShares: Seq[Double] = (1 to 9).map(d =>
    BigDecimal(math.log10(1.0 + 1.0 / d)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)

  def benford(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val per = graft.Tables.events(s, dir)
      .filter(cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("total"))
    val expected = BenfordShares.zipWithIndex.tail.foldLeft(
      when(col("digit") === 1, lit(BenfordShares.head))) {
      case (acc, (p, i)) => acc.when(col("digit") === (i + 1), lit(p))
    }
    per.crossJoin(broadcast(tot))
      .withColumn("share", round(col("n").cast("double") / col("total"), 4))
      .withColumn("expected_share", expected)
      .withColumn("chi2_term",
        round((col("share") - col("expected_share")) * (col("share") - col("expected_share"))
          / col("expected_share") * col("total"), 4))
      .withColumn("deviant", abs(col("share") - col("expected_share")) > 0.02)
      .select("digit", "n", "share", "expected_share", "chi2_term", "deviant")
      .orderBy(col("digit"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_benford" -> (benford _),
    "stats_approx"    -> (approxReport _),
    "stats_histogram" -> (histogram _))

  val oracles: Map[String, String] = Map(
    "stats_benford" -> {
      val eRows = BenfordShares.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH c AS (SELECT
         |  substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)::BIGINT AS digit
         | FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0),
         |p AS (SELECT digit, count(*)::BIGINT AS n FROM c GROUP BY 1),
         |t AS (SELECT sum(n)::BIGINT AS total FROM p),
         |e(digit, expected_share) AS (VALUES $eRows),
         |r AS (SELECT p.digit, p.n, t.total,
         |  round(p.n::DOUBLE / t.total, 4) AS share FROM p, t)
         |SELECT r.digit, r.n, r.share, e.expected_share,
         | round((r.share - e.expected_share) * (r.share - e.expected_share)
         |   / e.expected_share * r.total, 4) AS chi2_term,
         | abs(r.share - e.expected_share) > 0.02 AS deviant
         |FROM r JOIN e ON e.digit = r.digit
         |ORDER BY r.digit""".stripMargin
    },
    "stats_histogram" ->
      """SELECT event_type, floor(value / 50.0)::BIGINT AS bin,
        | (floor(value / 50.0) * 50.0) AS bin_lo, count(*) AS n
        |FROM events GROUP BY 1, 2, 3 ORDER BY event_type, bin""".stripMargin)
}
