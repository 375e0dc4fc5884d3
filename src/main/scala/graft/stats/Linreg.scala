package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #35q `stats_linreg` — MULTIPLE linear regression per event type:
  * value ~ hour-of-day + day-of-week, the two operational covariates of
  * the events stream. `stats_corr` measures one pairwise association and
  * `ts_trend` one univariate slope; this is the first MULTIVARIATE
  * readout — the adjusted effect of each covariate holding the other
  * fixed, which is what an on-call engineer actually wants ("is the
  * weekend dip real, or is it just the hourly cycle sampled unevenly?").
  *
  * Method: ordinary least squares on X = [1, hour, dow] via the NORMAL
  * EQUATIONS — the nine sufficient moments (n, Σx₁, Σx₂, Σx₁², Σx₁x₂,
  * Σx₂², Σy, Σx₁y, Σx₂y, plus Σy² for R²) are EXACT BIGINTs (y in
  * integer cents, x₁ ∈ 0..23, x₂ ∈ 0..6; range declared BIGINT-safe for
  * n·|y|max < 4·10¹⁸ cents), and the 3×3 solve is CRAMER'S RULE — four
  * determinants, each ONE fixed-form IEEE expression over the
  * double-cast moments. The formula strings are rendered ONCE by
  * [[det3]]/[[layer2]]/[[layer3]] and fed verbatim to BOTH engines
  * (Spark `expr()` and the DuckDB oracle share the arithmetic grammar),
  * so the two sides cannot drift even in association order — the
  * `stats_corr` fixed-form contract made mechanical.
  *
  * Readouts per type: n, the three coefficients in value units (round
  * 4), and R² (round 6) from SSE = Σy² − b₀Σy − b₁Σx₁y − b₂Σx₂y over
  * SST = Σy² − (Σy)²/n. NULL guards: a singular system (|det| ≤ 1e−6 —
  * collinear or constant covariates) yields NULL coefficients; zero
  * response variance yields NULL R². No ANSI /0, no fake fit.
  *
  * Scale: ONE fact pass → ten map-side-combinable integer sums per
  * |types| key; everything after operates on the |types|-row moment
  * frame. Nothing else shuffles, nothing is driver-side. */
object Linreg extends graft.QueryModule {

  /** 3×3 determinant, fixed-form (cofactor expansion along row 0). */
  private def det3(a: Array[Array[String]]): String =
    s"(${a(0)(0)} * (${a(1)(1)} * ${a(2)(2)} - ${a(1)(2)} * ${a(2)(1)}) " +
      s"- ${a(0)(1)} * (${a(1)(0)} * ${a(2)(2)} - ${a(1)(2)} * ${a(2)(0)}) " +
      s"+ ${a(0)(2)} * (${a(1)(0)} * ${a(2)(1)} - ${a(1)(1)} * ${a(2)(0)}))"

  private val A = Array(
    Array("dn", "d1", "d2"),
    Array("d1", "d11", "d12"),
    Array("d2", "d12", "d22"))
  private def replaceCol(j: Int): Array[Array[String]] = {
    val b = Array("dy", "d1y", "d2y")
    Array.tabulate(3, 3)((r, c) => if (c == j) b(r) else A(r)(c))
  }

  /** Layer 2: double casts + the four determinants (shared verbatim). */
  private[stats] val layer2: Seq[(String, String)] = Seq(
    "dn" -> "CAST(n AS DOUBLE)", "d1" -> "CAST(s1 AS DOUBLE)",
    "d2" -> "CAST(s2 AS DOUBLE)", "d11" -> "CAST(s11 AS DOUBLE)",
    "d12" -> "CAST(s12 AS DOUBLE)", "d22" -> "CAST(s22 AS DOUBLE)",
    "dy" -> "CAST(sy AS DOUBLE)", "d1y" -> "CAST(s1y AS DOUBLE)",
    "d2y" -> "CAST(s2y AS DOUBLE)", "dyy" -> "CAST(syy AS DOUBLE)")
  private[stats] val layer3: Seq[(String, String)] = Seq(
    "det" -> det3(A), "det0" -> det3(replaceCol(0)),
    "det1" -> det3(replaceCol(1)), "det2" -> det3(replaceCol(2)))
  /** Layer 4: coefficients (cents), SST/SSE, all guarded (shared verbatim). */
  private[stats] val layer4: Seq[(String, String)] = Seq(
    "b0c" -> "CASE WHEN abs(det) > 1e-6 THEN det0 / det END",
    "b1c" -> "CASE WHEN abs(det) > 1e-6 THEN det1 / det END",
    "b2c" -> "CASE WHEN abs(det) > 1e-6 THEN det2 / det END",
    "sst" -> "dyy - dy * dy / dn")
  private[stats] val layer5: Seq[(String, String)] = Seq(
    "b0" -> "round(b0c / 100.0, 4)",
    "b1_hour" -> "round(b1c / 100.0, 4)",
    "b2_dow" -> "round(b2c / 100.0, 4)",
    "r2" -> ("CASE WHEN b0c IS NOT NULL AND sst > 0 THEN round(1.0 - " +
      "(dyy - b0c * dy - b1c * d1y - b2c * d2y) / sst, 6) END"))

  /** The ten sufficient moments per type — a plain streaming-able
    * aggregation (sums and a count), the canonical mergeable statistic.
    * Works on any (event_type, y, x1, x2) frame, batch or streaming —
    * which is what makes `stream_linreg` a zero-new-math deployment. */
  private[graft] def momentsOf(base: DataFrame): DataFrame =
    base.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      sum(col("y") * col("y")).as("syy"))

  /** The stateless readout over a moment frame: the shared formula-string
    * layers (Cramer + R²), no aggregation — streaming-legal as a post-agg
    * projection. */
  private[graft] def readout(mom: DataFrame): DataFrame = {
    val withL = (layer2 ++ layer3 ++ layer4 ++ layer5)
      .foldLeft(mom) { case (df, (name, sql)) => df.withColumn(name, expr(sql)) }
    withL.select(col("event_type"), col("n"), col("b0"), col("b1_hour"),
      col("b2_dow"), col("r2"))
  }

  /** Core over an explicit (event_type, y, x1, x2) integer frame — split
    * out so the spec can plant exact-fit, collinear, and zero-variance
    * anchors. */
  private[stats] def linregOf(base: DataFrame): DataFrame =
    readout(momentsOf(base)).orderBy(col("event_type"))

  /** The shared fact projection (event_type, y, x1, x2) — batch form. */
  private[graft] def factFrame(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_type"),
      round(round(col("value"), 2) * 100).cast("long").as("y"),
      hour(col("ts")).cast("long").as("x1"),
      ((datediff(to_date(col("ts")), lit("1970-01-01")).cast("long") + 3) % 7).as("x2"))

  def linreg(s: SparkSession, dir: String): DataFrame =
    linregOf(factFrame(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_linreg" -> (linreg _))

  val oracles: Map[String, String] = Map(
    "stats_linreg" -> {
      def sel(pairs: Seq[(String, String)]): String =
        pairs.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")
      s"""WITH b AS (SELECT event_type,
         |  CAST(round(round(value, 2) * 100) AS BIGINT) AS y,
         |  CAST(hour(ts) AS BIGINT) AS x1,
         |  ((ts::DATE - DATE '1970-01-01')::BIGINT + 3) % 7 AS x2
         | FROM events),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |  sum(x1)::BIGINT AS s1, sum(x2)::BIGINT AS s2,
         |  sum(x1 * x1)::BIGINT AS s11, sum(x1 * x2)::BIGINT AS s12,
         |  sum(x2 * x2)::BIGINT AS s22, sum(y)::BIGINT AS sy,
         |  sum(x1 * y)::BIGINT AS s1y, sum(x2 * y)::BIGINT AS s2y,
         |  sum(y * y)::BIGINT AS syy
         | FROM b GROUP BY event_type),
         |l2 AS (SELECT *, ${sel(layer2)} FROM mom),
         |l3 AS (SELECT *, ${sel(layer3)} FROM l2),
         |l4 AS (SELECT *, ${sel(layer4)} FROM l3),
         |l5 AS (SELECT *, ${sel(layer5)} FROM l4)
         |SELECT event_type, n, b0, b1_hour, b2_dow, r2
         |FROM l5 ORDER BY event_type""".stripMargin
    })
}
