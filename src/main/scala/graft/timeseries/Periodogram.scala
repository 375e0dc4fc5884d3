package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #34q `ts_periodogram` — dominant-period DETECTION per event type: the
  * classical Schuster periodogram of the daily series over a declared
  * period grid (2..14 days). `ts_seasonality` and `ts_holtwinters` ASSUME
  * the weekday cycle; this op MEASURES which cycle is actually there — the
  * readout a capacity planner checks before trusting any weekday-indexed
  * model (a biweekly batch job or a 3-day retry loop would silently bias
  * every p=7 seasonal estimate).
  *
  * Periodogram power at period p over the mean-centered daily series x_d:
  *
  *   S_c(p) = Σ_d x_d·cos(2πd/p),  S_s(p) = Σ_d x_d·sin(2πd/p)
  *   power_frac(p) = 2·(S_c² + S_s²)/(n·Σx²)
  *
  * — the share of series variance concentrated at period p (≈1 for a
  * pure matched sinusoid over full cycles, p > 2; exactly 2 at the
  * Nyquist period p = 2, where the cosine basis vector has squared norm
  * n instead of n/2 — the textbook DFT-endpoint factor, spec-pinned;
  * Schuster 1898, and the equally-weighted special case of Lomb 1976/
  * Scargle 1982 — gap days simply contribute no term, the observed-day
  * periodogram).
  *
  * Determinism: the trig factors are a FROZEN INTEGER TABLE —
  * round(cos/sin(2πk/p)·2²⁰) for every (p, k∈[0,p)), 104 rows generated
  * once from IEEE double cos/sin and committed as source constants — so
  * neither engine ever calls libm trig: S_c/S_s are exact BIGINT sums of
  * x·C products (order-independent under any partitioning; range declared
  * BIGINT-safe while Σ|x| < 8.8·10¹² cents), centering uses the
  * integer-cents rounded mean (the `ts_holtwinters` seasonal convention,
  * keeping x BIGINT), and power_frac is ONE fixed-form IEEE expression
  * over (S_c, S_s, n, Σx²) with the 2⁴⁰ scale divided back out, round 6.
  * A single-day or constant series has Σx² = 0 → NULL power (no fake
  * spectrum), dominant flag false.
  *
  * `is_dominant` marks each type's argmax by (power_frac desc, period
  * asc) — the total order makes row_number deterministic cross-engine.
  *
  * Scale: one fact pass to the |types × days| daily aggregate (the shared
  * TS posture); the ×13 period explode multiplies the DAILY frame, not
  * facts; the trig join broadcasts 104 rows; everything after is
  * |types×13|-key map-side aggregates. */
object Periodogram extends graft.QueryModule {

  val Scale: Long = 1L << 20
  val MinPeriod = 2
  val MaxPeriod = 14

  /** Frozen trig table (p, k, round(cos(2πk/p)·2²⁰), round(sin(2πk/p)·2²⁰)).
    * Generated once (IEEE doubles) and committed; both the Spark literal
    * relation and the oracle VALUES render from THIS sequence, so the two
    * engines share identical integers by construction. */
  val Trig: Seq[(Int, Int, Long, Long)] = Seq(
    (2, 0, 1048576L, 0L), (2, 1, -1048576L, 0L), (3, 0, 1048576L, 0L), (3, 1,
    -524288L, 908093L), (3, 2, -524288L, -908093L), (4, 0, 1048576L, 0L), (4, 1,
    0L, 1048576L), (4, 2, -1048576L, 0L), (4, 3, 0L, -1048576L), (5, 0,
    1048576L, 0L), (5, 1, 324028L, 997255L), (5, 2, -848316L, 616338L), (5, 3,
    -848316L, -616338L), (5, 4, 324028L, -997255L), (6, 0, 1048576L, 0L), (6, 1,
    524288L, 908093L), (6, 2, -524288L, 908093L), (6, 3, -1048576L, 0L), (6, 4,
    -524288L, -908093L), (6, 5, 524288L, -908093L), (7, 0, 1048576L, 0L), (7, 1,
    653776L, 819810L), (7, 2, -233330L, 1022286L), (7, 3, -944734L, 454960L),
    (7, 4, -944734L, -454960L), (7, 5, -233330L, -1022286L), (7, 6, 653776L,
    -819810L), (8, 0, 1048576L, 0L), (8, 1, 741455L, 741455L), (8, 2, 0L,
    1048576L), (8, 3, -741455L, 741455L), (8, 4, -1048576L, 0L), (8, 5,
    -741455L, -741455L), (8, 6, 0L, -1048576L), (8, 7, 741455L, -741455L), (9,
    0, 1048576L, 0L), (9, 1, 803256L, 674012L), (9, 2, 182083L, 1032646L), (9,
    3, -524288L, 908093L), (9, 4, -985339L, 358634L), (9, 5, -985339L,
    -358634L), (9, 6, -524288L, -908093L), (9, 7, 182083L, -1032646L), (9, 8,
    803256L, -674012L), (10, 0, 1048576L, 0L), (10, 1, 848316L, 616338L), (10,
    2, 324028L, 997255L), (10, 3, -324028L, 997255L), (10, 4, -848316L,
    616338L), (10, 5, -1048576L, 0L), (10, 6, -848316L, -616338L), (10, 7,
    -324028L, -997255L), (10, 8, 324028L, -997255L), (10, 9, 848316L, -616338L),
    (11, 0, 1048576L, 0L), (11, 1, 882118L, 566903L), (11, 2, 435594L, 953818L),
    (11, 3, -149228L, 1037903L), (11, 4, -686671L, 792461L), (11, 5, -1006101L,
    295418L), (11, 6, -1006101L, -295418L), (11, 7, -686671L, -792461L), (11, 8,
    -149228L, -1037903L), (11, 9, 435594L, -953818L), (11, 10, 882118L,
    -566903L), (12, 0, 1048576L, 0L), (12, 1, 908093L, 524288L), (12, 2,
    524288L, 908093L), (12, 3, 0L, 1048576L), (12, 4, -524288L, 908093L), (12,
    5, -908093L, 524288L), (12, 6, -1048576L, 0L), (12, 7, -908093L, -524288L),
    (12, 8, -524288L, -908093L), (12, 9, 0L, -1048576L), (12, 10, 524288L,
    -908093L), (12, 11, 908093L, -524288L), (13, 0, 1048576L, 0L), (13, 1,
    928468L, 487298L), (13, 2, 595659L, 862961L), (13, 3, 126392L, 1040931L),
    (13, 4, -371830L, 980436L), (13, 5, -784870L, 695335L), (13, 6, -1018106L,
    250941L), (13, 7, -1018106L, -250941L), (13, 8, -784870L, -695335L), (13, 9,
    -371830L, -980436L), (13, 10, 126392L, -1040931L), (13, 11, 595659L,
    -862961L), (13, 12, 928468L, -487298L), (14, 0, 1048576L, 0L), (14, 1,
    944734L, 454960L), (14, 2, 653776L, 819810L), (14, 3, 233330L, 1022286L),
    (14, 4, -233330L, 1022286L), (14, 5, -653776L, 819810L), (14, 6, -944734L,
    454960L), (14, 7, -1048576L, 0L), (14, 8, -944734L, -454960L), (14, 9,
    -653776L, -819810L), (14, 10, -233330L, -1022286L), (14, 11, 233330L,
    -1022286L), (14, 12, 653776L, -819810L), (14, 13, 944734L, -454960L))

  /** Core over an explicit daily-cents frame (event_type, ed, vi) — split
    * out so the spec can plant exact anchors (a pure p-cycle over full
    * cycles concentrates ~all variance at p; a constant series pins the
    * NULL guard). */
  private[timeseries] def periodogramFrom(s: SparkSession, base0: DataFrame): DataFrame = {
    import s.implicits._
    val base = base0
    val typeAgg = base.groupBy(col("event_type"))
      .agg(sum(col("vi")).as("sv"), count(lit(1)).as("n_days"))
      .select(col("event_type"), col("n_days"),
        round(col("sv").cast("double") / col("n_days")).cast("long").as("mc"))
    val xs = graft.CacheRegistry.track(
      base.join(typeAgg, Seq("event_type"))
        .select(col("event_type"), col("ed"), col("n_days"),
          (col("vi") - col("mc")).as("x")))
    val sxx = xs.groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"), sum(col("x") * col("x")).as("sxx"))
    val trig = Trig.toDF("period", "k", "tc", "ts")
    val mom = xs
      .withColumn("period", explode(array((MinPeriod to MaxPeriod).map(lit): _*)))
      .withColumn("k", (col("ed") % col("period")).cast("int"))
      .join(broadcast(trig), Seq("period", "k"))
      .groupBy(col("event_type"), col("period"))
      .agg(sum(col("x") * col("tc")).as("sc"), sum(col("x") * col("ts")).as("ss"))
    def d(c: String): Column = col(c).cast("double")
    val scale2 = (Scale * Scale).toDouble
    val frac = when(col("sxx") > 0L,
      round(lit(2.0) * (d("sc") * d("sc") + d("ss") * d("ss")) /
        (d("n_days") * d("sxx") * lit(scale2)), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(coalesce(col("pf"), lit(-1.0)).desc, col("period"))
    mom.join(sxx, Seq("event_type"))
      .withColumn("pf", frac)
      .withColumn("is_dominant", col("sxx") > 0L && row_number().over(w) === 1)
      .select(col("event_type"), col("period").cast("long").as("period"),
        col("n_days"), col("sc"), col("ss"),
        col("pf").as("power_frac"), col("is_dominant"))
      .orderBy(col("event_type"), col("period"))
  }

  def periodogram(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("raw_value"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"),
        round(round(col("raw_value"), 2) * 100).cast("long").as("vi"))
    periodogramFrom(s, base)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_periodogram" -> (periodogram _))

  val oracles: Map[String, String] = Map(
    "ts_periodogram" -> {
      val trigVals = Trig.map { case (p, k, c, sn) =>
        s"($p, $k, ${c}::BIGINT, ${sn}::BIGINT)" }.mkString(", ")
      val scale2 = (Scale * Scale).toString + ".0"
      s"""WITH d0 AS (SELECT event_type, ts::DATE AS day, sum(value::DECIMAL(18,2))::DOUBLE AS raw_value
         | FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, (day - DATE '1970-01-01')::BIGINT AS ed,
         |  CAST(round(round(raw_value, 2) * 100) AS BIGINT) AS vi FROM d0),
         |ta AS (SELECT event_type, count(*)::BIGINT AS n_days,
         |  CAST(round(sum(vi)::DOUBLE / count(*)) AS BIGINT) AS mc
         | FROM b GROUP BY 1),
         |xs AS (SELECT b.event_type, b.ed, ta.n_days, (b.vi - ta.mc) AS x
         | FROM b JOIN ta USING (event_type)),
         |sxx AS (SELECT event_type, max(n_days) AS n_days,
         |  sum(x * x)::BIGINT AS sxx FROM xs GROUP BY 1),
         |trig(period, k, tc, ts) AS (VALUES $trigVals),
         |mom AS (SELECT xs.event_type, trig.period,
         |  sum(xs.x * trig.tc)::BIGINT AS sc, sum(xs.x * trig.ts)::BIGINT AS ss
         | FROM xs JOIN trig
         |  ON trig.k = (xs.ed % trig.period)
         | GROUP BY 1, 2),
         |pf AS (SELECT mom.event_type, mom.period, sxx.n_days, mom.sc, mom.ss,
         |  sxx.sxx,
         |  CASE WHEN sxx.sxx > 0 THEN
         |   round(2.0 * (mom.sc::DOUBLE * mom.sc::DOUBLE + mom.ss::DOUBLE * mom.ss::DOUBLE)
         |     / (sxx.n_days::DOUBLE * sxx.sxx::DOUBLE * $scale2), 6) END AS power_frac
         | FROM mom JOIN sxx USING (event_type))
         |SELECT event_type, period::BIGINT AS period, n_days, sc, ss, power_frac,
         | (sxx > 0 AND row_number() OVER (PARTITION BY event_type
         |    ORDER BY coalesce(power_frac, -1.0) DESC, period) = 1) AS is_dominant
         |FROM pf ORDER BY event_type, period""".stripMargin
    })
}
