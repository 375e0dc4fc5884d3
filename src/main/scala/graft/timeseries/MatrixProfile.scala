package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #34r `ts_matrix_profile` — the matrix profile per event-type daily
  * series (Yeh et al., ICDM 2016: "Matrix Profile I") (SURVEY.md §2).
  *
  * THE modern time-series primitive: for every length-[[M]] subsequence,
  * the z-normalized Euclidean distance to its nearest non-trivial
  * neighbor in the same series. A LOW profile value marks a MOTIF (the
  * pattern repeats — in an ops feed: a recurring weekly shape); a HIGH
  * value marks a DISCORD (the subsequence is unlike everything else —
  * the anomaly `ts_anomaly`'s pointwise z-score misses when the level
  * is normal but the SHAPE is wrong). One artifact answers both.
  *
  * Semantics: subsequences of the integerized daily series (the
  * DECIMAL-exact `vi` chain); distance d(i,j) = √(2m(1−r)) with r the
  * Pearson correlation of the two windows; trivial matches excluded by
  * the standard m/2 zone (|i−j| ≥ [[Excl]]); a zero-variance window has
  * no defined z-normalization — its pairs are NULL and fall out of the
  * min (a flat week is neither motif nor discord, declared).
  *
  * Determinism: every moment (Σa, Σa², Σab) is an exact BIGINT over the
  * integer windows; r and d are ONE fixed-form expression each (round
  * 4); the argmin breaks ties by smallest neighbor index; motif/discord
  * flags compare round-4 values per type.
  *
  * Scale: the series are BOUNDED BY THE CALENDAR (30 daily points per
  * type regardless of corpus size — the ts-family contract), so the
  * all-pairs stage is a |types|·26² bounded microframe after one
  * map-side daily aggregate over the fact stream; the subsequence
  * arrays are 5-element window collects. Nothing corpus-quadratic. */
object MatrixProfile extends graft.QueryModule {

  val M = 5
  val Excl = 3 // exclusion zone ⌈m/2⌉: |i-j| < Excl is a trivial match

  def matrixProfile(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double"))
        .cast("long").as("vi"))
    val wSeq = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wWin = wSeq.rowsBetween(Window.currentRow, M - 1)
    val subs = d
      .withColumn("i", (row_number().over(wSeq) - 1).cast("long"))
      .withColumn("arr", collect_list(col("vi")).over(wWin))
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("i") <= col("n_days") - M)
      .select(col("event_type"), col("i"), col("arr"),
        aggregate(col("arr"), lit(0L), (acc, x) => acc + x).as("sa"),
        aggregate(col("arr"), lit(0L), (acc, x) => acc + x * x).as("saa"))
    val a = subs.select(col("event_type"), col("i"), col("arr").as("a_arr"),
      col("sa").as("s_a"), col("saa").as("s_aa"))
    val b = subs.select(col("event_type"), col("i").as("j"), col("arr").as("b_arr"),
      col("sa").as("s_b"), col("saa").as("s_bb"))
    val mL = M.toLong
    val pairs = a.join(b, Seq("event_type"))
      .filter(abs(col("i") - col("j")) >= Excl.toLong)
      .withColumn("sab", aggregate(zip_with(col("a_arr"), col("b_arr"), _ * _),
        lit(0L), (acc, x) => acc + x))
      .withColumn("vna", lit(mL) * col("s_aa") - col("s_a") * col("s_a"))
      .withColumn("vnb", lit(mL) * col("s_bb") - col("s_b") * col("s_b"))
      .withColumn("dist", when(col("vna") > 0 && col("vnb") > 0,
        round(sqrt(greatest(lit(0.0),
          lit(2.0 * M) * (lit(1.0) -
            (lit(mL) * col("sab") - col("s_a") * col("s_b")).cast("double") /
              sqrt(col("vna").cast("double") * col("vnb").cast("double"))))), 4)))
    val wBest = Window.partitionBy(col("event_type"), col("i"))
      .orderBy(col("dist").asc_nulls_last, col("j"))
    val mp = pairs
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("i"),
        when(col("dist").isNotNull, col("dist")).as("mp"),
        when(col("dist").isNotNull, col("j")).as("mp_idx"))
    val byType = Window.partitionBy(col("event_type"))
    mp.withColumn("mn", min(col("mp")).over(byType))
      .withColumn("mx", max(col("mp")).over(byType))
      .select(col("event_type"), col("i"), col("mp"), col("mp_idx"),
        coalesce(col("mp") === col("mn"), lit(false)).as("is_motif"),
        coalesce(col("mp") === col("mx"), lit(false)).as("is_discord"))
      .orderBy(col("event_type"), col("i"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_matrix_profile" -> (matrixProfile _))

  val oracles: Map[String, String] = Map(
    "ts_matrix_profile" ->
      s"""WITH d AS (SELECT event_type, ts::DATE AS day,
         |  CAST(round(sum(value::DECIMAL(18,2))::DOUBLE) AS BIGINT) AS vi
         | FROM events GROUP BY 1, 2),
         |ser AS (SELECT event_type, list(vi ORDER BY day) AS arr FROM d GROUP BY 1),
         |-- index range derived FROM the series length (not a hard-coded
         |-- constant): a series longer than any assumed cap can never
         |-- silently drop oracle-side subsequences the engine emits
         |six AS (SELECT event_type, arr,
         |  unnest(range(0, len(arr) - ${M - 1})) AS i FROM ser),
         |subs AS (SELECT event_type, i,
         |  list_slice(arr, i + 1, i + $M) AS w FROM six),
         |-- moments via EXACT integer arithmetic (explicit element
         |-- products, never a DOUBLE dot product): a vi past 2^26 would
         |-- make a double-folded sum of squares lose ulps silently, while
         |-- BIGINT products either stay exact or DuckDB throws loudly
         |mo AS (SELECT event_type, i, w,
         |  list_sum(w)::BIGINT AS sa,
         |  (${(1 to M).map(k => s"w[$k] * w[$k]").mkString(" + ")})::BIGINT AS saa
         | FROM subs),
         |pr AS (SELECT a.event_type, a.i, b.i AS j,
         |  (${(1 to M).map(k => s"a.w[$k] * b.w[$k]").mkString(" + ")})::BIGINT AS sab,
         |  a.sa AS s_a, a.saa AS s_aa, b.sa AS s_b, b.saa AS s_bb
         | FROM mo a JOIN mo b ON a.event_type = b.event_type
         |  AND abs(a.i - b.i) >= $Excl),
         |ds AS (SELECT event_type, i, j,
         |  CASE WHEN ($M * s_aa - s_a * s_a) > 0 AND ($M * s_bb - s_b * s_b) > 0
         |   THEN round(sqrt(greatest(0.0,
         |    ${2.0 * M} * (1.0 - ($M * sab - s_a * s_b)::DOUBLE /
         |     sqrt(($M * s_aa - s_a * s_a)::DOUBLE * ($M * s_bb - s_b * s_b)::DOUBLE)))), 4)
         |  END AS dist
         | FROM pr),
         |best AS (SELECT event_type, i, dist AS mp, j AS mp_idx,
         |  row_number() OVER (PARTITION BY event_type, i
         |    ORDER BY dist ASC NULLS LAST, j) AS rn
         | FROM ds),
         |mp AS (SELECT event_type, i,
         |  CASE WHEN mp IS NOT NULL THEN mp END AS mp,
         |  CASE WHEN mp IS NOT NULL THEN mp_idx END AS mp_idx
         | FROM best WHERE rn = 1)
         |SELECT event_type, i, mp, mp_idx,
         | coalesce(mp = min(mp) OVER (PARTITION BY event_type), false) AS is_motif,
         | coalesce(mp = max(mp) OVER (PARTITION BY event_type), false) AS is_discord
         |FROM mp ORDER BY event_type, i""".stripMargin)
}
