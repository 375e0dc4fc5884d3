package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #33i `ts_lttb` — Largest-Triangle-Three-Buckets downsampling of the
  * event series (Steinarsson 2013): reduce n points to ≤[[Buckets]] while
  * preserving visual/extremal shape — the standard telemetry-downsample
  * before plotting or coarse anomaly triage. Per bucket, keep the point
  * forming the largest triangle with its neighbor buckets.
  *
  * Declared metric (the scale-parallel LTTB variant): the triangle anchors
  * are the PREVIOUS and NEXT bucket CENTROIDS (classic LTTB anchors on the
  * previously-selected point, a sequential chain that cannot parallelize;
  * anchoring on centroids is the standard parallel form and changes picks
  * only where a bucket is internally bimodal). First/last buckets pin the
  * series' first/last point (the LTTB endpoint rule). Ids are dense and
  * time-ordered (the events-corpus contract), so bucket = id·B div n.
  *
  * EXACT cross-engine argmax: with x = epoch seconds − x₀ and y = integer
  * cents, the triangle-area comparison multiplies through by the (per-
  * bucket constant, positive) denominator cp²·cn, making the score
  *
  *   |(sxp·cn − sxn·cp)(y·cp − syp) − (sxp − x·cp)(syn·cp − syp·cn)|
  *
  * a pure integer — no float area anywhere, so both engines pick the same
  * point bit-for-bit, ties to the lowest event_id. Factors are widened to
  * decimal(38,0) (Spark) / HUGEINT (DuckDB): int64 would overflow once
  * bucket occupancy × time-span × value-scale passes ~2⁶³ (n ≳ 2M at this
  * corpus' scales). The Spark side's true ceiling is the decimal(38,0)
  * PRODUCT bound, 10³⁸ (below HUGEINT's ~1.7·10³⁸) — and with ANSI off an
  * overflow would yield NULL, which sorts FIRST in the min_by key and
  * would silently win the argmax. So calibration asserts the worst-case
  * score 8·c³·X·Y < 10³⁸ (c = max bucket occupancy, X = time span, Y =
  * max |cents|) and fails loudly instead; at telemetry scales (year span,
  * 10⁶ cents) that admits n up to ~10¹² points per series.
  *
  * Scale: one calibration row (n, x₀); one map-side-combinable per-bucket
  * aggregate (B rows); lag/lead over the B-row frame (bounded by the
  * OUTPUT size — a downsample artifact is plottable-small by contract);
  * broadcast join back; one map-side score + min_by per bucket (partial
  * aggregates — the argmax never shuffles raw points). No global sort, no
  * corpus-wide window. */
object Lttb extends graft.QueryModule {

  /** Output budget: the downsample's target bucket count. */
  val Buckets = 512L

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  def lttb(s: SparkSession, dir: String): DataFrame = {
    val base = graft.CacheRegistry.track(
      Tables.events(s, dir).select(col("event_id"),
        expr("unix_micros(ts) div 1000000").as("xs"),
        round(col("value") * 100).cast("long").as("yc")))
    val cal = base.agg(count(lit(1)), min(col("xs")), max(col("xs")),
      coalesce(max(abs(col("yc"))), lit(0L))).head
    if (cal.getLong(0) == 0L)
      return base.select(col("event_id"), lit(0L).as("bucket"),
        col("xs").as("x_sec"), col("yc").as("value_cents")).filter(lit(false))
    val (n, x0) = (cal.getLong(0), cal.getLong(1))
    // decimal(38,0) product-bound guard (see scaladoc): worst-case |score|
    // is 8·c³·X·Y with c = max bucket occupancy (dense ids ⇒ ≤ ⌈n/B⌉+1),
    // X = time span, Y = max |cents|. With ANSI off an overflow would
    // become NULL and NULL-wins the min_by argmax — so refuse loudly.
    val occ = BigInt(n / Buckets + 2L)
    val span = BigInt(cal.getLong(2) - x0).max(1)
    val yMax = BigInt(cal.getLong(3)).max(1)
    require(8 * occ.pow(3) * span * yMax < BigInt(10).pow(38),
      s"ts_lttb: integer-exact score would exceed decimal(38,0) " +
        s"(n=$n span=$span yMax=$yMax) — raise Buckets or rescale")
    val pts = base.select(col("event_id"),
      expr(s"event_id * ${Buckets}L div ${n}L").as("bucket"),
      (col("xs") - lit(x0)).as("x"), col("yc").as("y"))
    val agg = pts.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c"), sum(col("x")).as("sx"), sum(col("y")).as("sy"))
    // B-row frame: lag/lead over the bounded bucket ledger, broadcast back
    val w = Window.orderBy(col("bucket"))
    val nb = agg.select(col("bucket"),
      lag(col("c"), 1).over(w).as("cp"), lag(col("sx"), 1).over(w).as("sxp"),
      lag(col("sy"), 1).over(w).as("syp"),
      lead(col("c"), 1).over(w).as("cn"), lead(col("sx"), 1).over(w).as("sxn"),
      lead(col("sy"), 1).over(w).as("syn"))
    val j = pts.join(broadcast(nb), Seq("bucket"))
    val num = (dec(col("sxp")) * dec(col("cn")) - dec(col("sxn")) * dec(col("cp"))) *
        (dec(col("y")) * dec(col("cp")) - dec(col("syp"))) -
      (dec(col("sxp")) - dec(col("x")) * dec(col("cp"))) *
        (dec(col("syn")) * dec(col("cp")) - dec(col("syp")) * dec(col("cn")))
    val mid = col("cp").isNotNull && col("cn").isNotNull
    // selection key: middle buckets -|area|, endpoint buckets their
    // first/last point (s2 = ±event_id keeps the key unique — exact ties
    // inside a bucket resolve to the lowest id)
    val s1 = when(mid, -abs(num)).otherwise(dec(lit(0)))
    val s2 = when(col("cn").isNull && col("cp").isNotNull, -col("event_id"))
      .otherwise(col("event_id"))
    j.groupBy(col("bucket"))
      .agg(min_by(
        struct(col("event_id"), col("x").as("xr"), col("y").as("yr")),
        struct(s1.as("s1"), s2.as("s2"))).as("pick"))
      .select(col("pick.event_id").as("event_id"), col("bucket"),
        (col("pick.xr") + lit(x0)).as("x_sec"), col("pick.yr").as("value_cents"))
      .orderBy(col("bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_lttb" -> (lttb _))

  val oracles: Map[String, String] = Map(
    "ts_lttb" ->
      s"""WITH cal AS (SELECT count(*)::BIGINT AS n, min(epoch_us(ts) // 1000000)::BIGINT AS x0
         | FROM events),
         |p AS (SELECT event_id,
         |  (event_id * $Buckets) // (SELECT n FROM cal) AS bucket,
         |  (epoch_us(ts) // 1000000 - (SELECT x0 FROM cal))::HUGEINT AS x,
         |  round(value * 100)::HUGEINT AS y
         | FROM events),
         |a AS (SELECT bucket, count(*)::HUGEINT AS c,
         |  sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy FROM p GROUP BY bucket),
         |nb AS (SELECT bucket,
         |  lag(c) OVER (ORDER BY bucket) AS cp, lag(sx) OVER (ORDER BY bucket) AS sxp,
         |  lag(sy) OVER (ORDER BY bucket) AS syp,
         |  lead(c) OVER (ORDER BY bucket) AS cn, lead(sx) OVER (ORDER BY bucket) AS sxn,
         |  lead(sy) OVER (ORDER BY bucket) AS syn
         | FROM a),
         |sc AS (SELECT p.event_id, p.bucket, p.x, p.y,
         |  CASE WHEN nb.cp IS NOT NULL AND nb.cn IS NOT NULL THEN
         |    -abs((nb.sxp*nb.cn - nb.sxn*nb.cp) * (p.y*nb.cp - nb.syp)
         |       - (nb.sxp - p.x*nb.cp) * (nb.syn*nb.cp - nb.syp*nb.cn))
         |  ELSE 0::HUGEINT END AS s1,
         |  CASE WHEN nb.cn IS NULL AND nb.cp IS NOT NULL THEN -p.event_id
         |  ELSE p.event_id END AS s2
         | FROM p JOIN nb USING (bucket)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY s1, s2) AS rk
         | FROM sc)
         |SELECT event_id, bucket,
         | (x + (SELECT x0 FROM cal))::BIGINT AS x_sec, y::BIGINT AS value_cents
         |FROM r WHERE rk = 1 ORDER BY bucket""".stripMargin)
}
