package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #35i `stats_gini` + #35j `stats_ks` — distribution-shape audits
  * (SURVEY.md §2).
  *
  * Two screens a data platform runs on every feed beside `stats_benford`'s
  * digit forensics: WHO generates the volume (concentration), and whether
  * the value distribution SHIFTED mid-stream (two-sample drift).
  *
  * `stats_gini`: Gini coefficient of per-user activity per event type — the
  * bot/whale detector (a type where 2% of users produce 90% of rows is a
  * scraper, not a product surface). Exact integer form on ranked counts:
  * G = (2·Σᵢ i·cᵢ − (n+1)·Σc) / (n·Σc) with cᵢ ascending — every moment an
  * exact BIGINT (tie order is irrelevant to Σ i·cᵢ: equal cᵢ make the block
  * sum invariant under permutation, and the (count, user) order is total
  * anyway), one final fixed-form IEEE division (the `stats_corr`
  * determinism contract).
  *
  * `stats_ks`: two-sample Kolmogorov–Smirnov between each type's value
  * distribution in the first vs second half of its observed time range —
  * the nonparametric "did this feed change shape?" drift test (`ts_anomaly`
  * flags level; KS catches variance/shape drift at a constant mean). The
  * statistic is computed EXACTLY in integers: with values as cents,
  * D·n₁·n₂ = max over distinct values of |cum₁·n₂ − cum₂·n₁| — no float
  * ECDFs — and only the final display division and the 1.358·√((n₁+n₂)/
  * (n₁·n₂)) α=0.05 critical value are (fixed-form) IEEE ops.
  *
  * Scale posture: each op is one map-side-combinable fact aggregate —
  * (type, user) counts resp. (type, value) counts — and every window runs
  * on that aggregate, never on facts. The KS midpoint is a one-row
  * broadcast. At 100 TB the aggregates are |types|·|users| resp.
  * |types|·|distinct cents| rows: still cluster-trivial, and the windows
  * partition by type so no single-task global sort exists. */
object Concentration extends graft.QueryModule {

  /** Concentration flag threshold: G ≥ 0.4 ("top-heavy feed"). */
  val GiniFlag = 0.4

  def gini(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val ranked = perUser.withColumn("i",
      row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("c"), col("user_id"))))
    val m = ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("total_events"),
        sum(col("i") * col("c")).as("w"))
    val g = (lit(2) * col("w") - (col("n_users") + 1) * col("total_events"))
      .cast("double") / (col("n_users") * col("total_events"))
    m.select(col("event_type"), col("n_users"), col("total_events"),
        round(g, 4).as("gini"))
      .withColumn("concentrated", col("gini") >= GiniFlag)
      .orderBy(col("event_type"))
  }

  /** KS α=0.05 critical coefficient c(α) = √(−ln(α/2)/2) as a literal. */
  val KsCoeff = 1.358

  def ks(s: SparkSession, dir: String): DataFrame = {
    // persist: the midpoint aggregate and the (type, v) counts both read it
    val base = graft.CacheRegistry.track(Tables.events(s, dir)
      .select(col("event_type"), unix_date(to_date(col("ts"))).as("ed"),
        round(col("value") * 100).cast("long").as("v")))
    val mid = base.agg(expr("(min(ed) + max(ed)) div 2").as("mid"))
    val g = base.crossJoin(broadcast(mid))
      .select(col("event_type"), col("v"),
        when(col("ed") <= col("mid"), 1L).otherwise(0L).as("in1"))
      .groupBy(col("event_type"), col("v"))
      .agg(sum(col("in1")).as("c1"), sum(lit(1L) - col("in1")).as("c2"))
    val byType = Window.partitionBy(col("event_type"))
    val w = g
      .withColumn("cum1", sum(col("c1")).over(byType.orderBy(col("v"))))
      .withColumn("cum2", sum(col("c2")).over(byType.orderBy(col("v"))))
      .withColumn("n1", sum(col("c1")).over(byType))
      .withColumn("n2", sum(col("c2")).over(byType))
    val d = w.groupBy(col("event_type"))
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("dnum"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
    val ksD = col("dnum").cast("double") / (col("n1") * col("n2"))
    val crit = lit(KsCoeff) *
      sqrt((col("n1") + col("n2")).cast("double") / (col("n1") * col("n2")))
    d.select(col("event_type"), col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0, round(ksD, 4)).as("ks_d"),
        when(col("n1") > 0 && col("n2") > 0, round(crit, 4)).as("ks_crit"),
        (col("n1") > 0 && col("n2") > 0 && coalesce(ksD > crit, lit(false)))
          .as("shifted"))
      .orderBy(col("event_type"))
  }

  /** #35k `stats_equidepth` — equi-depth (equi-height) histogram per event
    * type: [[EqBuckets]] buckets of (near-)equal row count with their value
    * bounds, the optimizer-statistics / data-profiling primitive beside
    * `stats_histogram`'s fixed-WIDTH bins (equi-width starves skewed
    * tails; equi-depth puts the resolution where the rows are). Bucket
    * assignment is standard NTILE over the total (value, event_id) order —
    * both engines give the first n mod B buckets one extra row, so the
    * split is identical; bounds/counts are exact BIGINTs. At 100 TB the
    * per-type sort inside the window is the cost — the documented swap is
    * `approx_percentile`-derived bounds (the `text_length_stats` pattern);
    * the exact form IS the oracle-able contract. */
  val EqBuckets = 8

  def equidepth(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("v"),
        col("event_id"))
    if (graft.ScaleMode.approx(s)) {
      // 100 TB path (spark.graft.scale.approx=true): NTILE needs a full
      // per-type sort (unbounded on a skewed type); instead derive the 7
      // internal cut points from ONE mergeable percentile_approx pass over
      // the |types|-key aggregate, then assign buckets map-side by
      // counting cuts below each value — no window at all. Ties at a cut
      // land in one bucket here but are split by row order under NTILE,
      // so counts differ only at bucket boundaries (spec-pinned).
      val pcts = (1 until EqBuckets.toInt)
        .map(i => i.toDouble / EqBuckets).mkString("array(", ",", ")")
      val cuts = base.groupBy(col("event_type"))
        .agg(expr(s"percentile_approx(v, $pcts, ${graft.ScaleMode.SketchAccuracy})")
          .as("cuts"))
      return base.join(broadcast(cuts), Seq("event_type"))
        .withColumn("bucket", (lit(1) + aggregate(col("cuts"), lit(0L),
          (acc, c) => acc + when(col("v") > c, 1L).otherwise(0L))).cast("long"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
        .orderBy(col("event_type"), col("bucket"))
    }
    base
      .withColumn("bucket", ntile(EqBuckets).over(
        Window.partitionBy(col("event_type")).orderBy(col("v"), col("event_id")))
        .cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** #35l `stats_contingency` — categorical-association audit between
    * event type and day-of-week (the χ² independence layout): per cell,
    * observed count, expected count under independence, χ² contribution,
    * and a standardized-residual flag (|o−e|/√e > [[ResidFlag]] — "Tuesday
    * errors are over-represented"). The per-cell residuals ARE the
    * actionable output; a single χ² total is deliberately NOT emitted —
    * summing rounded per-cell doubles is order-dependent, per-cell values
    * are not (the `graph_hits` float lesson applied in reverse).
    *
    * Determinism: d = o·N − rt·ct is an exact BIGINT (fixed-point range:
    * o·N < 2^63 at any realistic corpus), and every emitted double is one
    * fixed-form IEEE expression over those integers. The weekday index is
    * pure integer arithmetic ((ed+3)%7, the `ts_seasonality` convention)
    * because the engines disagree on dayofweek() numbering.
    *
    * Scale posture: ONE map-side (type, dow) fact aggregate — ≤ |types|·7
    * rows at any corpus size; totals are window sums over that aggregate. */
  val ResidFlag = 3.0

  def contingency(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(col("event_type"),
        pmod(unix_date(to_date(col("ts"))) + 3, lit(7)).cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val byType = Window.partitionBy(col("event_type"))
    val byDow = Window.partitionBy(col("dow"))
    val t = cells
      .withColumn("rt", sum(col("o")).over(byType))
      .withColumn("ct", sum(col("o")).over(byDow))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    val d = (col("o") * col("n") - col("rt") * col("ct")).cast("double")
    val e = (col("rt") * col("ct")).cast("double") / col("n")
    // χ² contribution (o−e)²/e = d²/(N·rt·ct) — also the squared
    // standardized residual, so the flag reads off the same expression
    val contrib = d * d / col("n").cast("double") / (col("rt") * col("ct"))
    t.select(col("event_type"), col("dow"), col("o"),
        round(e, 4).as("expected"),
        round(contrib, 4).as("chi2_contrib"),
        (contrib > ResidFlag * ResidFlag).as("deviant"))
      .orderBy(col("event_type"), col("dow"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_gini" -> (gini _),
    "stats_ks" -> (ks _),
    "stats_equidepth" -> (equidepth _),
    "stats_contingency" -> (contingency _))

  val oracles: Map[String, String] = Map(
    "stats_contingency" ->
      s"""WITH c AS (SELECT event_type,
         |  ((ts::DATE - DATE '1970-01-01') + 3) % 7 AS dow,
         |  count(*)::BIGINT AS o
         | FROM events GROUP BY 1, 2),
         |t AS (SELECT *,
         |  sum(o) OVER (PARTITION BY event_type)::BIGINT AS rt,
         |  sum(o) OVER (PARTITION BY dow)::BIGINT AS ct,
         |  sum(o) OVER ()::BIGINT AS n
         | FROM c)
         |SELECT event_type, dow, o,
         | round((rt * ct)::DOUBLE / n, 4) AS expected,
         | round((o * n - rt * ct)::DOUBLE * (o * n - rt * ct)::DOUBLE
         |   / n::DOUBLE / (rt * ct), 4) AS chi2_contrib,
         | ((o * n - rt * ct)::DOUBLE * (o * n - rt * ct)::DOUBLE
         |   / n::DOUBLE / (rt * ct)) > ${ResidFlag * ResidFlag} AS deviant
         |FROM t ORDER BY event_type, dow""".stripMargin,
    "stats_equidepth" ->
      s"""WITH b AS (SELECT event_type,
         |  CAST(round(value * 100) AS BIGINT) AS v, event_id FROM events),
         |t AS (SELECT event_type, v,
         |  ntile($EqBuckets) OVER (PARTITION BY event_type ORDER BY v, event_id)
         |   ::BIGINT AS bucket
         | FROM b)
         |SELECT event_type, bucket, count(*)::BIGINT AS n,
         | min(v) AS lo, max(v) AS hi
         |FROM t GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    "stats_gini" ->
      s"""WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS c
         | FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, c,
         |  row_number() OVER (PARTITION BY event_type ORDER BY c, user_id) AS i
         | FROM c),
         |m AS (SELECT event_type, count(*)::BIGINT AS n_users,
         |  sum(c)::BIGINT AS total_events, sum(i * c)::BIGINT AS w
         | FROM r GROUP BY 1)
         |SELECT event_type, n_users, total_events,
         | round((2 * w - (n_users + 1) * total_events)::DOUBLE
         |   / (n_users * total_events), 4) AS gini,
         | round((2 * w - (n_users + 1) * total_events)::DOUBLE
         |   / (n_users * total_events), 4) >= $GiniFlag AS concentrated
         |FROM m ORDER BY event_type""".stripMargin,
    "stats_ks" ->
      s"""WITH b AS (SELECT event_type, (ts::DATE - DATE '1970-01-01') AS ed,
         |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |m AS (SELECT (min(ed) + max(ed)) // 2 AS mid FROM b),
         |g AS (SELECT event_type, v,
         |  sum(CASE WHEN ed <= mid THEN 1 ELSE 0 END)::BIGINT AS c1,
         |  sum(CASE WHEN ed > mid THEN 1 ELSE 0 END)::BIGINT AS c2
         | FROM b, m GROUP BY 1, 2),
         |w AS (SELECT event_type,
         |  sum(c1) OVER (PARTITION BY event_type ORDER BY v) AS cum1,
         |  sum(c2) OVER (PARTITION BY event_type ORDER BY v) AS cum2,
         |  sum(c1) OVER (PARTITION BY event_type) AS n1,
         |  sum(c2) OVER (PARTITION BY event_type) AS n2
         | FROM g),
         |d AS (SELECT event_type,
         |  max(abs(cum1 * n2 - cum2 * n1))::BIGINT AS dnum,
         |  max(n1)::BIGINT AS n1, max(n2)::BIGINT AS n2
         | FROM w GROUP BY 1)
         |SELECT event_type, n1, n2,
         | CASE WHEN n1 > 0 AND n2 > 0
         |  THEN round(dnum::DOUBLE / (n1 * n2), 4) END AS ks_d,
         | CASE WHEN n1 > 0 AND n2 > 0
         |  THEN round($KsCoeff * sqrt((n1 + n2)::DOUBLE / (n1 * n2)), 4) END AS ks_crit,
         | (n1 > 0 AND n2 > 0 AND coalesce(dnum::DOUBLE / (n1 * n2)
         |   > $KsCoeff * sqrt((n1 + n2)::DOUBLE / (n1 * n2)), false)) AS shifted
         |FROM d ORDER BY event_type""".stripMargin)
}
