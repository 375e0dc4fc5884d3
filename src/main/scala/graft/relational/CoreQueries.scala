package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core relational foundation (SURVEY.md §2 #1-5).
  *
  * These exercise the engine primitives everything else composes:
  * scan→filter→agg, multi-way joins with broadcast dims, window functions,
  * rollup, and semi/anti joins. All plans are declarative DataFrame ops so
  * Catalyst gets pushdown/pruning/join-reorder for free; every query ends in
  * a deterministic orderBy and rounds floats so the DuckDB oracle compare is
  * stable.
  */
object CoreQueries extends graft.QueryModule {

  /** TPC-H Q1-style pricing summary: single scan, map-side partial agg. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-12-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // money/qty columns are exact 2-decimal quantities: DECIMAL sums are
        // order-independent, so a parquet-layout change can never flip a
        // round-2 boundary (the sf1 insurance finding on q2_revenue_topn)
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2).as("sum_base_price"),
        round(sum((col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))).cast("double"), 2).as("sum_disc_price"),
        round(sum((col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))) * (lit(1).cast("decimal(18,2)") + col("l_tax").cast("decimal(18,2)"))).cast("double"), 2).as("sum_charge"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)), 4).as("avg_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / count(lit(1)), 4).as("avg_price"),
        round(sum(col("l_discount").cast("decimal(18,2)")).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Top-3 customers by revenue per nation: fact⋈fact shuffle join plus
    * broadcast dims, then a ranked window. Dims are explicitly broadcast —
    * at 100 TB the fact side never shuffles for them. */
  def q2RevenueTopN(s: SparkSession, dir: String): DataFrame =
    q2From(
      Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
      Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
      Tables.customer(s, dir).select("c_custkey", "c_name", "c_nationkey"),
      Tables.nation(s, dir).select("n_nationkey", "n_name"))

  /** q2 body over caller-supplied frames — the seam BucketingSpec uses to
    * run the SAME query over co-bucketed lineitem/orders copies, where the
    * fact⋈fact sort-merge join needs no Exchange at read time. */
  private[graft] def q2From(li: DataFrame, o: DataFrame, c: DataFrame, n: DataFrame): DataFrame = {
    // Pre-aggregate line revenue per ORDER before the fact⋈fact join
    // (r16, guide §2.2 "shuffle fewer bytes / aggregate early"): the
    // per-orderkey partial sum shares the join's hash key, so the same
    // exchange serves both, the join input shrinks by the lines-per-order
    // factor (~4x), and the price/discount columns never cross the join.
    // Revenue is an exact DECIMAL sum — associative, so grouping by order
    // first then by customer is bit-identical to the flat per-customer
    // sum (rounding happens once, at the end, as before).
    val orev = li
      .groupBy(col("l_orderkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))).as("orev"))
    val rev = orev
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"), col("c_name"))
      .agg(round(sum(col("orev")).cast("double"), 2).as("revenue"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("revenue").desc, col("c_custkey"))
    rev.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy(col("n_name"), col("rk"))
  }

  /** Running totals per supplier: row_number + cumulative sum over one
    * window partitioning (single shuffle, both functions share it).
    * l_quantity closes the order key: the synthetic lineitem carries
    * duplicate (orderkey, linenumber) rows (118k at sf0.1), and a
    * non-total window order makes the running sum engine-dependent at the
    * tie — caught by the all-SF oracle sweep, round 3. Rows tying on the
    * FULL key are interchangeable, so the sum is order-free again. */
  def q3WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    Tables.lineitem(s, dir)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_qty",
        round(sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "rn", "running_qty")
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** ROLLUP aggregation over orders; grouping nulls are coalesced to 'ALL'
    * so null-ordering semantics never enter the oracle compare. */
  def q4Rollup(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("status"), col("priority"))
  }

  /** Left-semi (EXISTS) and left-anti (NOT EXISTS) joins, tagged and
    * unioned. The anti join is the same primitive the reference's dedup
    * upsert uses (`socrata_id NOT IN ...`, main.py:368-371). */
  def q5SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    val oF  = Tables.orders(s, dir).filter(col("o_orderstatus") === "F").select("o_custkey")
    val oAll = Tables.orders(s, dir).select("o_custkey")
    val semi = c.join(oF, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_f_order"))
    val anti = c.join(oAll, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_orders"))
    semi.unionByName(anti).orderBy(col("tag"), col("c_custkey"))
  }

  /** TPC-H Q6-style forecast: tight range predicates that must ALL reach the
    * parquet scan — the pure pushdown/pruning benchmark. */
  def q6Forecast(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") * col("l_discount").cast("decimal(18,2)")).cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q14-style conditional ratio: join + conditional aggregation. */
  def q7PromoRatio(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables.part(s, dir).select("p_partkey", "p_type")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type").startsWith("STANDARD"),
          (col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))).otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum((col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))).cast("double"), 4).as("standard_pct"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q17-style: correlated per-group threshold — small-quantity
    * orders below 20% of the part's average quantity. Expressed as the
    * scalable join-against-aggregate (one extra partial-agg pass) rather
    * than a per-row correlated subquery; the oracle states it as the
    * correlated form to prove equivalence. */
  def q8SmallQty(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_partkey", "l_quantity", "l_extendedprice")
    val avgQty = li.groupBy(col("l_partkey").as("ap_key"))
      .agg((avg(col("l_quantity")) * 0.5).as("threshold"))
    val p = Tables.part(s, dir).filter(col("p_brand") === "Brand#4").select("p_partkey")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(avgQty, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < col("threshold"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n_rows"))
  }

  /** CUBE aggregation (q10): all four grouping sets over status × priority
    * in one pass — Spark expands the sets map-side and shares a single
    * shuffle, same as ROLLUP (q4) but with the full lattice. Grouping nulls
    * coalesce to 'ALL' so null ordering never enters the oracle compare. */
  def q10Cube(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)), 4).as("avg_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("avg_price"))
      .orderBy(col("status"), col("priority"))
  }

  /** TPC-H Q21 shape (q13): suppliers who were the SOLE late shipper in a
    * multi-supplier order ("late" = shipped >90 days after order date).
    * Expressed as the aggregation-based rewrite — per-(order, supplier)
    * lateness, then per-order counts, then one join back — instead of the
    * textbook correlated EXISTS + NOT EXISTS pair, which would plan as two
    * extra joins against the full fact table. The oracle states the
    * correlated form to prove equivalence. */
  def q13SoleLateSupplier(s: SparkSession, dir: String): DataFrame = {
    // no broadcast hint on orders: it is dim-sized here (auto-broadcast
    // picks it up) but NOT at warehouse scale, where the planner must be
    // free to choose the shuffle join — the scale win of this query is the
    // single fact scan below, not the join strategy
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late", col("l_shipdate") > col("o_orderdate") + expr("interval 90 days"))
    // one scan total: pre-aggregate per (order, supplier), then derive the
    // per-order qualification with windows over the SAME rows instead of
    // re-scanning the fact table for a join-back.
    // ONE exchange serves both the aggregate and the windows (r15): the
    // explicit hash-repartition by l_orderkey satisfies the aggregate's
    // (l_orderkey, l_suppkey) clustering AND the windows' l_orderkey
    // partitioning, so the fact stream shuffles once instead of twice
    // (before: Exchange(okey,skey) for the agg + Exchange(okey) for the
    // window — ~2× the post-join rows over the wire; guide §2.4). The
    // forfeited map-side combine is worth ~nothing here: (order, supplier)
    // groups average ~1 lineitem, so partial aggregation barely shrank
    // the stream.
    val perSupp = li.repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("supp_late"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late_items"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("n_supps", count(lit(1)).over(byOrder))
      .withColumn("n_late_supps", sum(when(col("supp_late"), 1L).otherwise(0L)).over(byOrder))
      .filter(col("supp_late") && col("n_supps") > 1 && col("n_late_supps") === 1)
      .groupBy(col("l_suppkey"))
      .agg(sum(col("n_late_items")).as("numwait"))
      .orderBy(col("numwait").desc, col("l_suppkey"))
      .limit(20)
  }

  /** Skew-resilient aggregation (q14): half the fact stream lands on one
    * hot key (the synthetic skew below); `SkewTools.saltedSum` spreads the
    * partial aggregation over (key, salt) before the final per-key
    * collapse, so no single reducer owns the hot key. Results are provably
    * identical to the plain groupBy — the oracle IS the plain groupBy. */
  def q14SkewAgg(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val skewKey = when(id % 2 === 0, lit(0L)).otherwise(id % 97)
    graft.operators.SkewTools
      .saltedSum(Tables.events(s, dir), skewKey, col("value"), buckets = 16,
        spreadBy = id)
      .select(col("k"), round(col("sum_v"), 2).as("sum_v"), col("n"))
      .orderBy(col("k"))
  }

  /** As-of join (q9): each event attributed to the user's most recent
    * signup at-or-before it — the backward as-of join Spark lacks natively,
    * via the union + single-window decomposition (operators/AsofJoin). */
  def q9Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val signups = Tables.events(s, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("s_ts"), col("event_id").as("signup_id"))
    graft.operators.AsofJoin
      .asofBackward(ev, signups, Seq("user_id"), "ts", "s_ts", "signup_id")
      .select(col("event_id"), col("user_id"), col("signup_id"))
      .orderBy(col("event_id"))
  }

  /** #5k TPC-H Q15 shape — top supplier by quarterly revenue: the
    * aggregate-of-aggregate pattern (a revenue "view" + the global max
    * over it + an equality join back). The max is a one-row broadcast
    * against the tracked |suppliers|-row revenue aggregate — never a
    * global window (a single-partition sort at 100 TB) and never a
    * recompute of the view; ties all return, per the spec's Q15
    * semantics. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = graft.CacheRegistry.track(
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
        .groupBy(col("l_suppkey"))
        .agg(round(sum((col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))).cast("double"), 2)
          .as("total_revenue")))
    val mx = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** #5l TPC-H Q13 shape — customer order-count distribution INCLUDING the
    * zero-order customers an inner join silently drops (the classic
    * left-outer + double-aggregate pattern). The orders side is
    * pre-aggregated to a per-custkey count BEFORE the join — map-side
    * combinable, so the join carries |customers| + |active custkeys| rows
    * instead of the raw order fan-out, and the histogram aggregate is a
    * |distinct counts|-key reduction. At 100 TB the join is an equi-join on
    * the uniform customer key; nothing wide ever shuffles. */
  def q16CustOrderDist(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** #5m TPC-H Q18 shape — large-volume orders: the HAVING-filtered
    * semi-join pattern (find the aggregate outliers, then join the
    * qualifying keys back for their context rows). The per-order quantity
    * aggregate is map-side combinable and the qualifying-keys frame is a
    * tiny fraction of orders — broadcast back against orders and customer,
    * so the fact table is scanned once for the aggregate and the context
    * join carries only survivors. */
  val Q18MinQty = 250.0

  def q18BigOrders(s: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"))
      .filter(col("sum_qty") > Q18MinQty)
    Tables.orders(s, dir)
      .join(broadcast(qty), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
  }

  /** #5n TPC-H Q19 shape — disjunctive multi-branch predicate revenue
    * (OR-of-ANDs mixing dim and fact attributes): the predicate class that
    * separates engines with real CNF handling from ones that fall back to
    * scanning everything. Emitted per branch (3 rows) so the breakdown is
    * auditable. The part dim broadcasts; Catalyst extracts the common
    * `p_size >= 1` / brand-IN factors for pushdown while the full
    * disjunction evaluates post-join — the fact side never shuffles. */
  def q19DiscRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val branch = when(col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11), "small")
      .when(col("p_brand") === "Brand#22" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20), "medium")
      .when(col("p_brand") === "Brand#33" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30), "large")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("branch", branch)
      .filter(col("branch").isNotNull)
      .groupBy(col("branch"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum((col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))).cast("double"), 2).as("revenue"))
      .orderBy(col("branch"))
  }

  /** #5o TPC-H Q22 shape — dormant high-balance customers: the
    * scalar-average subquery + anti-join combination (who holds
    * above-average money but stopped ordering — the "dormant value"
    * report; Q22's "no orders" gate time-scoped to after [[Q22Dormant]]
    * so the question is dormancy, not lifetime abstinence). The global
    * average is a one-row broadcast over the positive-balance aggregate
    * (never a window over customers), the dormancy test is a left-anti
    * hash join against the DISTINCT recent-order custkeys — the date
    * predicate pushes into the orders scan — and the readout is one
    * |nations|-key aggregate. The membership test "balance > mean" runs
    * in exact integer cents by cross-multiplication (cents·n > Σcents) —
    * an order-dependent floating-point mean would let a customer within
    * one ulp of it flip between engines/partitionings (the repo-wide
    * float-free-threshold convention). */
  val Q22Dormant = "2000-06-01 00:00:00"

  def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(sum(col("bal_cents")).as("sum_cents"), count(lit(1)).as("n_pos"))
    val buyers = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(Q22Dormant)))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(avgBal))
      .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
      .join(buyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"), round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2).as("total_bal"))
      .orderBy(col("n_name"))
  }

  /** #5p TPC-H Q11 shape — "important stock": per-part value thresholded
    * against a scalar aggregate of the SAME per-part aggregate (group-by +
    * HAVING over a share of the total — the one scalar-subquery shape q22's
    * broadcast covers pre-aggregation but not post-). The fact table is
    * scanned ONCE: the per-part aggregate is persisted (CacheRegistry) and
    * feeds both the one-row total re-aggregate (broadcast back as a
    * scalar) and the share filter — the naive correlated form scans the
    * fact twice. The cut is scale-invariant — value > [[Q11MeanNum]]/[[Q11MeanDen]]× the
    * MEAN part value (TPC-H's own fraction·SF trick, without baking a
    * scale factor into the query) — and compares in exact integer cents
    * by cross-multiplication (den·value·n_parts > num·total), never a float
    * share; the fixed-point headroom (Σcents·n_parts < 2^63) holds to
    * ~10^9 parts of ~10^7-cent value, past which the comparison moves to
    * the documented 128-bit/decimal form. */
  val Q11MeanNum = 3L
  val Q11MeanDen = 2L

  def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val perPart = graft.CacheRegistry.track(
      Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("value_cents")))
    val total = perPart.agg(sum(col("value_cents")).as("total_cents"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter(lit(Q11MeanDen) * col("value_cents") * col("n_parts") >
        lit(Q11MeanNum) * col("total_cents"))
      .select(col("l_partkey").as("p_partkey"),
        round(col("value_cents").cast("double") / 100.0, 2).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** #5q TPC-H Q20 shape — supply-concentration audit: the nested
    * two-level semi (parts of one brand → per (supplier, part) correlated
    * aggregate comparing a scoped sum against the lifetime sum → suppliers
    * having any qualifying part). The correlated subquery collapses into
    * ONE conditional aggregate over a single fact scan — q95 and qall are
    * two sums of the same grouped pass, never a fact-to-fact self-join —
    * with the brand filter applied as a broadcast left-semi BEFORE the
    * aggregate so non-brand lineitems never shuffle. Quantities compare
    * as exact integer centiquantities (2·q95 > qall). */
  val Q20Brand = "Brand#11"
  val Q20Year = 1995

  def q20PartSupplier(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") === Q20Brand).select(col("p_partkey"))
    val li = Tables.lineitem(s, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_suppkey"), col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("qc"),
        (year(col("l_shipdate")) === Q20Year).as("in_year"))
    val conc = li.groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(when(col("in_year"), col("qc")).otherwise(0L)).as("q95"),
        sum(col("qc")).as("qall"))
      .filter(col("q95") * 2 > col("qall"))
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_parts"))
    conc
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"), col("n_parts"))
      .orderBy(col("s_suppkey"))
  }

  /** #5t TPC-H Q2 shape — per-part minimum-cost supplier within one region
    * (the correlated scalar-min subquery + join-back, WITH ties kept). The
    * testdata has no partsupp table, so the supply cost is the observed one:
    * the minimum unit price (exact integer cents, round(price/qty·100)) any
    * lineitem of that (part, supplier) traded at — derived from the same
    * fact table both engines read.
    *
    * Plan shape (the min-per-group-then-rejoin discipline the q8/q15/q17
    * family circles): region suppliers are a broadcast semi-join cut BEFORE
    * the aggregate (non-region lineitems never shuffle); the per-(part,
    * supplier) cost aggregate runs on ONE fact scan (cached — it feeds the
    * per-part min AND the join-back); the per-part min is an aggregate OF
    * that aggregate (|parts| rows, broadcast back) — never a window over
    * the fact; name dims ride in as broadcasts. At 100 TB the only fact
    * shuffle is the (part, supplier) aggregate exchange on uniform keys. */
  val Q21Region = "EUROPE"

  def q21MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val regionSupp = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir).filter(col("r_name") === Q21Region),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val cost = graft.CacheRegistry.track(
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 0)
        .join(broadcast(regionSupp.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(round(col("l_extendedprice") / col("l_quantity") * 100).cast("long"))
          .as("cost_cents")))
    val mn = cost.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost_cents")).as("min_cents"))
    cost
      .join(broadcast(mn),
        col("l_partkey") === col("m_partkey") && col("cost_cents") === col("min_cents"))
      .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_suppkey"), col("s_name"),
        col("n_name"), col("cost_cents"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** #5u TPC-H Q7 shape — cross-nation trade volume: revenue shipped
    * between two named nations in both directions, per shipment year (the
    * two-sided dim-pair filter + fact⋈fact join). Plan discipline: BOTH
    * fact sides are cut to the nation pair BEFORE the orderkey join — the
    * supplier-nation broadcast prunes lineitem to suppliers of either
    * nation, the customer-nation broadcast prunes orders to customers of
    * either nation — so the only big shuffle (fact⋈fact on l_orderkey)
    * carries two already-filtered slivers, not the raw tables. Revenue
    * sums in exact integer cents (order-independent), displayed /100. */
  val Q23NationA = "NATION_13"
  val Q23NationB = "NATION_19"

  def q23NationVolume(s: SparkSession, dir: String): DataFrame = {
    val nations = Tables.nation(s, dir)
      .filter(col("n_name").isin(Q23NationA, Q23NationB))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).as("l_year"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("cents")).cast("double") / 100.0, 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** #5v TPC-H Q8 shape — national market share: the fraction of one
    * region's customer revenue supplied by one nation, per order year (the
    * conditional-share-of-total aggregate over a two-sided dim cut). The
    * orders side is cut to the region's customers by broadcast BEFORE the
    * fact⋈fact join; the supplier nation rides in as a broadcast flag on
    * lineitem. Numerator and denominator are exact integer-cents sums —
    * the share is ONE double division at the end, so partitioning can
    * never move it (the repo-wide float-threshold convention). */
  val Q24Region = "AMERICA"
  val Q24Nation = "NATION_19"

  def q24MarketShare(s: SparkSession, dir: String): DataFrame = {
    val regionNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === Q24Region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("c_custkey"))
    val suppFlag = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === Q24Nation).as("is_nat"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .join(broadcast(suppFlag), col("l_suppkey") === col("s_suppkey"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("is_nat"), col("cents")).otherwise(0L)).as("nat_cents"),
        sum(col("cents")).as("all_cents"), count(lit(1)).as("n_lines"))
      .select(col("o_year"),
        round(col("nat_cents").cast("double") / col("all_cents"), 4).as("mkt_share"),
        round(col("all_cents").cast("double") / 100.0, 2).as("total_revenue"),
        col("n_lines"))
      .orderBy(col("o_year"))
  }

  /** #5w TPC-H Q4 shape — order-priority checking: how many orders placed
    * in one quarter had at least one SLOW lineitem (shipped more than
    * [[Q25LateDays]] days after the order date — the testdata's stand-in
    * for Q4's commitdate<receiptdate, which the synthetic schema lacks),
    * counted per priority. The EXISTS collapses to a left-semi hash join
    * whose PROBE side is the quarter-filtered orders (the date range
    * pushes into the orders scan) and whose build side is pre-projected
    * lineitems — the correlated predicate (l_shipdate vs o_orderdate)
    * rides the join condition, so neither fact is scanned twice and
    * nothing aggregates before the |priorities|-key count. */
  val Q25Quarter = ("1997-01-01 00:00:00", "1997-04-01 00:00:00")
  val Q25LateDays = 60

  def q25PriorityCheck(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(Q25Quarter._1)) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf(Q25Quarter._2)))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr(s"interval $Q25LateDays days"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** #5x TPC-H Q10 shape — returned-item reporting: the top [[Q26TopN]]
    * customers by revenue lost to returns ('R' lineitems against orders
    * placed in one quarter) with their nation named. The returnflag and
    * date predicates push into their scans; revenue accumulates in exact
    * integer cents per customer (map-side combinable); the top-N is
    * TakeOrderedAndProject (per-partition heads, no global sort) and only
    * then do the |N| survivors fetch customer/nation names via broadcast.
    * Ties at the cut break on (revenue desc, custkey) — a total order. */
  val Q26Quarter = ("1996-07-01 00:00:00", "1996-10-01 00:00:00")
  val Q26TopN = 20

  def q26ReturnedCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(Q26Quarter._1)) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf(Q26Quarter._2)))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"))
    val per = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("cents")).as("lost_cents"), count(lit(1)).as("n_returned"))
      .orderBy(col("lost_cents").desc, col("o_custkey")).limit(Q26TopN)
    per
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("lost_cents").cast("double") / 100.0, 2).as("lost_revenue"),
        col("n_returned"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
  }

  /** #5y TPC-H Q12 shape — late-line priority audit: per lineitem STATUS
    * class, how many of its lines belong to critical-priority orders
    * (1-URGENT / 2-HIGH) vs not, restricted to lines shipped more than
    * [[Q27LateDays]] days after their order date (the "did slow logistics
    * hit critical orders" report; TPC-H's shipmode column does not exist
    * in the synthetic schema — l_linestatus takes its grouping role).
    * ONE fact⋈fact join carries the date predicate; the two counts are
    * conditional sums of the same grouped pass — never two scans. */
  val Q27LateDays = 90

  def q27LatePriority(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr(s"interval $Q27LateDays days"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** #5z TPC-H Q3 shape — shipping-priority report: the top [[Q28TopN]]
    * unshipped orders by open revenue for one market segment as of a cut
    * date (orders placed BEFORE it, lines shipped AFTER it — the
    * "in-flight value" question). The segment cut rides in as a broadcast
    * semi on custkeys BEFORE the fact⋈fact join, and both date predicates
    * push into their parquet scans, so the orderkey join carries two
    * pre-filtered slivers. Revenue accumulates in exact integer cents per
    * order (map-side combinable); the top-N is TakeOrderedAndProject —
    * per-partition heads, never a global sort — with a total-order
    * tie-break (revenue desc, orderkey). */
  val Q28Segment = "BUILDING"
  val Q28CutDate = "1997-06-01 00:00:00"
  val Q28TopN = 10

  def q28ShipPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(java.sql.Timestamp.valueOf(Q28CutDate))
    val segCust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === Q28Segment).select(col("c_custkey"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(broadcast(segCust), col("o_custkey") === col("c_custkey"), "left_semi")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("cents")).as("rev_cents"))
      .orderBy(col("rev_cents").desc, col("l_orderkey")).limit(Q28TopN)
      .select(col("l_orderkey").as("o_orderkey"),
        round(col("rev_cents").cast("double") / 100.0, 2).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
  }

  /** #6a TPC-H Q5 shape — local-supplier volume: revenue per nation of one
    * region where the CUSTOMER and the SUPPLIER sit in the SAME nation
    * (the two-dim equality constraint that distinguishes Q5 from a plain
    * region rollup), over one order year. Both region cuts ride in as
    * broadcasts carrying the nationkey BEFORE the fact⋈fact join — the
    * lineitem side resolves its supplier nation, the orders side its
    * customer nation (with the year predicate pushed into the orders
    * scan) — so the only big shuffle is the orderkey join of two
    * pre-filtered slivers, and the same-nation equality is evaluated
    * post-join with no extra exchange. Exact integer-cents revenue. */
  val Q29Region = "ASIA"
  val Q29Year = ("1996-01-01 00:00:00", "1997-01-01 00:00:00")

  def q29LocalVolume(s: SparkSession, dir: String): DataFrame = {
    val regionNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === Q29Region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(regionNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(regionNations.select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"), "left_semi")
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(Q29Year._1)) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf(Q29Year._2)))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("cents")).cast("double") / 100.0, 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** #6b TPC-H Q9 shape — product-type profit: per supplier nation per
    * order year, profit on parts whose name matches [[Q30PartWord]],
    * where profit = revenue − supply cost × quantity. The testdata has no
    * partsupp table, so the supply cost is the observed one — the minimum
    * unit price (exact integer cents) any lineitem of that (part,
    * supplier) traded at, derived from the same fact both engines read
    * (the q21 convention).
    *
    * Plan shape: the part-name cut is a broadcast semi BEFORE everything
    * (non-matching lines never move); the per-(part, supplier) cost is an
    * aggregate on ONE cached scan of that sliver, broadcast BACK onto it
    * (the fact never shuffles on (part, supplier) — only |pairs| partial
    * aggregates do); the order year rides the orderkey fact⋈fact join;
    * profit accumulates in exact integer cents (quantity is integral in
    * this corpus, so cost·qty stays in longs). */
  val Q30PartWord = "widget"

  def q30ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_name").contains(Q30PartWord)).select(col("p_partkey"))
    val li = graft.CacheRegistry.track(
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 0)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"),
          round(col("l_extendedprice") / col("l_quantity") * 100)
            .cast("long").as("unit_cents")))
    val cost = li.groupBy(col("l_partkey").as("c_partkey"), col("l_suppkey").as("c_suppkey"))
      .agg(min(col("unit_cents")).as("cost_cents"))
    val suppNation = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    li.join(broadcast(cost),
        col("l_partkey") === col("c_partkey") && col("l_suppkey") === col("c_suppkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(round((sum(col("rev_cents")) - sum(col("cost_cents") * col("qty")))
          .cast("double") / 100.0, 2).as("profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** #6c TPC-H Q16 shape — parts/supplier relationship: how many DISTINCT
    * suppliers can supply each (brand, type, size) bucket, excluding one
    * brand, one type, restricting to a size list, and excluding
    * "complaint" suppliers (the synthetic schema has no s_comment, so the
    * stand-in is a negative account balance — the NOT IN anti-join shape
    * is what Q16 exercises). The testdata has no partsupp table, so the
    * supplier set of a part is the observed one: DISTINCT (part,
    * supplier) pairs from the fact.
    *
    * Plan shape: part predicates ride a broadcast join BEFORE the distinct
    * (non-qualifying lines never shuffle); complaint suppliers are a
    * broadcast anti; the (part, supplier) distinct and the per-bucket
    * COUNT(DISTINCT suppkey) share Spark's two-level distinct-aggregate
    * expansion — partial aggregation keeps the exchange at |pairs|, never
    * raw fact rows. */
  val Q31ExcludeBrand = "Brand#13"
  val Q31ExcludeType = "PROMO"
  val Q31Sizes = Seq(1, 4, 9, 16, 25, 36, 49)

  def q31SupplierParts(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= Q31ExcludeBrand && col("p_type") =!= Q31ExcludeType &&
        col("p_size").isin(Q31Sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val complaintSupp = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaintSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q28_ship_priority"  -> (q28ShipPriority _),
    "q29_local_volume"   -> (q29LocalVolume _),
    "q30_product_profit" -> (q30ProductProfit _),
    "q31_supplier_parts" -> (q31SupplierParts _),
    "q25_priority_check" -> (q25PriorityCheck _),
    "q26_returned_customers" -> (q26ReturnedCustomers _),
    "q27_late_priority"  -> (q27LatePriority _),
    "q23_nation_volume"  -> (q23NationVolume _),
    "q24_market_share"   -> (q24MarketShare _),
    "q21_min_cost_supplier" -> (q21MinCostSupplier _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q20_part_supplier"  -> (q20PartSupplier _),
    "q22_idle_balance"   -> (q22IdleBalance _),
    "q15_top_supplier"   -> (q15TopSupplier _),
    "q16_cust_order_dist" -> (q16CustOrderDist _),
    "q18_big_orders"     -> (q18BigOrders _),
    "q19_disc_revenue"   -> (q19DiscRevenue _),
    "q8_small_qty"       -> (q8SmallQty _),
    "q9_asof"            -> (q9Asof _),
    "q10_cube"           -> (q10Cube _),
    "q13_sole_late_supplier" -> (q13SoleLateSupplier _),
    "q14_skew_agg"       -> (q14SkewAgg _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_revenue_topn"    -> (q2RevenueTopN _),
    "q3_window_running"  -> (q3WindowRunning _),
    "q4_rollup"          -> (q4Rollup _),
    "q5_semi_anti"       -> (q5SemiAnti _),
    "q6_forecast"        -> (q6Forecast _),
    "q7_promo_ratio"     -> (q7PromoRatio _))

  val oracles: Map[String, String] = Map(
    "q28_ship_priority" ->
      s"""WITH per AS (SELECT l_orderkey AS o_orderkey,
         |  sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS rev_cents,
         |  any_value(o_orderdate) AS o_orderdate,
         |  any_value(o_orderpriority) AS o_orderpriority
         | FROM lineitem JOIN orders ON l_orderkey = orders.o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | WHERE c_mktsegment = '$Q28Segment'
         |  AND o_orderdate < TIMESTAMP '$Q28CutDate'
         |  AND l_shipdate > TIMESTAMP '$Q28CutDate'
         | GROUP BY 1 ORDER BY rev_cents DESC, o_orderkey LIMIT $Q28TopN)
         |SELECT o_orderkey, round(rev_cents::DOUBLE / 100.0, 2) AS revenue,
         | o_orderdate, o_orderpriority
         |FROM per ORDER BY revenue DESC, o_orderkey""".stripMargin,
    "q29_local_volume" ->
      s"""SELECT n_name,
         | round(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::DOUBLE / 100.0, 2) AS revenue,
         | count(*)::BIGINT AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = '$Q29Region'
         |  AND o_orderdate >= TIMESTAMP '${Q29Year._1}'
         |  AND o_orderdate < TIMESTAMP '${Q29Year._2}'
         |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q30_product_profit" ->
      s"""WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
         |  l_quantity::BIGINT AS qty,
         |  round(l_extendedprice * (1 - l_discount) * 100)::BIGINT AS rev_cents,
         |  round(l_extendedprice / l_quantity * 100)::BIGINT AS unit_cents
         | FROM lineitem
         | WHERE l_quantity > 0
         |   AND l_partkey IN (SELECT p_partkey FROM part
         |   WHERE p_name LIKE '%$Q30PartWord%')),
         |cost AS (SELECT l_partkey, l_suppkey,
         |  min(unit_cents)::BIGINT AS cost_cents
         | FROM li GROUP BY 1, 2)
         |SELECT n_name, year(o_orderdate)::INTEGER AS o_year,
         | round((sum(rev_cents) - sum(cost_cents * qty))::DOUBLE / 100.0, 2) AS profit,
         | count(*)::BIGINT AS n_lines
         |FROM li
         |JOIN cost USING (l_partkey, l_suppkey)
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q31_supplier_parts" ->
      s"""SELECT p_brand, p_type, p_size,
         | count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand <> '$Q31ExcludeBrand'
         |  AND p_type <> '$Q31ExcludeType'
         |  AND p_size IN (${Q31Sizes.mkString(", ")})
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q25_priority_check" ->
      s"""SELECT o_orderpriority, count(*)::BIGINT AS order_count
         |FROM orders o
         |WHERE o_orderdate >= TIMESTAMP '${Q25Quarter._1}'
         |  AND o_orderdate < TIMESTAMP '${Q25Quarter._2}'
         |  AND EXISTS (SELECT 1 FROM lineitem l
         |    WHERE l.l_orderkey = o.o_orderkey
         |      AND l.l_shipdate > o.o_orderdate + INTERVAL $Q25LateDays DAY)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q26_returned_customers" ->
      s"""WITH per AS (SELECT o_custkey,
         |  sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS lost_cents,
         |  count(*)::BIGINT AS n_returned
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '${Q26Quarter._1}'
         |  AND o_orderdate < TIMESTAMP '${Q26Quarter._2}'
         | GROUP BY 1 ORDER BY lost_cents DESC, o_custkey LIMIT $Q26TopN)
         |SELECT c.c_custkey, c.c_name, n.n_name,
         | round(per.lost_cents::DOUBLE / 100.0, 2) AS lost_revenue, per.n_returned
         |FROM per JOIN customer c ON c.c_custkey = per.o_custkey
         |JOIN nation n ON n.n_nationkey = c.c_nationkey
         |ORDER BY lost_revenue DESC, c_custkey""".stripMargin,
    "q27_late_priority" ->
      s"""SELECT l_linestatus,
         | sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |   THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
         | sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |   THEN 0 ELSE 1 END)::BIGINT AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_shipdate > o_orderdate + INTERVAL $Q27LateDays DAY
         |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q23_nation_volume" ->
      s"""SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
         | year(l_shipdate)::INTEGER AS l_year, count(*)::BIGINT AS n_lines,
         | round(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::DOUBLE / 100.0, 2) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE n1.n_name IN ('$Q23NationA', '$Q23NationB')
         |  AND n2.n_name IN ('$Q23NationA', '$Q23NationB')
         |  AND n1.n_name <> n2.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q24_market_share" ->
      s"""WITH j AS (SELECT year(o_orderdate)::INTEGER AS o_year,
         |  round(l_extendedprice * (1 - l_discount) * 100)::BIGINT AS cents,
         |  (sn.n_name = '$Q24Nation') AS is_nat
         | FROM lineitem
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation cn ON c_nationkey = cn.n_nationkey
         | JOIN region ON cn.n_regionkey = r_regionkey
         | JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation sn ON s_nationkey = sn.n_nationkey
         | WHERE r_name = '$Q24Region')
         |SELECT o_year,
         | round(sum(CASE WHEN is_nat THEN cents ELSE 0 END)::DOUBLE / sum(cents), 4) AS mkt_share,
         | round(sum(cents)::DOUBLE / 100.0, 2) AS total_revenue,
         | count(*)::BIGINT AS n_lines
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_min_cost_supplier" ->
      s"""WITH rs AS (SELECT s_suppkey, s_name, n_name
         | FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
         | JOIN region r ON n.n_regionkey = r.r_regionkey
         | WHERE r.r_name = '$Q21Region'),
         |cost AS (SELECT l_partkey, l_suppkey,
         |  min(round(l_extendedprice / l_quantity * 100)::BIGINT)::BIGINT AS cost_cents
         | FROM lineitem
         | WHERE l_quantity > 0 AND l_suppkey IN (SELECT s_suppkey FROM rs)
         | GROUP BY 1, 2),
         |mn AS (SELECT l_partkey, min(cost_cents) AS min_cents FROM cost GROUP BY 1)
         |SELECT c.l_partkey AS p_partkey, rs.s_suppkey, rs.s_name, rs.n_name, c.cost_cents
         |FROM cost c JOIN mn ON mn.l_partkey = c.l_partkey AND c.cost_cents = mn.min_cents
         |JOIN rs ON rs.s_suppkey = c.l_suppkey
         |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q11_important_stock" ->
      s"""WITH pp AS (SELECT l_partkey,
         |  sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS value_cents
         | FROM lineitem GROUP BY 1),
         |t AS (SELECT sum(value_cents)::BIGINT AS total_cents,
         |  count(*)::BIGINT AS n_parts FROM pp)
         |SELECT l_partkey AS p_partkey,
         | round(value_cents::DOUBLE / 100.0, 2) AS value
         |FROM pp, t WHERE $Q11MeanDen * value_cents * n_parts > $Q11MeanNum * total_cents
         |ORDER BY value DESC, p_partkey""".stripMargin,
    "q20_part_supplier" ->
      s"""WITH li AS (SELECT l_suppkey, l_partkey,
         |  round(l_quantity * 100)::BIGINT AS qc,
         |  (year(l_shipdate) = $Q20Year) AS in_year
         | FROM lineitem
         | WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = '$Q20Brand')),
         |per AS (SELECT l_suppkey, l_partkey,
         |  sum(CASE WHEN in_year THEN qc ELSE 0 END)::BIGINT AS q95,
         |  sum(qc)::BIGINT AS qall
         | FROM li GROUP BY 1, 2),
         |conc AS (SELECT l_suppkey, count(*)::BIGINT AS n_parts FROM per
         | WHERE q95 * 2 > qall GROUP BY 1)
         |SELECT s.s_suppkey, s.s_name, n.n_name, c.n_parts
         |FROM conc c JOIN supplier s ON s.s_suppkey = c.l_suppkey
         |JOIN nation n ON n.n_nationkey = s.s_nationkey
         |ORDER BY s.s_suppkey""".stripMargin,
    "q22_idle_balance" ->
      s"""SELECT n.n_name, count(*)::BIGINT AS n_custs,
         | round(sum(c.c_acctbal::DECIMAL(18,2))::DOUBLE, 2) AS total_bal
         |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         |WHERE round(c.c_acctbal * 100)::BIGINT *
         |  (SELECT count(*) FROM customer WHERE c_acctbal > 0) >
         |  (SELECT sum(round(c_acctbal * 100)::BIGINT) FROM customer WHERE c_acctbal > 0)
         |AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |  AND o.o_orderdate >= TIMESTAMP '$Q22Dormant')
         |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    "q19_disc_revenue" ->
      """WITH j AS (SELECT
        | CASE WHEN p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 11 THEN 'small'
        |      WHEN p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
        |        AND l_quantity BETWEEN 10 AND 20 THEN 'medium'
        |      WHEN p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35
        |        AND l_quantity BETWEEN 20 AND 30 THEN 'large' END AS branch,
        | l_extendedprice, l_discount
        | FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT branch, count(*)::BIGINT AS n_lines,
        | round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 2) AS revenue
        |FROM j WHERE branch IS NOT NULL
        |GROUP BY branch ORDER BY branch""".stripMargin,
    "q18_big_orders" ->
      s"""WITH q AS (SELECT l_orderkey, round(sum(l_quantity::DECIMAL(18,2))::DOUBLE, 2) AS sum_qty
         | FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity::DECIMAL(18,2))::DOUBLE, 2) > $Q18MinQty)
         |SELECT o.o_orderkey, c.c_custkey, c.c_name, o.o_orderdate,
         | round(o.o_totalprice, 2) AS o_totalprice, q.sum_qty
         |FROM orders o
         |JOIN q ON o.o_orderkey = q.l_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |ORDER BY q.sum_qty DESC, o.o_orderkey""".stripMargin,
    "q16_cust_order_dist" ->
      """WITH pc AS (SELECT o_custkey, count(*)::BIGINT AS n FROM orders
        | WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(pc.n, 0)::BIGINT AS c_count, count(*)::BIGINT AS custdist
        |FROM customer c LEFT JOIN pc ON pc.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH r AS (SELECT l_suppkey,
        |  round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 2) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM r)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q13_sole_late_supplier" ->
      """SELECT l1.l_suppkey, count(*) AS numwait
        |FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        |AND EXISTS (SELECT 1 FROM lineitem l2
        |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |    AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY numwait DESC, l1.l_suppkey LIMIT 20""".stripMargin,
    "q14_skew_agg" ->
      """SELECT (CASE WHEN event_id % 2 = 0 THEN 0 ELSE event_id % 97 END)::BIGINT AS k,
        | round(sum(value), 2) AS sum_v, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q10_cube" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        | coalesce(o_orderpriority,'ALL') AS priority,
        | count(*) AS n_orders, round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE / count(*),4) AS avg_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    // the same union + window decomposition, stated in SQL — right rows at
    // an equal timestamp sort before left rows (tag), right-row ties
    // resolve to the highest signup_id (last_value over id-asc order)
    "q9_asof" ->
      """WITH u AS (
        | SELECT user_id, ts AS at, 1 AS tag, event_id, NULL::BIGINT AS signup_id FROM events
        | UNION ALL
        | SELECT user_id, ts AS at, 0 AS tag, NULL::BIGINT AS event_id, event_id AS signup_id
        | FROM events WHERE event_type = 'signup'),
        |w AS (
        | SELECT event_id, user_id, tag,
        |  last_value(signup_id IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY at ASC, tag ASC, signup_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup
        | FROM u)
        |SELECT event_id, user_id, asof_signup AS signup_id
        |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity::DECIMAL(18,2))::DOUBLE,2) AS sum_qty,
        | round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE,2) AS sum_base_price,
        | round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE,2) AS sum_disc_price,
        | round(sum((l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)) * (1 + l_tax)::DECIMAL(18,2))::DOUBLE,2) AS sum_charge,
        | round(sum(l_quantity::DECIMAL(18,2))::DOUBLE / count(*),4) AS avg_qty,
        | round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / count(*),4) AS avg_price,
        | round(sum(l_discount::DECIMAL(18,2))::DOUBLE / count(*),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_topn" ->
      """WITH rev AS (
        | SELECT n_name, c_custkey, c_name,
        |  round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE,2) AS revenue
        | FROM lineitem
        | JOIN orders   ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation   ON c_nationkey = n_nationkey
        | GROUP BY n_name, c_custkey, c_name)
        |SELECT n_name, c_custkey, c_name, revenue, rk FROM (
        | SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS rk
        | FROM rev) t
        |WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin,
    "q3_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | row_number() OVER w AS rn,
        | round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
        |ORDER BY l_suppkey, rn""".stripMargin,
    "q4_rollup" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        | coalesce(o_orderpriority,'ALL') AS priority,
        | count(*) AS n_orders, round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE,2) AS sum_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q5_semi_anti" ->
      """SELECT c_custkey, c_name, 'has_f_order' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin,
    "q6_forecast" ->
      """SELECT round(sum(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2))::DOUBLE, 2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q8_small_qty" ->
      """SELECT round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 7.0, 2) AS avg_yearly, count(*) AS n_rows
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (
        |    SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""".stripMargin,
    "q7_promo_ratio" ->
      """SELECT round(
        |  100.0 * sum(CASE WHEN p_type LIKE 'STANDARD%'
        |    THEN l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2) ELSE 0::DECIMAL(18,2) END)::DOUBLE /
        |  sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 4) AS standard_pct,
        | count(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin)
}
