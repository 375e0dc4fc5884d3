package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ScopedConf, Tables, TestSpark}
import graft.etl.Synth

class RewriteContainmentJoinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** A 1-byte broadcast threshold puts every bounds side over it, so the
    * rule's size routing rewrites any matching join. */
  private def overThreshold[T](body: => T): T =
    ScopedConf.run(spark, "spark.sql.autoBroadcastJoinThreshold", "1")(body)

  private def points = {
    val id = col("event_id")
    Tables.events(spark, TestSpark.sf)
      .select(id, Synth.cartoLng(id).as("lng"), Synth.cartoLat(id).as("lat"))
      .filter(col("lng").isNotNull)
  }

  private def zones = Tables.region(spark, TestSpark.sf).select(
    col("r_name").as("zone"),
    (lit(-74.25) + col("r_regionkey") * lit(0.1)).as("west"),
    (lit(-74.25) + (col("r_regionkey") + lit(1)) * lit(0.1)).as("east"),
    lit(40.50).as("south"), lit(40.90).as("north"))

  private def boxJoin = points.join(zones,
    col("lng") >= col("west") && col("lng") < col("east") &&
      col("lat") >= col("south") && col("lat") < col("north"))
    .select("event_id", "zone")

  test("rule rewrites the containment join to a cell equi-join with identical results") {
    RewriteContainmentJoin.install(spark)
    val baseline = boxJoin.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    overThreshold {
      val rewritten = boxJoin
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"), s"rule should remove the nested loop:\n$plan")
      assert(plan.contains("_gcell"), "cell key must drive the join")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == baseline)
    }
  }

  test("rule is inert when disabled or on non-matching joins") {
    RewriteContainmentJoin.install(spark)
    // the 5-row zone dim sits below the default threshold: no rewrite
    assert(boxJoin.queryExecution.executedPlan.toString.contains("NestedLoop"))
    overThreshold {
      // equi-join: no box pattern, must be untouched
      val o = Tables.orders(spark, TestSpark.sf)
      val c = Tables.customer(spark, TestSpark.sf)
      val eq = o.join(c, col("o_custkey") === col("c_custkey"))
      assert(!eq.queryExecution.executedPlan.toString.contains("_gcell"))
    }
  }

  test("rule leaves non-double interval joins (dates, longs) untouched") {
    RewriteContainmentJoin.install(spark)
    overThreshold {
      import spark.implicits._
      // a long-typed temporal range join: rewriting it through
      // Floor(Divide(x, 0.05))/Sequence would be an invalid plan
      val evs = Seq((1L, 5L), (2L, 15L)).toDF("eid", "t")
      val ranges = Seq(("a", 0L, 10L), ("b", 10L, 20L)).toDF("name", "lo", "hi")
      val joined = evs.join(ranges, col("t") >= col("lo") && col("t") < col("hi"))
      assert(!joined.queryExecution.executedPlan.toString.contains("_gcell"),
        "long-typed intervals must not be cell-decomposed")
      val got = joined.select("eid", "name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b")))
    }
  }

  test("rule catches points between a cell edge and a straddling sliver hi") {
    RewriteContainmentJoin.install(spark)
    overThreshold {
      import spark.implicits._
      // cell edge at 0.05 (CellDeg grid); box hi sits 1e-13 above it — the
      // point at exactly 0.05 is in [w, e) but lives in the NEXT cell
      val pts = Seq((1L, 0.05, 0.01), (2L, 0.0500000000002, 0.01)).toDF("pid", "x", "y")
      val boxes = Seq(("straddle", 0.0499999, 0.0500000000001, 0.0, 0.1))
        .toDF("name", "w", "e", "s", "n")
      val joined = pts.join(boxes,
        col("x") >= col("w") && col("x") < col("e") &&
          col("y") >= col("s") && col("y") < col("n"))
      assert(joined.queryExecution.executedPlan.toString.contains("_gcell"))
      val got = joined.select("pid").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L), s"edge point must match the straddling sliver, got $got")
    }
  }

  test("rule handles degenerate boxes (hi <= lo) as empty, not an error") {
    RewriteContainmentJoin.install(spark)
    overThreshold {
      import spark.implicits._
      val pts = Seq((1L, 0.5, 0.5)).toDF("pid", "x", "y")
      val boxes = Seq(("inv", 1.0, 0.0, 0.0, 1.0), ("ok", 0.0, 1.0, 0.0, 1.0))
        .toDF("name", "w", "e", "s", "n")
      val joined = pts.join(boxes,
        col("x") >= col("w") && col("x") < col("e") &&
          col("y") >= col("s") && col("y") < col("n"))
      assert(joined.queryExecution.executedPlan.toString.contains("_gcell"))
      val got = joined.select("pid", "name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "ok")))
    }
  }
}
