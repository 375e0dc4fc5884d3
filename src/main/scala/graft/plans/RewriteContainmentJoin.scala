package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: rewrite point-in-box containment joins (which Spark can
  * only plan as nested-loop joins) into grid-cell equi-joins plus an exact
  * residual predicate — the RangeJoin decomposition (operators/RangeJoin)
  * applied automatically by Catalyst.
  *
  * Matches Inner and LeftOuter joins whose condition contains, per
  * dimension, `pointAttr >= loExpr AND pointAttr <(=) hiExpr` with the
  * point attribute from the left side and the bound EXPRESSIONS computed
  * from the right (plain attributes, or arithmetic like `cx - rx` — the
  * zone-dim shape). The bounds side is exploded over the covering cells
  * (boxes span few cells at the 0.05° grid), the points side is keyed by
  * its cell, and the join becomes a hash join on the cell id. The ENTIRE
  * original predicate is kept as a residual filter — extra conjuncts such
  * as a ray-cast polygon test ride along untouched — so semantics are
  * exactly preserved. For LeftOuter, a point matching a box matches
  * exactly ONE exploded copy (its own cell), so match multiplicity and
  * null-extension are unchanged.
  *
  * Routing: fires when the bounds side's estimated size exceeds
  * `spark.sql.autoBroadcastJoinThreshold` (the regime where the
  * broadcast nested-loop plan stops being the right answer — 40k NYC
  * intersections, census blocks) — an explicit broadcast hint on the
  * bounds side is advisory and is dropped in that regime. Below the
  * threshold the join is left alone (a broadcast NLJ over a 5-row zone
  * dim is already optimal), and so is every join when the threshold is
  * negative (broadcast off). */
object RewriteContainmentJoin extends Rule[LogicalPlan] with PredicateHelper {

  val CellDeg = 0.05
  private val CellStride = 100000L

  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val thr = conf.autoBroadcastJoinThreshold
    if (thr < 0) return plan
    plan.transform {
      case j @ Join(left, right, jt @ (Inner | LeftOuter), Some(cond), hint)
          // fixed-point guard: the rewritten join keeps the original
          // predicate as residual, so it must not match again
          if !cond.references.exists(_.name.startsWith("_gcell")) &&
            right.stats.sizeInBytes > thr =>
        val dims = matchIntervalDims(left, right, cond)
        // by the time this rule runs, constant bounds (e.g. literal lat
        // limits) have been folded and pushed out of the join — match on
        // whatever interval dimensions remain (1-D is the common survivor)
        if (dims.nonEmpty && dims.length <= 2)
          rewrite(j, left, right, jt, cond, hint, dims)
        else j
    }
  }

  /** Interval dimensions: point attr from `left` bounded below (>=) and
    * above (< or <=) by deterministic expressions over `right`. */
  private def matchIntervalDims(left: LogicalPlan, right: LogicalPlan, cond: Expression)
      : Seq[(Attribute, Expression, Expression)] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // double-typed dims only: the Floor(Divide(x, 0.05))/Sequence cell
    // decomposition is numeric — matching a date/string/decimal interval
    // join here would rewrite a valid plan into an invalid one
    def isPoint(a: Attribute) = a.dataType == DoubleType && left.outputSet.contains(a)
    def isBound(b: Expression) = b.dataType == DoubleType && b.deterministic &&
      b.references.nonEmpty && b.references.subsetOf(right.outputSet)
    val ges = conjuncts.collect {
      case GreaterThanOrEqual(a: Attribute, b) if isPoint(a) && isBound(b) => (a, b)
    }
    val lts = conjuncts.collect {
      case LessThan(a: Attribute, b) if isPoint(a) && isBound(b) => (a, b)
      case LessThanOrEqual(a: Attribute, b) if isPoint(a) && isBound(b) => (a, b)
    }
    ges.flatMap { case (a, lo) =>
      lts.collectFirst { case (a2, hi) if a2.semanticEquals(a) => (a, lo, hi) }
    }.distinct
  }

  private def cellIdx(x: Expression): Expression = Floor(Divide(x, Literal(CellDeg)))

  private def cellSeq(lo: Expression, hi: Expression): Expression = {
    val start = cellIdx(lo)
    // [floor(lo/c), floor(hi/c)] is a PROVABLE superset of the cells any
    // matching point occupies (IEEE division is monotone; the residual
    // predicate rechecks exactly) — the earlier 1e-12 nudge silently
    // missed points between a cell edge and a straddling hi (ADVICE r2,
    // same fix as operators/RangeJoin)
    val stop = Floor(Divide(hi, Literal(CellDeg)))
    val seq = new Sequence(start, stop, Some(Literal(1L)))
      // Sequence is TimeZoneAwareExpression: without an explicit zone the
      // plan flips back to unresolved after this rule runs
      .withTimeZone(conf.sessionLocalTimeZone)
    // degenerate box (hi <= lo): the nested-loop predicate just returns no
    // rows, so the rewrite must too — Sequence with start > stop throws
    If(LessThan(stop, start),
      Literal.create(Array.empty[Long],
        org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)),
      seq)
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      joinType: JoinType, cond: Expression, hint: JoinHint,
      dims: Seq[(Attribute, Expression, Expression)]): LogicalPlan = {
    // point-side key: fold cell indices of each dim into one long
    val pKey = dims.map(d => cellIdx(d._1))
      .reduceLeft[Expression]((acc, c) => Add(Multiply(acc, Literal(CellStride)), c))
    val pCell = Alias(pKey, "_gcell_p")()
    val newLeft = Project(left.output :+ pCell, left)

    // bounds side: one Generate per dim over the covering cells
    var gen: LogicalPlan = right
    val cellAttrs = dims.zipWithIndex.map { case ((_, lo, hi), i) =>
      val attr = AttributeReference(s"_gcx$i", LongType, nullable = false)()
      gen = Generate(Explode(cellSeq(lo, hi)), Nil, outer = false, None, Seq(attr), gen)
      attr
    }
    val bKey = cellAttrs.map(a => a: Expression)
      .reduceLeft[Expression]((acc, c) => Add(Multiply(acc, Literal(CellStride)), c))
    val bCell = Alias(bKey, "_gcell_b")()
    val newRight = Project(right.output :+ bCell, gen)

    // in the over-broadcast regime the operator's broadcast hint on the
    // bounds side is exactly what we are routing around — drop it so the
    // planner hashes on the cell key instead of force-broadcasting an
    // exploded oversized dim
    val newHint = hint.copy(rightHint = None)
    val joined = Join(newLeft, newRight, joinType,
      Some(And(EqualTo(pCell.toAttribute, bCell.toAttribute), cond)), newHint)
    Project(j.output, joined)
  }
}
