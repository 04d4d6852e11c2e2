package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule turning a naive interval join into a banded equi-join
  * — the range-join optimization warehouses apply to the
  * `point BETWEEN lo AND hi` shape (Databricks exposes it as the RANGE_JOIN
  * hint; DuckDB plans the same shape as an IEJoin). Spark's built-in
  * planner has nothing for a pure inequality join: it falls back to
  * BroadcastNestedLoopJoin / CartesianProduct, which compares every row
  * pair — the 100 TB death sentence for event-window joins that manual
  * banding (`join_range_bands`) works around by hand. This rule performs
  * that banding AUTOMATICALLY at the plan level, so a user writes the
  * declarative inequality join and still gets the scalable physical
  * shape:
  *
  *   A JOIN B ON a.p >= b.lo AND a.p <= b.hi
  *     ==>
  *   (A + bin(p))  JOIN  (B exploded to bins bin(lo)..bin(hi))
  *     ON _rj_bin equality AND the ORIGINAL condition
  *
  * Each matching pair meets in EXACTLY one bin (the point side owns one
  * bin; the interval side covers it iff lo <= p <= hi up to bin
  * granularity), and the original condition rides along as the residual
  * filter, so the rewrite is result-identical for ANY condition —
  * including strict bounds and empty intervals (lo > hi explodes a
  * descending two-bin sequence whose rows the residual then drops).
  * The bin function is truncating integer division — monotone
  * non-decreasing over the full long range, so containment holds for
  * negative keys too.
  *
  * Bin selection, two paths:
  *
  *   - conf override: `spark.graft.rangeJoin.binSize` set to a positive
  *     long (the caller picks a bin near the TYPICAL interval length —
  *     each interval fans out to ~(hi-lo)/bin + 1 copies of its B-row,
  *     the same dial as Databricks' hint);
  *   - AUTOMATIC (r11): when the conf is unset but the two bounds have a
  *     CONSTANT span — `hi` is `lo + c` (or `lo` is `hi - c`) for a
  *     foldable c, the fixed-window event-join shape — the span IS the
  *     typical interval length, so the rule uses it as the bin. This
  *     matters because a conf scoped to a query's BUILD does not reach
  *     later QueryExecutions derived from the frame (`df.count()`,
  *     `df.write` re-optimize under whatever conf is live THEN); the
  *     predicate travels with the plan, a conf does not.
  *
  * Bounded: fires only for INNER joins, and only when the join has NO
  * equi-conjunct already (an equi key makes Spark hash-partition fine
  * without help, and the guard doubles as the fixpoint check: the
  * rewritten join carries the `_rj_bin` equality, so the rule never
  * refires on its own output).
  *
  * Installed only through GraftExtensions (`injectOptimizerRule`), which
  * `Sessions.local` and a `spark.sql.extensions` deployment both use, so
  * it runs in Spark's operator-optimization batches on every engine
  * session.
  */
object RangeJoinRule extends Rule[LogicalPlan] {

  /** Bin-size dial: unset/0 = automatic constant-span inference; a
    * positive long overrides the bin for data-dependent spans; **-1
    * disables the rule entirely** (conf path AND automatic inference) —
    * the escape hatch for debugging a planning issue or A/B-comparing
    * plans, since r11's automatic inference otherwise fires on every
    * qualifying join whether or not the user opted in.
    */
  val BinConf = "spark.graft.rangeJoin.binSize"
  val BinDisabled = -1L
  private val BinCol = "_rj_bin"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val confBin = conf.getConfString(BinConf, "0").toLong
    if (confBin == BinDisabled) return plan
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) if j.resolved =>
        rewrite(j, cond, confBin).getOrElse(j)
    }
  }

  /** Constant-span inference: `hi = lo + c` / `lo = hi - c` with c a
    * foldable non-negative integral — the fixed-window shape whose span
    * is itself the right bin size. Returns None for data-dependent
    * spans (per-row interval lengths); those need the conf dial.
    */
  private def inferredBin(lo: Expression, hi: Expression): Option[Long] = {
    def constLong(e: Expression): Option[Long] =
      if (e.foldable && (e.dataType == LongType || e.dataType == IntegerType))
        Option(e.eval()).map {
          case l: Long => l
          case i: Int => i.toLong
        }
      else None
    val span = hi match {
      case Add(a, b, _) if a.semanticEquals(lo) => constLong(b)
      case Add(a, b, _) if b.semanticEquals(lo) => constLong(a)
      case _ => lo match {
        case Subtract(a, b, _) if a.semanticEquals(hi) => constLong(b)
        case _ => None
      }
    }
    span.filter(_ >= 0).map(math.max(_, 1L))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def isBinnable(e: Expression): Boolean =
    e.deterministic && (e.dataType == LongType || e.dataType == IntegerType)

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** (point, bound, boundIsUpper) candidates for one inequality
    * conjunct — BOTH orientations, since `lo < p` is simultaneously "p
    * has lower bound lo" and "lo has upper bound p"; the pairing step
    * resolves which expression is the point by finding one with a lower
    * AND an upper bound.
    */
  private def bound(e: Expression, left: LogicalPlan, right: LogicalPlan)
      : Seq[(Expression, Expression, Boolean)] = {
    def crossSides(p: Expression, b: Expression) = {
      def fromLeft(x: Expression) = x.references.nonEmpty &&
        x.references.subsetOf(left.outputSet)
      def fromRight(x: Expression) = x.references.nonEmpty &&
        x.references.subsetOf(right.outputSet)
      (fromLeft(p) && fromRight(b)) || (fromRight(p) && fromLeft(b))
    }
    def both(hi: Expression, lo: Expression) =
      (if (crossSides(hi, lo)) Seq((hi, lo, false)) else Nil) ++
        (if (crossSides(lo, hi)) Seq((lo, hi, true)) else Nil)
    e match {
      case GreaterThanOrEqual(a, b) => both(a, b)
      case GreaterThan(a, b) => both(a, b)
      case LessThanOrEqual(a, b) => both(b, a)
      case LessThan(a, b) => both(b, a)
      case _ => Nil
    }
  }

  private def rewrite(j: Join, cond: Expression, confBin: Long)
      : Option[LogicalPlan] = {
    val conjuncts = splitConjuncts(cond)
    // equi-conjunct present -> Spark already hash-joins; also the
    // fixpoint guard (our own output carries the bin equality)
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(j.left.outputSet) &&
          b.references.subsetOf(j.right.outputSet) &&
          a.references.nonEmpty && b.references.nonEmpty) ||
        (b.references.subsetOf(j.left.outputSet) &&
          a.references.subsetOf(j.right.outputSet) &&
          a.references.nonEmpty && b.references.nonEmpty)
      case _ => false
    }
    if (hasEqui) return None

    val bounds = conjuncts.flatMap(bound(_, j.left, j.right))
    // a (point, lo, hi) triple: one lower and one upper bound on the
    // SAME point expression, both bounds from the point's opposite side
    val triple = (for {
      (p1, lo, false) <- bounds
      (p2, hi, true) <- bounds
      if p1.semanticEquals(p2)
      if isBinnable(p1) && isBinnable(lo) && isBinnable(hi)
      binSize <- if (confBin > 0) Some(confBin) else inferredBin(lo, hi)
    } yield (p1, lo, hi, binSize)).headOption
    triple.map { case (point, lo, hi, binSize) =>
      val bin = Literal(binSize, LongType)
      val pointOnLeft = point.references.subsetOf(j.left.outputSet)
      val (pointSide, intervalSide) =
        if (pointOnLeft) (j.left, j.right) else (j.right, j.left)
      val pBinAttr = AttributeReference(BinCol, LongType, nullable = true)()
      val iBinAttr = AttributeReference(BinCol, LongType, nullable = false)()
      val pointProj = Project(
        pointSide.output :+
          Alias(IntegralDivide(asLong(point), bin), BinCol)(pBinAttr.exprId),
        pointSide)
      // Sequence is TimeZoneAwareExpression: the analyzer's ResolveTimeZone
      // normally fills the zone, but an optimizer-constructed node must
      // set it itself or the plan flips back to unresolved
      val gen = Generate(
        Explode(new Sequence(
          IntegralDivide(asLong(lo), bin), IntegralDivide(asLong(hi), bin))
          .withTimeZone(conf.sessionLocalTimeZone)),
        unrequiredChildIndex = Nil,
        outer = false,
        qualifier = None,
        generatorOutput = Seq(iBinAttr),
        child = intervalSide)
      val (newLeft, newRight) =
        if (pointOnLeft) (pointProj, gen) else (gen, pointProj)
      val newCond = And(EqualTo(pBinAttr.withNullability(true), iBinAttr), cond)
      Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
    }
  }
}
