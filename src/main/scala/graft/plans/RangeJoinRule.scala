package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, NumericType, TimestampType}

/** Optimizer rule: plan a non-equi point-in-interval join as a bucketed
  * equi-join.
  *
  * Spark plans `points JOIN intervals ON p >= lo AND p < hi` as a
  * BroadcastNestedLoopJoin (only viable while one side broadcasts) or a
  * cartesian product — O(|P| x |R|), the canonical 100 TB scale-killer.
  * This rule rewrites the logical join into the same shape
  * graft.operators.RangeJoin builds by hand: intervals explode to the
  * fixed-width buckets they cover, points compute their single bucket, the
  * join becomes an equi-join on the bucket id, and the ORIGINAL range
  * predicate is re-applied as an exact filter above it. Each point's bucket
  * is unique, so no duplicate pairs appear.
  *
  * Opt-in by conf (the bucket width is data-dependent — there is no safe
  * blind default):
  *
  * {{{
  * spark.conf.set("spark.graft.rangeJoin.bucketWidth", "100.0")
  * }}}
  *
  * Guards: inner joins only; exactly one lower and one upper bound conjunct
  * on the same numeric point attribute; no equi conjunct between the sides
  * (those joins already hash-partition fine); fires once (the rewritten
  * join HAS an equi conjunct, so the fixed-point optimizer batch skips it).
  * Strict/inclusive bound variants all work because buckets only need to
  * COVER the interval — the exact filter decides membership.
  */
class RangeJoinRule(session: SparkSession,
    widthOverride: Option[Double] = None) extends Rule[LogicalPlan]
    with PredicateHelper {

  val widthConf = "spark.graft.rangeJoin.bucketWidth"
  val maxBucketsConf = "spark.graft.rangeJoin.maxBucketsPerInterval"

  /** `widthOverride` exists for manual-application callers (j10-style
    * `rule(plan)` at query-construction time): passing the width explicitly
    * means they never mutate shared session conf — with the rule ALSO
    * injected into the session optimizer via GraftExtensions, a set/unset
    * window around construction could leak the rewrite (with an unintended
    * width) into any concurrently-planned query.
    */
  private def width: Double = widthOverride.getOrElse(
    try session.conf.get(widthConf, "0").toDouble
    catch { case _: NumberFormatException => 0.0 })

  private def maxBuckets: Long =
    try session.conf.get(maxBucketsConf, "1000000").toLong
    catch { case _: NumberFormatException => 1000000L }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = width
    if (w <= 0) plan
    else plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        rewrite(j, left, right, cond, hint, w).getOrElse(j)
    }
  }

  /** cond's conjunct referencing pattern: (point side, bound side). */
  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      cond: Expression, hint: JoinHint, w: Double): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.length != 2) return None

    def fromOnly(e: Expression, side: LogicalPlan) =
      e.references.nonEmpty && e.references.subsetOf(side.outputSet)

    // normalize each conjunct to (point, bound, isLower) with the point on
    // one fixed side; `a OP b` and `b OP' a` forms both accepted
    def asBound(e: Expression, pointSide: LogicalPlan, boundSide: LogicalPlan)
        : Option[(Attribute, Expression, Boolean)] = e match {
      case GreaterThanOrEqual(p: Attribute, lo) if fromOnly(p, pointSide) && fromOnly(lo, boundSide) => Some((p, lo, true))
      case GreaterThan(p: Attribute, lo) if fromOnly(p, pointSide) && fromOnly(lo, boundSide) => Some((p, lo, true))
      case LessThanOrEqual(lo, p: Attribute) if fromOnly(p, pointSide) && fromOnly(lo, boundSide) => Some((p, lo, true))
      case LessThan(lo, p: Attribute) if fromOnly(p, pointSide) && fromOnly(lo, boundSide) => Some((p, lo, true))
      case LessThan(p: Attribute, hi) if fromOnly(p, pointSide) && fromOnly(hi, boundSide) => Some((p, hi, false))
      case LessThanOrEqual(p: Attribute, hi) if fromOnly(p, pointSide) && fromOnly(hi, boundSide) => Some((p, hi, false))
      case GreaterThan(hi, p: Attribute) if fromOnly(p, pointSide) && fromOnly(hi, boundSide) => Some((p, hi, false))
      case GreaterThanOrEqual(hi, p: Attribute) if fromOnly(p, pointSide) && fromOnly(hi, boundSide) => Some((p, hi, false))
      case _ => None
    }

    def tryOrientation(pointSide: LogicalPlan, boundSide: LogicalPlan,
        pointIsLeft: Boolean): Option[LogicalPlan] = {
      val bounds = conjuncts.flatMap(asBound(_, pointSide, boundSide))
      if (bounds.length != 2) return None
      val (lowers, uppers) = bounds.partition(_._3)
      (lowers, uppers) match {
        case (Seq((p1, lo, _)), Seq((p2, hi, _)))
            if p1.semanticEquals(p2)
              && sameFamily(p1.dataType, lo.dataType, hi.dataType) =>
          Some(build(j, pointSide, boundSide, pointIsLeft, p1, lo, hi, cond, hint, w))
        case _ => None
      }
    }

    // reject if any equi conjunct links the sides — that join is fine as-is
    // (and this guard is what makes the rule idempotent: the rewritten join
    // is exactly such a join)
    val hasCrossEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (fromOnly(a, left) && fromOnly(b, right)) || (fromOnly(a, right) && fromOnly(b, left))
      case EqualNullSafe(a, b) =>
        (fromOnly(a, left) && fromOnly(b, right)) || (fromOnly(a, right) && fromOnly(b, left))
      case _ => false
    }
    if (hasCrossEqui) None
    else tryOrientation(left, right, pointIsLeft = true)
      .orElse(tryOrientation(right, left, pointIsLeft = false))
  }

  /** Numeric columns bucket in their own units; timestamp columns bucket
    * in SECONDS (the conf width is seconds for time-range joins — the most
    * common real shape: event time within a validity window). All three
    * expressions must be the SAME family — mixed families would bucket the
    * point and the bounds in different units and silently drop matches.
    */
  private def sameFamily(p: DataType, lo: DataType, hi: DataType): Boolean =
    (p.isInstanceOf[NumericType] && lo.isInstanceOf[NumericType]
      && hi.isInstanceOf[NumericType]) ||
      (p == TimestampType && lo == TimestampType && hi == TimestampType)

  private def bucketOf(e: Expression, w: Double): Expression = e.dataType match {
    case TimestampType =>
      // UnixMicros avoids a timestamp->double cast, which ANSI mode rejects
      Floor(Divide(Cast(UnixMicros(e), DoubleType), Literal(w * 1e6)))
    case _ => Floor(Divide(Cast(e, DoubleType), Literal(w))) // LongType
  }

  private def build(j: Join, pointSide: LogicalPlan, boundSide: LogicalPlan,
      pointIsLeft: Boolean, p: Attribute, lo: Expression, hi: Expression,
      cond: Expression, hint: JoinHint, w: Double): LogicalPlan = {
    val pAlias = Alias(bucketOf(p, w), "_gb_p")()
    val newPointSide = Project(pointSide.output :+ pAlias, pointSide)
    val loB = bucketOf(lo, w)
    val hiB = bucketOf(hi, w)
    // Sequence is time-zone aware, and unresolved without a zone; the
    // analyzer would add it, but inside the optimizer nothing does
    val seq = Sequence(loB, hiB, None, Some(conf.sessionLocalTimeZone))
    // Sequence(lo, hi) is unbounded: ONE outlier-wide interval (or a width
    // set orders of magnitude too small for the data's unit) would expand
    // to up to 2^31 bucket rows and OOM with no indication of why. Guard
    // per row: exceeding the cap raises a clear, actionable error instead.
    val cap = maxBuckets
    // Two hazards live in Sequence(loB, hiB):
    //  - INVERTED bounds (lo > hi, a corrupted row): Sequence with no step
    //    defaults to step -1 and generates a DESCENDING array of up to
    //    |lo-hi| elements — an uncapped explosion the cap check would wave
    //    through (the subtraction is negative). An inverted interval
    //    contains no point, so it gets an EMPTY bucket array.
    //  - NULL bounds: the naive join's null comparison matches nothing, so
    //    they also take the empty branch (the ordered-check Coalesce maps
    //    null to false). Both cases emit zero rows from Explode — never a
    //    misleading over-cap error, never an OOM.
    val ordered =
      Coalesce(Seq(LessThanOrEqual(loB, hiB), Literal(false)))
    val emptyBuckets = Literal.create(Array.empty[Long], seq.dataType)
    val guarded = If(
      ordered,
      If(
        LessThanOrEqual(Subtract(hiB, loB), Literal(cap)),
        seq,
        Cast(new RaiseError(Literal(
          s"graft range-join rewrite: an interval spans more than $cap buckets " +
            s"at bucketWidth=$w — raise the width (or $maxBucketsConf) so " +
            "intervals cover a bounded number of buckets")), seq.dataType)),
      emptyBuckets)
    val gOut = AttributeReference("_gb_i", LongType, nullable = true)()
    val newBoundSide =
      Generate(Explode(guarded), Nil, outer = false, None, Seq(gOut), boundSide)
    val joinCond = EqualTo(pAlias.toAttribute, gOut)
    val newJoin =
      if (pointIsLeft) Join(newPointSide, newBoundSide, Inner, Some(joinCond), hint)
      else Join(newBoundSide, newPointSide, Inner, Some(joinCond), hint)
    // exact range predicate back on top; project away the bucket columns
    Project(j.output, Filter(cond, newJoin))
  }
}
