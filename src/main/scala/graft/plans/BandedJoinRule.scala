package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: plain temporal band joins become banded equi-joins.
  *
  * A join written the natural way —
  * {{{ l.join(r, l("k") === r("k") && abs(l("t") - r("t")) <= tol) }}}
  * — plans as an equi-join on `k` alone with the range predicate as a
  * post-condition, so ONE hot key makes its join group |l_k|·|r_k|:
  * quadratic in key popularity no matter how narrow the window, and AQE
  * cannot split it because the blow-up is inside a single join group
  * (measured 48.1 s vs 2.9 s at a 2^19-row hot key — the BandScale
  * drive in PLANS.md). [[graft.ops.AsofOps.bandedIntervalJoin]] is the manual
  * fix; this rule applies the same rewrite AUTOMATICALLY, so user
  * queries in the natural form inherit the density-bounded plan:
  *
  *   - left rows replicate to tolerance-wide time buckets b−1/b/b+1
  *     (`Generate`/`Explode` of the offset array);
  *   - the right side projects its single bucket;
  *   - the join becomes an equi-join on (keys…, bucket) with the
  *     ORIGINAL |Δt| ≤ tol predicate kept as the exact post-filter —
  *     a matching pair shares exactly one bucket, so no dedup is
  *     needed and results are identical row-for-row.
  *
  * LEFT OUTER joins (the as-of-with-tolerance shape users actually
  * write: "each reading, decorated when a state row is near enough,
  * else null") band the OTHER side: the RIGHT rows replicate to the
  * three candidate buckets and the preserved left side stays
  * un-replicated, projecting its single bucket. Row identity is then
  * free — every left row appears exactly once per qualifying match
  * (a matching pair shares exactly one replica bucket) and exactly
  * once with a null right side when nothing qualifies, because those
  * ARE the outer-join semantics of the rewritten equi-join; no row-id,
  * dedup, or union machinery is needed. The band predicate stays
  * inside the JOIN condition (never a post-filter), which is what
  * preserves the outer null-extension.
  *
  * RIGHT OUTER mirrors LEFT OUTER with the sides swapped (left
  * replicates, preserved right stays single). FULL OUTER is not
  * rewritten: both sides would need preservation and replication at
  * once, which this construction cannot express.
  *
  * Scope guards (the rule must never fire on a shape it cannot prove):
  * INNER, LEFT OUTER, or RIGHT OUTER join; condition = at least one cross-side
  * equality plus EXACTLY ONE `abs(lt − rt) <= C` with `lt`, `rt`
  * LONG-typed and fully resolved to opposite sides and `C` a positive
  * integral literal; and the to-be-replicated side not already banded
  * (the `__band_off` marker), which also makes the rewrite
  * non-reentrant under transformDown.
  */
object BandedJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val OffName = "__band_off"

  private def literalSeconds(e: Expression): Option[Long] = e match {
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, _) => Some(v)
    case _ => None
  }

  /** (time expr on left side, time expr on right side) when `a − b`
    * spans the two sides of the join, in either order. */
  private def sides(a: Expression, b: Expression,
                    l: LogicalPlan, r: LogicalPlan): Option[(Expression, Expression)] =
    if (a.references.nonEmpty && a.references.subsetOf(l.outputSet) &&
        b.references.nonEmpty && b.references.subsetOf(r.outputSet)) Some((a, b))
    else if (b.references.nonEmpty && b.references.subsetOf(l.outputSet) &&
        a.references.nonEmpty && a.references.subsetOf(r.outputSet)) Some((b, a))
    else None

  /** The single provable band shape of `cond`, if any: (band predicate,
    * left-side time, right-side time, tolerance, other conjuncts). */
  private def bandShape(cond: Expression, left: LogicalPlan,
                        right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Long, Seq[Expression])] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val bands = conjuncts.collect {
      case p @ LessThanOrEqual(Abs(Subtract(a, b, _), _), lit)
          if literalSeconds(lit).exists(_ > 0) &&
            a.dataType == LongType && b.dataType == LongType =>
        (p, a, b, literalSeconds(lit).get)
    }
    val eqs = conjuncts.filter {
      case EqualTo(a, b) => sides(a, b, left, right).isDefined
      case _ => false
    }
    val rest = conjuncts.filterNot(c => bands.exists(_._1 eq c))
    bands match {
      case Seq((bandPred, a, b, tol))
          if eqs.nonEmpty && sides(a, b, left, right).isDefined =>
        val (lt, rt) = sides(a, b, left, right).get
        Some((bandPred, lt, rt, tol, rest))
      case _ => None
    }
  }

  private def offsetsGen(child: LogicalPlan): (Generate, AttributeReference) = {
    val offAttr = AttributeReference(OffName, LongType, nullable = false)()
    (Generate(
      Explode(CreateArray(Seq(Literal(-1L), Literal(0L), Literal(1L)))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(offAttr), child = child), offAttr)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !left.output.exists(_.name == OffName) =>
      bandShape(cond, left, right) match {
        case Some((bandPred, lt, rt, tol, rest)) =>
          val tolLit = Literal(tol, LongType)
          // left: replicate to the three candidate buckets
          val (gen, offAttr) = offsetsGen(left)
          val lBucket = Add(IntegralDivide(lt, tolLit), offAttr)
          // right: its single bucket
          val rBucketAlias = Alias(IntegralDivide(rt, tolLit), "__band_b")()
          val rProj = Project(right.output :+ rBucketAlias, right)
          val newCond = (rest :+ EqualTo(lBucket, rBucketAlias.toAttribute))
            .reduce(And)
          Project(j.output,
            Join(gen, rProj, Inner, Some(And(newCond, bandPred)), hint))
        case None => j
      }
    case j @ Join(left, right, LeftOuter, Some(cond), hint)
        if !right.output.exists(_.name == OffName) =>
      bandShape(cond, left, right) match {
        case Some((bandPred, lt, rt, tol, rest)) =>
          val tolLit = Literal(tol, LongType)
          // Preserved side stays un-replicated: the RIGHT rows fan out
          // to the three buckets, the left projects its single bucket,
          // and the LeftOuter equi-join's own semantics deliver exact
          // multiplicity (one row per match, one null row when none).
          val (gen, offAttr) = offsetsGen(right)
          val rBucket = Add(IntegralDivide(rt, tolLit), offAttr)
          val lBucketAlias = Alias(IntegralDivide(lt, tolLit), "__band_b")()
          val lProj = Project(left.output :+ lBucketAlias, left)
          val newCond = (rest :+
            EqualTo(lBucketAlias.toAttribute, rBucket) :+ bandPred).reduce(And)
          Project(j.output,
            Join(lProj, gen, LeftOuter, Some(newCond), hint))
        case None => j
      }
    case j @ Join(left, right, RightOuter, Some(cond), hint)
        if !left.output.exists(_.name == OffName) =>
      bandShape(cond, left, right) match {
        case Some((bandPred, lt, rt, tol, rest)) =>
          val tolLit = Literal(tol, LongType)
          // Mirror of the LeftOuter case: the preserved RIGHT side stays
          // un-replicated, the LEFT fans out to the three buckets.
          val (gen, offAttr) = offsetsGen(left)
          val lBucket = Add(IntegralDivide(lt, tolLit), offAttr)
          val rBucketAlias = Alias(IntegralDivide(rt, tolLit), "__band_b")()
          val rProj = Project(right.output :+ rBucketAlias, right)
          val newCond = (rest :+
            EqualTo(lBucket, rBucketAlias.toAttribute) :+ bandPred).reduce(And)
          Project(j.output,
            Join(gen, rProj, RightOuter, Some(newCond), hint))
        case None => j
      }
  }
}
