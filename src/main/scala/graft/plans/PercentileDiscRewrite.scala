package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.catalyst.PercentileDiscAgg

/** Optimizer rule: `percentile_disc` in an Aggregate runs on
  * [[PercentileDiscAgg]], and the percentiles that share a child, a
  * direction and a FILTER share one kernel buffer — each becomes
  * `GetArrayItem` over the same aggregate instance, which physical
  * planning keeps as one buffer. Query text and results are unchanged.
  *
  * Scope guards: the built-in stays for any `percentile_disc` that is
  * DISTINCT, uses the legacy calculation flag, takes an array of
  * percentages or a non-foldable one, orders by a decimal or an
  * interval, or is a window function (those sit in a Window, never an
  * Aggregate).
  */
object PercentileDiscRewrite extends Rule[LogicalPlan] {

  private def kernelType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => true
    case _ => false
  }

  /** The percentage of an eligible `percentile_disc`. */
  private def percentage(ae: AggregateExpression): Option[Double] = ae match {
    case AggregateExpression(PercentileDisc(c, p, _, _, _, false), Complete,
        false, _, _) if kernelType(c.dataType) && p.foldable &&
          p.dataType == DoubleType =>
      p.eval() match {
        case d: Double if d >= 0.0 && d <= 1.0 => Some(d)
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a: Aggregate => rewrite(a)
  }

  private def rewrite(a: Aggregate): Aggregate = {
    val found = a.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => percentage(ae).map(ae -> _)
    }.flatten)
    if (found.isEmpty) return a
    def key(ae: AggregateExpression) = {
      val pd = ae.aggregateFunction.asInstanceOf[PercentileDisc]
      (pd.child.canonicalized, pd.reverse, ae.filter.map(_.canonicalized))
    }
    val kernels = found.groupBy { case (ae, _) => key(ae) }.map {
      case (k, members) =>
        val ae = members.head._1
        val pd = ae.aggregateFunction.asInstanceOf[PercentileDisc]
        val ps = members.map(_._2).distinct
        k -> (ps, AggregateExpression(
          PercentileDiscAgg(pd.child, ps, pd.reverse), Complete,
          isDistinct = false, ae.filter))
    }
    val replace: Map[AggregateExpression, Expression] = found.map {
      case (ae, p) =>
        val (ps, kernel) = kernels(key(ae))
        ae -> GetArrayItem(kernel, Literal(ps.indexOf(p)), failOnError = false)
    }.toMap
    a.copy(aggregateExpressions = a.aggregateExpressions.map(_.transformUp {
      case ae: AggregateExpression if replace.contains(ae) => replace(ae)
    }.asInstanceOf[NamedExpression]))
  }
}
