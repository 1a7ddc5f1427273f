package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Logical group-wise top-k: for each distinct value of `keys`, the
  * first `k` rows of the child under `order`, each tagged with its
  * 1-based rank as `rankAttr` — exactly the rows a
  * `Filter(row_number() <= k over (partition keys order by order))`
  * keeps, as a first-class operator instead of a window + filter.
  *
  * Why an operator: the window form sorts EVERY group's full row set
  * (the shuffle carries the whole input; the sort pays n·log n per
  * partition) to compute ranks it immediately discards beyond k.
  * Spark 3.5's WindowGroupLimit optimization bounds the row COUNT but
  * keeps the sort-based pipeline (inserted sorts below both the partial
  * and final limits). This node plans ([[TopKStrategy]]) into a
  * bounded hash-HEAP partial + streaming-head final: the partial
  * retains at most k rows per (key × input partition) BEFORE the
  * exchange — the shuffle ships k·keys rows, not the corpus — and the
  * final streams sorted groups (Spark's spill-safe SortExec over the
  * already-bounded rows) emitting ranks in O(1) memory. The only sort
  * in the pipeline runs on k·distinct-keys rows, never the input.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Optimizer rule: the natural `row_number() <= k` pattern becomes
  * [[TopKPerKey]] automatically — the [[BandedJoinRule]] philosophy on
  * the group-limit shape: users write the idiomatic window form, the
  * engine substitutes the bounded-heap operator.
  *
  * Scope guards: the Window computes EXACTLY ONE expression and it is
  * `row_number()` over a non-empty partition spec with a non-empty
  * order and the canonical running-row frame; the filter is a single
  * comparison of that rank against a positive integer literal
  * (`<= k`, `< k`, `= 1`, or the flipped forms). Ranks stay in the
  * output with their original exprId, so downstream references are
  * untouched. Groups whose order is not a total order may keep a
  * different tied row than the window would — the same freedom
  * row_number itself has (tie order among equal sort keys is
  * unspecified in any engine).
  *
  * Kill switch: `spark.graft.topk.rewrite=false` disables the rewrite.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  // Tie semantics differ row-level from un-rewritten WindowExec output
  // (both are valid row_number answers); surface that once per JVM so a
  // user diffing against vanilla Spark has the pointer.
  private val tieNoteLogged = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def limitOf(cond: Expression, rank: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
          if a.semanticEquals(rank) => Some(v)
      case LessThan(a: Attribute, Literal(v: Int, IntegerType))
          if a.semanticEquals(rank) => Some(v - 1)
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute)
          if a.semanticEquals(rank) => Some(v)
      case GreaterThan(Literal(v: Int, IntegerType), a: Attribute)
          if a.semanticEquals(rank) => Some(v - 1)
      case EqualTo(a: Attribute, Literal(v: Int, IntegerType))
          if v == 1 && a.semanticEquals(rank) => Some(1)
      case EqualTo(Literal(v: Int, IntegerType), a: Attribute)
          if v == 1 && a.semanticEquals(rank) => Some(1)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.topk.rewrite", "true").toBoolean)
      return plan
    plan.transform {
      case f @ Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(RowNumber(),
              WindowSpecDefinition(part, order,
                SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
                  CurrentRow))), _)),
            _, _, child, _))
          if part.nonEmpty && order.nonEmpty =>
        limitOf(cond, alias.toAttribute) match {
          case Some(k) if k >= 1 =>
            if (tieNoteLogged.compareAndSet(false, true))
              logInfo("graft TopKPerKey rewrite active: group limits plan " +
                "as bounded-heap top-k; rows tied under the window order " +
                "may differ from WindowExec's (equally valid) selection. " +
                "Disable with spark.graft.topk.rewrite=false.")
            // When this rule runs AFTER InsertWindowGroupLimit (the
            // runtime extraOptimizations path), the window's child is
            // already wrapped in Spark's sort-based WindowGroupLimit —
            // strip it, or the plan double-limits with the sorts this
            // operator exists to remove.
            val realChild = child match {
              case WindowGroupLimit(_, _, _, _, c) => c
              case c => c
            }
            TopKPerKey(part, order, k, alias.toAttribute, realChild)
          case _ => f
        }
    }
  }
}
