package graft.plans

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.trees.TreePattern.{CURRENT_LIKE, PLAN_EXPRESSION}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.classic.ClassicConversions

/** One narrow operator of a [[BoundStage]] program, its expressions
  * bound to the ordinals of the rows the step below it emits (the bottom
  * step's: the stage's `input`). */
sealed trait BoundStep extends Serializable {
  /** This step over one partition's rows, evaluated interpreted. */
  def open(partition: Int): Iterator[InternalRow] => Iterator[InternalRow]
}

final case class ProjectStep(exprs: Seq[Expression]) extends BoundStep {
  def open(partition: Int): Iterator[InternalRow] => Iterator[InternalRow] = {
    val project = new InterpretedProjection(exprs)
    project.initialize(partition)
    _.map(project)
  }
  override def toString: String = "Project"
}

final case class FilterStep(condition: Expression) extends BoundStep {
  def open(partition: Int): Iterator[InternalRow] => Iterator[InternalRow] = {
    val predicate = Predicate.createInterpreted(condition)
    predicate.initialize(partition)
    _.filter(predicate.eval)
  }
  override def toString: String = "Filter"
}

/** A `Generate` without `outer`: each row's `kept` columns joined with
  * each row its generator yields, then what `terminate` yields, as
  * `GenerateExec` does. */
final case class GenerateStep(generator: Generator, kept: Seq[Expression]) extends BoundStep {
  def open(partition: Int): Iterator[InternalRow] => Iterator[InternalRow] = {
    val keep = new InterpretedProjection(kept)
    val joined = new JoinedRow
    rows => rows.flatMap { row =>
      joined.withLeft(keep(row))
      generator.eval(row).iterator.map(joined.withRight)
    } ++ generator.terminate().iterator.map(joined.withRight)
  }
  override def toString: String = s"Generate ${generator.prettyName}"
}

/** A stream's stateless stage planned once: the narrow, deterministic
  * chain (Project, Filter, Generate without `outer`) above its source,
  * optimized and bound when the topology is built and kept as `program`,
  * bottom step first, over the source columns `input`.
  *
  * Why a node: Structured Streaming analyzes, optimizes, plans and
  * code-generates a query's whole logical plan on every trigger, and
  * optimizes it once more when the batch's SQL execution posts its plan
  * string. For a stateless stage that plan is the same every batch, and
  * with batches of a few hundred rows that fixed work sets the latency.
  * `program` is not an `Expression`, so per-batch rules do not walk it;
  * what Catalyst sees each trigger is this node over the source.
  * [[BoundStageStrategy]] plans it as [[BoundStageExec]], which evaluates
  * the steps interpreted, with no code generated per batch.
  *
  * `input` and `output` are the node's expressions: a rule that renames
  * the source's attributes (RemoveRedundantAliases drops the aliases a
  * file source's batch comes under) renames `input` with them, and the
  * program, bound to `input`'s ordinals, still lines up. The output is
  * produced here, so `references` is `input` and the plan string shows
  * no missing input. */
case class BoundStage(output: Seq[Attribute], input: Seq[Attribute], program: Seq[BoundStep],
                      child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String =
    BoundStage.describe(nodeName, program, output, maxFields)
  override protected def withNewChildInternal(newChild: LogicalPlan): BoundStage =
    copy(child = newChild)
}

object BoundStage {

  /** `df` as one [[BoundStage]] over its streaming source: its analyzed
    * plan is optimized now, with the session optimizer (a streaming
    * frame's `queryExecution.optimizedPlan` refuses to run), and the
    * optimized chain above the source becomes the program. `df` comes
    * back as is unless it is a stream whose whole plan is that chain over
    * one source leaf, with every expression deterministic and evaluable
    * in a task: a current-time function (Structured Streaming pins it per
    * batch) or a subquery keeps the per-batch plan. Installs
    * [[BoundStageStrategy]] on the session, which cannot plan the node
    * without it. */
  def wrap(df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val perBatch = analyzed.exists(_.expressions.exists(e =>
      !e.deterministic || e.containsAnyPattern(CURRENT_LIKE, PLAN_EXPRESSION)))
    if (!df.isStreaming || perBatch) df
    else {
      val session = ClassicConversions.castToImpl(df.sparkSession)
      val optimized = session.sessionState.optimizer.execute(analyzed)
      chain(optimized, Nil) match {
        case (bottom :: above, source: LeafNode) if (bottom :: above).forall(evaluable) =>
          // A bottom Project reads only what it names; a Filter or a
          // Generate passes its input's columns on.
          val input = bottom match {
            case p: Project => source.output.filter(p.references.contains)
            case _ => source.output
          }
          val layouts = input +: (bottom :: above).init.map(_.output)
          val program = (bottom :: above).zip(layouts).map { case (node, layout) =>
            bind(node, AttributeSeq(layout))
          }
          BoundStageStrategy.install(session)
          GraftShim.ofRows(session, BoundStage(optimized.output, input, program, source))
        case _ => df
      }
    }
  }

  /** The narrow operators from the top of `plan` down, bottom first, and
    * the plan below them. */
  @annotation.tailrec
  private def chain(plan: LogicalPlan, above: List[UnaryNode]): (List[UnaryNode], LogicalPlan) =
    plan match {
      case p: Project => chain(p.child, p :: above)
      case f: Filter => chain(f.child, f :: above)
      case g: Generate if !g.outer => chain(g.child, g :: above)
      case other => (above, other)
    }

  /** Whether a task can evaluate the operator: none of its expressions is
    * one that only physical planning replaces (a Python UDF, say). */
  private def evaluable(node: UnaryNode): Boolean =
    !node.expressions.exists(_.exists {
      case _: Attribute => false
      case _: Unevaluable => true
      case _ => false
    })

  private def bind(node: UnaryNode, layout: AttributeSeq): BoundStep = node match {
    case Project(list, _) => ProjectStep(BindReferences.bindReferences(list, layout))
    case Filter(condition, _) => FilterStep(BindReferences.bindReference(condition, layout))
    case g: Generate => GenerateStep(
      BindReferences.bindReference(g.generator: Expression, layout).asInstanceOf[Generator],
      BindReferences.bindReferences(g.requiredChildOutput, layout))
  }

  private[plans] def describe(name: String, program: Seq[BoundStep], output: Seq[Attribute],
                              maxFields: Int): String =
    s"$name ${program.mkString(" -> ")}, ${truncatedString(output, "[", ", ", "]", maxFields)}"
}
