package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, AttributeSet,
  BindReferences, InterpretedProjection, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{MicroBatchScanExec,
  StreamingDataSourceV2ScanRelation}

/** Plans [[BoundStage]] as [[BoundStageExec]]. A micro-batch of a
  * connector source is read by a bare `MicroBatchScanExec`: Spark's own
  * planning puts a code-generated Project over it only to make its rows
  * unsafe, and the bound steps read any row. */
object BoundStageStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BoundStage(output, input, program, child) =>
      val source = child match {
        case StreamingDataSourceV2ScanRelation(_, scan, scanOutput, stream: MicroBatchStream,
            Some(start), Some(end)) =>
          MicroBatchScanExec(scanOutput, scan, stream, start, end)
        case other => planLater(other)
      }
      BoundStageExec(output, input, program, source) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to the session unless it has it; idempotent. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
}

/** Runs a [[BoundStage]] program over each partition of its child in one
  * `mapPartitionsWithIndexInternal`: every step evaluates interpreted, and
  * one interpreted unsafe projection lays out the output rows. Nothing is
  * code-generated, so a micro-batch of a few hundred rows pays no
  * per-batch compile; the cost is a few percent more CPU per row than
  * whole-stage code on batches of many thousand rows. A child whose
  * columns differ from `input` (more of them, or in another order) is
  * first projected to it. */
case class BoundStageExec(output: Seq[Attribute], input: Seq[Attribute], program: Seq[BoundStep],
                          child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String =
    BoundStage.describe(nodeName, program, output, maxFields)
  override protected def withNewChildInternal(newChild: SparkPlan): BoundStageExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val (steps, out, childOutput) = (program, output, child.output)
    val aligned = childOutput.map(_.exprId) == input.map(_.exprId)
    val in = input
    GraftShim.mapPartitionsWithIndexInternal(child.execute()) { (partition, rows) =>
      val fed = if (aligned) rows else rows.map(new InterpretedProjection(in, childOutput))
      val toUnsafe = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(out, AttributeSeq(out)))
      steps.foldLeft(fed)((it, step) => step.open(partition)(it)).map(toUnsafe)
    }
  }
}
