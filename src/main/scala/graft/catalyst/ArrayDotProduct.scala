package graft.catalyst

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** `array_dot(a, b)` — dot product of two float/double arrays in double
  * precision with fixed left-to-right accumulation.
  *
  * Why a native Expression (SURVEY.md §7.2): the built-in way to express a
  * dot product is `aggregate(zip_with(a, b, ...), 0D, ...)`, which
  * evaluates OUTSIDE whole-stage codegen — every element is a boxed
  * lambda invocation. On the all-pairs cosine workload (2M pairs × 64
  * dims at sf0.1) the HOF version measured 117 s; this codegen'd loop runs
  * the same arithmetic in a tight JIT'd loop. Same left-to-right double
  * accumulation, so results (and the DuckDB oracle twins) are unchanged.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_dot expects array<float>/array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  /** NULL on length mismatch or any null element — the exact semantics of
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v)`
    * (zip_with pads the shorter side with nulls, and null propagates
    * through the sum), so swapping the HOF for this Expression never
    * changes results on any input. */
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val ln = elemNullable(left); val rn = elemNullable(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((ln && x.isNullAt(i)) || (rn && y.isNullAt(i))) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // Element null checks compile away when containsNull is false on
      // both sides (the fixed-dim embedding hot path stays a tight loop).
      val nullCheck =
        if (elemNullable(left) || elemNullable(right)) {
          val checks = Seq(
            if (elemNullable(left)) Some(s"$x.isNullAt($i)") else None,
            if (elemNullable(right)) Some(s"$y.isNullAt($i)") else None
          ).flatten.mkString(" || ")
          s"if ($checks) { ${ev.isNull} = true; break; }"
        } else ""
      s"""
        if ($x.numElements() != $y.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $x.numElements();
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $nullCheck
            $acc += ((double) $x.$lGet($i)) * ((double) $y.$rGet($i));
          }
          ${ev.value} = $acc;
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_dot"
}

object GraftFunctions {
  val fns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      (children: Seq[Expression]) => ArrayDotProduct(children(0), children(1))),
    (FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) =>
        PqEncode(children(0), children(1), children(2), children(3))),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1))),
    (FunctionIdentifier("cell_dists"),
      new ExpressionInfo(classOf[CellDists].getName, "cell_dists"),
      (children: Seq[Expression]) => CellDists(children(0), children(1))),
    (FunctionIdentifier("html_entity_decode"),
      new ExpressionInfo(classOf[HtmlEntityDecode].getName,
        "html_entity_decode"),
      (children: Seq[Expression]) => HtmlEntityDecode(children(0))))

  /** Installs Graft's functions, optimizer rules and planner strategy on
    * a session, and sets `spark.sql.streaming.checkpointFileManagerClass`
    * to [[graft.streaming.LocalCheckpointFileManager]] unless the session
    * already names a manager; idempotent. Its three callers are
    * [[graft.QueryDef.run]] (the catalog boundary),
    * [[graft.streaming.EgvStreams.parseEgvs]] (the stream boundary: every
    * EGV topology starts with that decode) and [[graft.GraftSession]]. The
    * two boundaries cover a session built outside this repo before any
    * query body runs or any stream starts. Also
    * registers the `minhash_sketch` UDAF — the typed [[MinHashSketchAgg]]
    * surfaced to SQL/DataFrame groupBy, which avoids the tuple-encoder
    * overhead of the groupByKey path. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // Install only what the session lacks: replacing a function logs a
    // WARN line, and every query run calls this.
    def missing(name: String) = !registry.functionExists(FunctionIdentifier(name))
    fns.foreach { case (id, _, builder) =>
      if (missing(id.funcName))
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    if (missing("minhash_sketch"))
      spark.udf.register("minhash_sketch",
        org.apache.spark.sql.functions.udaf(
          new MinHashSketchAgg(MinHashSketchAgg.SketchK),
          org.apache.spark.sql.Encoders.scalaLong))
    if (missing("bloom_bits"))
      spark.udf.register("bloom_bits",
        org.apache.spark.sql.functions.udaf(
          new BloomSetAgg, org.apache.spark.sql.Encoders.scalaLong))
    if (missing("cms_counts"))
      spark.udf.register("cms_counts",
        org.apache.spark.sql.functions.udaf(
          new CmsAgg, org.apache.spark.sql.Encoders.scalaLong))
    // The top-k rewrite needs both its optimizer rule and its planner
    // strategy, a bound stream stage its strategy, the percentile_disc
    // and banded-join rewrites their rules. Runtime
    // `experimental` install reaches any session, including a bare one
    // built without any Graft configuration.
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    graft.plans.BoundStageStrategy.install(spark)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.TopKRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.TopKRewriteRule
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.PercentileDiscRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PercentileDiscRewrite
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.BandedJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BandedJoinRule
    graft.streaming.LocalCheckpointFileManager.install(spark)
  }
}
