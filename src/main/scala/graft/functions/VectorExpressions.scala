package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen dot product over two `array<double>` columns.
  *
  * The composable formulation — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * allocates an intermediate array per row and evaluates two higher-order
  * lambdas; on an all-pairs similarity join that is the hot loop. This
  * expression compiles to a bare multiply-add loop over the unsafe array
  * data inside whole-stage codegen: no allocation, no virtual calls.
  * Left-to-right accumulation order matches both the zip_with fold and
  * DuckDB's list_dot_product, preserving bit-exact results.
  *
  * This is deliberately rung (b) of the customization ladder (SURVEY.md
  * §7.3): a scalar `Expression` with `doGenCode`, not a UDF (boxing +
  * serialization overhead) and not a new physical operator (unneeded —
  * the surrounding join/window machinery is already right).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dotp requires (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering graft's native functions — enable with
  * `.config("spark.sql.extensions", classOf[GraftExtensions].getName)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_dotp"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dotp"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKPairs].getName, "graft_topk"),
      (children: Seq[Expression]) => TopKPairs(children(0), children(1), children(2))))
    e.injectFunction((
      new FunctionIdentifier("graft_freq_items"),
      new ExpressionInfo(classOf[FrequentItems].getName, "graft_freq_items"),
      (children: Seq[Expression]) => FrequentItems(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_bottomk"),
      new ExpressionInfo(classOf[BottomKSample].getName, "graft_bottomk"),
      (children: Seq[Expression]) => BottomKSample(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_image_meta"),
      new ExpressionInfo(classOf[ImageMeta].getName, "graft_image_meta"),
      (children: Seq[Expression]) => ImageMeta(children(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_audio_meta"),
      new ExpressionInfo(classOf[AudioMeta].getName, "graft_audio_meta"),
      (children: Seq[Expression]) => AudioMeta(children(0))))
    // Spark ships a production Bloom-filter aggregate + membership probe
    // but registers them internal-only (the runtime-filter rewrite is
    // their sole built-in consumer). Surface them as graft functions so
    // pipelines can build an explicit membership sketch (decontamination,
    // semi-join pre-filters) without a UDF re-implementation.
    e.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))))
    e.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
    e.injectPlannerStrategy(_ => new graft.plans.TopKPerGroupStrategy)
    e.injectPlannerStrategy(_ => new graft.sources.MetadataAnswerStrategy)
    e.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    e.injectOptimizerRule(session => graft.plans.MaterializedRollupRewrite(session))
  }
}

object VectorFunctions {
  /** Column-level dot product backed by the codegen expression; requires
    * [[GraftExtensions]] on the session. */
  def dotp(a: Column, b: Column): Column = call_function("graft_dotp", a, b)
}
