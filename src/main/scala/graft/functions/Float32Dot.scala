package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns.
  *
  * Semantically identical to the composable form
  * `aggregate(zip_with(a, b, (x,y) => (x*y).cast(double)), 0d, _+_)`
  * — per-element float32 multiply, widened to double, accumulated
  * left-to-right — but ~2 orders of magnitude cheaper per row: the
  * higher-order-function chain allocates lambda frames and an
  * intermediate array per row, while this compiles to a primitive
  * loop inside whole-stage codegen (`doGenCode`), which is what a
  * 10⁶×10³ similarity join needs at scale.
  *
  * Nulls: null array → null (BinaryExpression default); element nulls
  * are not expected in embedding data (elements read via the
  * primitive float accessor).
  */
case class Float32Dot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"Float32Dot requires array<float> inputs, got $l / $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += (x.getFloat(i) * y.getFloat(i)).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName is mandatory: in Predicate contexts the generated method's
      // row parameter is literally named `i`, so a hardcoded `int i` makes
      // Janino fail and Spark silently drop to interpreted eval.
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double)($a.getFloat($i) * $b.getFloat($i));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Float32Dot =
    copy(left = newLeft, right = newRight)
}

object Float32Dot {
  import org.apache.spark.sql.graftbridge.SparkBridge
  /** Column-facing constructor (Spark 4 classic Column↔Expression bridge). */
  def apply(a: Column, b: Column): Column =
    SparkBridge.column(
      Float32Dot(SparkBridge.expression(a), SparkBridge.expression(b)))
}
