package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** 2-D Morton (Z-order) interleave — the clustering key behind
  * multi-dimensional data layout (Delta/Iceberg `OPTIMIZE ZORDER BY`):
  * sorting by the interleaved key keeps rows close in BOTH dimensions
  * co-located, so per-file min/max ranges become small rectangles and
  * a predicate on either column prunes most files. A single-column
  * sort gives perfect pruning on one dimension and none on the other.
  *
  * Bit i of `a` lands at position 2i, bit i of `b` at 2i+1 (low 32
  * bits of each input; callers rank- or range-normalize first when
  * domains exceed that). The expansion is the classic O(log n)
  * magic-mask spread, codegen'd — no per-bit loop in the hot path.
  */
object ZOrderKernel {

  private def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  def interleave(a: Long, b: Long): Long =
    spread(a) | (spread(b) << 1)
}

/** See [[ZOrderKernel.interleave]]. */
case class ZOrder64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint inputs, got $l / $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrderKernel.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ZOrderKernel.interleave($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ZOrder64 =
    copy(left = newLeft, right = newRight)
}

object ZOrder64 {
  def apply(a: Column, b: Column): Column =
    SparkBridge.column(ZOrder64(SparkBridge.expression(a), SparkBridge.expression(b)))
}
