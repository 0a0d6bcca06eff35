package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe of a string column against a driver-built
  * [[org.apache.spark.util.sketch.BloomFilter]] (the public
  * `df.stat.bloomFilter` sketch), carried to executors as a BROADCAST
  * — not serialized per task — so a production-sized filter (hundreds
  * of MB for billions of keys at 1% fpp) ships once per executor.
  *
  * This is the map-side prefilter of the two-step "bloom semi-join":
  * probe cheaply before the shuffle, then exact-verify the surviving
  * candidates with a real join (false positives die there, so the
  * composed operator stays EXACT — see the q99 decontamination query).
  * One-sided error: `false` is definitive, `true` is a candidate.
  *
  * Probes hash the UTF-8 bytes directly (`mightContainBinary` —
  * `putString`/`mightContainString` delegate to the same bytes), no
  * per-row String allocation, and codegen keeps the probe inside the
  * enclosing WholeStageCodegen span (asserted by CodegenPredicateSpec).
  */
case class BloomMightContain(child: Expression, bloom: Broadcast[BloomFilter])
    extends UnaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"BloomMightContain requires a string column, got $t")
    }

  override protected def nullSafeEval(input: Any): Any =
    bloom.value.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the broadcast handle rides the generated class's references
    // array; .value() resolves to the executor-local filter instance
    val ref = ctx.addReferenceObj("bloomBc", bloom, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)
       |  $ref.value()).mightContainBinary($c.getBytes());
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomMightContain {
  import org.apache.spark.sql.graftbridge.SparkBridge

  def apply(c: Column, bloom: Broadcast[BloomFilter]): Column =
    SparkBridge.column(BloomMightContain(SparkBridge.expression(c), bloom))
}
