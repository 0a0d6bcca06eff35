package graft.functions

import graft.TestSpark
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, BoundReference, GreaterThan, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.GeneratePredicate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

/** Guards against codegen variable-name collisions in the custom kernels.
  *
  * In `Predicate` contexts Spark names the generated method's input-row
  * parameter `i` (`CodegenContext.INPUT_ROW`), so a `doGenCode` body that
  * hardcodes `int i` (or `n`, `sum`, ...) makes Janino fail with
  * "Redefinition of local variable" and Spark *silently* falls back to
  * interpreted eval — correct results, ~100x slower in join conditions.
  *
  * `GeneratePredicate.generate` compiles the same shape but *throws* on a
  * codegen error instead of falling back, which makes the regression
  * deterministic: these tests fail to compile the predicate at all if any
  * kernel re-introduces a hardcoded local.
  */
class CodegenPredicateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val floatArr = ArrayType(FloatType, containsNull = false)
  private val longArr = ArrayType(LongType, containsNull = false)

  test("Float32Dot compiles as a generated predicate (input row named `i`) and evaluates") {
    val expr = GreaterThan(
      Float32Dot(BoundReference(0, floatArr, nullable = false),
                 BoundReference(1, floatArr, nullable = false)),
      Literal(0.5d))
    val pred = GeneratePredicate.generate(expr) // throws on codegen failure
    pred.initialize(0)
    val hit = InternalRow(
      new GenericArrayData(Array(0.6f, 0.8f)), new GenericArrayData(Array(0.6f, 0.8f)))
    val miss = InternalRow(
      new GenericArrayData(Array(1.0f, 0.0f)), new GenericArrayData(Array(0.0f, 1.0f)))
    assert(pred.eval(hit))
    assert(!pred.eval(miss))
  }

  test("SortedLongIntersectCount compiles as a generated predicate and evaluates") {
    val expr = GreaterThan(
      SortedLongIntersectCount(BoundReference(0, longArr, nullable = false),
                               BoundReference(1, longArr, nullable = false)),
      Literal(1))
    val pred = GeneratePredicate.generate(expr)
    pred.initialize(0)
    val hit = InternalRow(
      new GenericArrayData(Array(1L, 2L, 3L)), new GenericArrayData(Array(2L, 3L, 4L)))
    val miss = InternalRow(
      new GenericArrayData(Array(1L, 2L)), new GenericArrayData(Array(3L, 4L)))
    assert(pred.eval(hit))
    assert(!pred.eval(miss))
  }

  test("bloom prefilter + exact verify equals the exact semi-join") {
    import spark.implicits._
    val corpus = (0 until 500).map(i => (i.toLong, s"gram-${i % 50}")).toDF("id", "s")
    val evalSet = Seq("gram-3", "gram-7", "gram-11").toDF("s")
    // the q99 form: Spark's bloom aggregate as a scalar subquery,
    // probed with BloomFilterMightContain on the same xxhash64
    val model = evalSet.select(SparkBridge.column(new BloomFilterAggregate(
      SparkBridge.expression(xxhash64(col("s"))), Literal(1000L),
      Literal(BloomFilter.optimalNumOfBits(1000L, 0.01))).toAggregateExpression()))
    val viaBloom = corpus.filter(SparkBridge.column(BloomFilterMightContain(
        SparkBridge.expression(model.scalar()), SparkBridge.expression(xxhash64(col("s"))))))
      .join(evalSet, "s").select("id").as[Long].collect().sorted
    val exact = corpus.join(evalSet, "s").select("id").as[Long].collect().sorted
    assert(viaBloom.sameElements(exact))
  }

  test("ZOrder64 compiles as a generated predicate and evaluates") {
    val expr = GreaterThan(
      ZOrder64(BoundReference(0, LongType, nullable = false),
               BoundReference(1, LongType, nullable = false)),
      Literal(0L))
    val pred = GeneratePredicate.generate(expr) // throws on codegen failure
    pred.initialize(0)
    assert(pred.eval(InternalRow(1L, 1L)))  // interleave(1,1) = 3 > 0
    assert(!pred.eval(InternalRow(0L, 0L))) // interleave(0,0) = 0
  }

  test("LongPosAgreeCount compiles as a generated predicate and evaluates") {
    val expr = GreaterThan(
      LongPosAgreeCount(BoundReference(0, longArr, nullable = false),
                        BoundReference(1, longArr, nullable = false)),
      Literal(1))
    val pred = GeneratePredicate.generate(expr)
    pred.initialize(0)
    val hit = InternalRow(
      new GenericArrayData(Array(1L, 2L, 3L)), new GenericArrayData(Array(1L, 2L, 9L)))
    val miss = InternalRow(
      new GenericArrayData(Array(1L, 2L)), new GenericArrayData(Array(2L, 1L)))
    assert(pred.eval(hit))   // positions 0 and 1 agree
    assert(!pred.eval(miss)) // no positional agreement
  }

  test("Float32Dot in a nested-loop join condition produces correct pairs end-to-end") {
    import spark.implicits._
    // 3 unit-ish vectors; only (a,b) alignments above the threshold survive.
    val left = Seq((1, Array(1.0f, 0.0f)), (2, Array(0.0f, 1.0f))).toDF("lid", "lv")
    val right = Seq((10, Array(0.9f, 0.1f)), (20, Array(0.1f, 0.9f))).toDF("rid", "rv")
    val got = left
      .join(right, Float32Dot(col("lv"), col("rv")) > 0.5d)
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    assert(got == Set((1, 10), (2, 20)))
  }
}
