package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Set-similarity kernels over pre-hashed, pre-sorted feature arrays.
  *
  * `array_intersect` on string arrays builds a hash set of UTF8Strings
  * per row — per *pair* in a similarity join, which at millions of
  * candidate pairs dominates the whole pipeline (measured ~90% of
  * near-dup verify CPU). Hashing each document's features to sorted
  * longs ONCE (per document, not per pair) turns per-pair work into a
  * primitive merge walk inside whole-stage codegen.
  */
object ArrayKernels {

  /** Distinct char n-gram 64-bit hashes of `s`, sorted ascending —
    * the feature-set representation the similarity kernels consume,
    * produced in ONE pass per row: slide over the bytes, hash each
    * n-char window (FNV-1a 64, internal-only — never compared across
    * engines), sort the primitive array, drop adjacent duplicates.
    * Equivalent to `array_sort(transform(char_ngrams_distinct(s, n),
    * g -> hash64(g)))` minus two interpreted lambdas and boxing.
    */
  def charNgramHashesSorted(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    if (len < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val m = len - n + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val gram = s.substringSQL(i + 1, n)
      val b = gram.getBytes
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < b.length) { h ^= (b(k) & 0xffL); h *= 0x100000001b3L; k += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var distinct = 1
    i = 1
    while (i < m) { if (hs(i) != hs(i - 1)) distinct += 1; i += 1 }
    val out = new Array[Any](distinct)
    out(0) = hs(0)
    var j = 1
    i = 1
    while (i < m) {
      if (hs(i) != hs(i - 1)) { out(j) = hs(i); j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count of positions where two long arrays agree (walked to the
    * shorter length). Over two MinHash signatures this is the
    * single-hash collision count, an unbiased estimator of Jaccard
    * scaled by signature length — the near-dup pre-screen statistic
    * ([[graft.operators.NearDup]]): 16 longs per side ship through the
    * candidate-scale shuffle instead of multi-KB gram arrays.
    */
  def longPosAgreeCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var c = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** All ordered pairs (v_i, v_j), i < j after an internal sort, of a
    * long array — the market-basket pair generator (q128). The r7–r13
    * forms generated k² rows per basket (self-join, then
    * explode×explode) and filtered `pa < pb` afterwards, discarding
    * half the generated rows by construction; the r12 higher-order
    * `filter(parts, ...)` fix measured WORSE (interpreted lambda,
    * 11.4 vs 8.5 s at 100× — negative result in the query doc). This
    * kernel emits exactly k(k−1)/2 pair structs in one codegen'd
    * call — the `CharNgramHashesSorted` precedent: replace
    * interpreted per-element array work with a primitive scan.
    *
    * Elements are sorted inside the kernel (collect_set order is
    * partition-dependent; the SORTED pair (min, max) is what the
    * `a.key < b.key` self-join form produced). Null elements are
    * skipped. Inputs are distinct by contract (collect_set); on
    * duplicate values this kernel and the self-join form DIVERGE —
    * index-based i<j emits the (x, x) pair a value-based `pa < pb`
    * join excludes — so a caller feeding non-distinct arrays must
    * dedup first (r14 ADVICE).
    */
  def orderedLongPairs(a: ArrayData): ArrayData = {
    val n0 = a.numElements()
    val v = new Array[Long](n0)
    var n = 0
    var i = 0
    while (i < n0) {
      if (!a.isNullAt(i)) { v(n) = a.getLong(i); n += 1 }
      i += 1
    }
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // k(k-1)/2 must stay an Int: baskets are input-bounded (≈4-7 lines
    // per order at any TPC-H scale); fail loudly on pathological input
    // rather than corrupt the pair count. Sized in Long first — for n
    // in [46342, 65535] the product n*(n-1) itself overflows Int even
    // where the pair count fits (r14 ADVICE).
    val pairs = n.toLong * (n - 1) / 2
    require(pairs <= Int.MaxValue,
      s"orderedLongPairs: basket of $n elements would emit $pairs > 2^31-1 pairs")
    java.util.Arrays.sort(v, 0, n)
    val out = new Array[Any](pairs.toInt)
    var p = 0
    i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        out(p) = org.apache.spark.sql.catalyst.InternalRow(v(i), v(j))
        p += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count of common elements of two SORTED long arrays (duplicates
    * counted min-wise, like multiset intersection; inputs from
    * `array_sort` of distinct hashes are duplicate-free in practice).
    */
  def sortedLongIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** See [[ArrayKernels.charNgramHashesSorted]]. */
case class CharNgramHashesSorted(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    ArrayKernels.charNgramHashesSorted(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernels.charNgramHashesSorted($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgramHashesSorted =
    copy(child = newChild)
}

object CharNgramHashesSorted {
  def apply(text: Column, n: Int): Column =
    SparkBridge.column(CharNgramHashesSorted(SparkBridge.expression(text), n))
}

/** See [[ArrayKernels.orderedLongPairs]]. */
case class OrderedLongPairs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pa", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pb", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> input, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    ArrayKernels.orderedLongPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernels.orderedLongPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): OrderedLongPairs =
    copy(child = newChild)
}

object OrderedLongPairs {
  def apply(arr: Column): Column =
    SparkBridge.column(OrderedLongPairs(SparkBridge.expression(arr)))
}

/** See [[ArrayKernels.sortedLongIntersectCount]]. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> inputs, got $l / $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.sortedLongIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayKernels.sortedLongIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {
  def apply(a: Column, b: Column): Column =
    SparkBridge.column(
      SortedLongIntersectCount(SparkBridge.expression(a), SparkBridge.expression(b)))
}

/** See [[ArrayKernels.longPosAgreeCount]]. */
case class LongPosAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> inputs, got $l / $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.longPosAgreeCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayKernels.longPosAgreeCount($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LongPosAgreeCount =
    copy(left = newLeft, right = newRight)
}

object LongPosAgreeCount {
  def apply(a: Column, b: Column): Column =
    SparkBridge.column(
      LongPosAgreeCount(SparkBridge.expression(a), SparkBridge.expression(b)))
}
