package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level kernels for the hot text-pipeline paths.
  *
  * The composable higher-order forms (`transform(sequence(...), ...)`
  * + `array_distinct`, `concat_ws` over `element_at`) evaluate an
  * interpreted lambda per *element*, costing ~1 ms per 300-char
  * document — the dominant cost of the dedup/minhash operators at
  * corpus scale. Each kernel below is one JVM call per *row* running a
  * tight loop over the document's bytes, emitted inside whole-stage
  * codegen. Results are bit-identical to the composable forms (and to
  * the DuckDB oracle SQL documented on each query).
  */
object TextKernels {

  /** Distinct character n-grams in first-occurrence order ==
    * `array_distinct(transform(sequence(1, length(s)-n+1), i -> substr(s,i,n)))`.
    * Character (codepoint) positions, like SQL `substr`.
    */
  def charNgramsDistinct(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](Math.min(len, 1024))
    var i = 1
    while (i <= len - n + 1) {
      seen.add(s.substringSQL(i, n))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** Occurrences of set-member tokens under single-space tokenization
    * == `size(filter(split(s,' '), t -> t.isInCollection(words)))`.
    * Counts every occurrence (not distinct tokens).
    */
  def stopwordHits(s: UTF8String, words: java.util.HashSet[UTF8String]): Int = {
    val bytes = s.getBytes
    val nb = bytes.length
    var hits = 0
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == 0x20) {
        if (words.contains(UTF8String.fromBytes(bytes, start, i - start))) hits += 1
        start = i + 1
      }
      i += 1
    }
    hits
  }

  /** Word n-gram shingles over single-space tokenization ==
    * `transform(sequence(1, size(split(s,' '))-n+1), i -> concat_ws(' ', tok(i)..tok(i+n-1)))`.
    *
    * Because the separator is a single space, each shingle is exactly
    * the byte range of the original text from the start of token `i`
    * to the end of token `i+n-1` (this also holds with consecutive
    * spaces / empty tokens, which `split` keeps) — so the kernel just
    * records token byte offsets and slices, no joining.
    */
  /** Polynomial rolling hash (Rabin–Karp) over the raw UTF-8 bytes:
    * `h = h * 31 + byte` in wraparound 64-bit arithmetic. One
    * multiply-add per byte, no allocation — the cheapest content
    * fingerprint that still separates every distinct document with
    * ~2⁻⁶⁴ collision odds (vs md5's parse/format overhead when only an
    * equality key is needed). The q64 oracle cross-checks injectivity
    * on the corpus: the duplicate-size distribution grouped by this
    * hash must equal the one grouped by the text itself.
    */
  def rollingHash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 31L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Count of matches of the BPE pre-split pattern
    * `[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]` ==
    * `size(regexp_extract_all(s, ...))` — the q65 subword counter,
    * without the regex interpreter (the q73 precedent: a hand-rolled
    * scanner over the exact character classes, ~6× the interpreted
    * `regexp_extract_all` pass at corpus scale).
    *
    * Byte-level equivalence to Java regex (which matches per CODE
    * POINT): an ASCII letter opens a maximal letter run (+1), an
    * ASCII digit counts alone (+1), 0x20 matches nothing, and any
    * other code point hits the third alternative (+1) — counted at
    * its UTF-8 lead byte with continuation bytes (0x80–0xBF) skipped,
    * so a multi-byte character (including a surrogate pair, one code
    * point to `java.util.regex`) counts exactly once. Fuzz-pinned
    * against `java.util.regex` in TextKernelsSpec, ASCII and
    * non-ASCII inputs.
    */
  def subwordCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    val nb = bytes.length
    var c = 0
    var i = 0
    while (i < nb) {
      val b = bytes(i) & 0xff
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
        c += 1
        i += 1
        var run = true
        while (run && i < nb) {
          val x = bytes(i) & 0xff
          if ((x >= 'A' && x <= 'Z') || (x >= 'a' && x <= 'z')) i += 1
          else run = false
        }
      } else if (b == 0x20 || (b >= 0x80 && b < 0xc0)) {
        // space matches no alternative; a continuation byte belongs to
        // a code point already counted at its lead byte
        i += 1
      } else {
        // digit, ASCII punctuation, or a multi-byte lead byte: one match
        c += 1
        i += 1
      }
    }
    c
  }

  /** `size(split(s, ' '))` without materializing the array: Spark's
    * `split` keeps trailing empty strings (limit −1), so the token
    * count is exactly (number of 0x20 bytes) + 1 — 0x20 never occurs
    * inside a multi-byte UTF-8 sequence.
    */
  def spaceTokenCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    var c = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) c += 1
      i += 1
    }
    c
  }

  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes // copy only when the UTF8String is offset into a larger buffer
    val nb = bytes.length
    // token start offsets: 0 and every position after a 0x20 byte
    // (0x20 never occurs inside a multi-byte UTF-8 sequence)
    var tokens = 1
    var i = 0
    while (i < nb) { if (bytes(i) == 0x20) tokens += 1; i += 1 }
    if (tokens < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](tokens + 1) // sentinel: starts(tokens) = nb + 1
    var t = 1
    i = 0
    while (i < nb) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(tokens) = nb + 1
    val out = new Array[Any](tokens - n + 1)
    var k = 0
    while (k <= tokens - n) {
      val from = starts(k)
      val until = starts(k + n) - 1 // end of token k+n-1 (strip the following space / sentinel)
      out(k) = UTF8String.fromBytes(bytes, from, until - from)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Base for the kernel-backed array<string> expressions: null-safe,
  * codegen emits a single static call per row.
  */
abstract class TextKernelExpression extends UnaryExpression {
  def kernelName: String
  def n: Int

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.$kernelName($c, $n)")
}

/** See [[TextKernels.charNgramsDistinct]]. */
case class CharNgramsDistinct(child: Expression, n: Int) extends TextKernelExpression {
  override def kernelName: String = "charNgramsDistinct"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.charNgramsDistinct(input.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(newChild: Expression): CharNgramsDistinct =
    copy(child = newChild)
}

/** See [[TextKernels.wordShingles]]. */
case class WordShingles(child: Expression, n: Int) extends TextKernelExpression {
  override def kernelName: String = "wordShingles"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** See [[TextKernels.stopwordHits]]: integer hit count against a fixed
  * word set shipped to codegen as a reference object.
  */
case class StopwordHits(child: Expression, words: Seq[String]) extends UnaryExpression {

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.stopwordHits(input.asInstanceOf[UTF8String], wordSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", wordSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.stopwordHits($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordHits =
    copy(child = newChild)
}

/** See [[TextKernels.rollingHash64]]: 64-bit content fingerprint. */
case class RollingHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.rollingHash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.rollingHash64($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}

/** Integer kernel base: null-safe string→int, one static call per row
  * inside whole-stage codegen.
  */
abstract class IntTextKernelExpression extends UnaryExpression {
  def kernelName: String

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.$kernelName($c)")
}

/** See [[TextKernels.subwordCount]]. */
case class SubwordCount(child: Expression) extends IntTextKernelExpression {
  override def kernelName: String = "subwordCount"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.subwordCount(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): SubwordCount =
    copy(child = newChild)
}

/** See [[TextKernels.spaceTokenCount]]. */
case class SpaceTokenCount(child: Expression) extends IntTextKernelExpression {
  override def kernelName: String = "spaceTokenCount"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.spaceTokenCount(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): SpaceTokenCount =
    copy(child = newChild)
}

object SubwordCount {
  def apply(text: Column): Column =
    SparkBridge.column(SubwordCount(SparkBridge.expression(text)))
}

object SpaceTokenCount {
  def apply(text: Column): Column =
    SparkBridge.column(SpaceTokenCount(SparkBridge.expression(text)))
}

object CharNgramsDistinct {
  def apply(text: Column, n: Int): Column =
    SparkBridge.column(CharNgramsDistinct(SparkBridge.expression(text), n))
}

object RollingHash64 {
  def apply(text: Column): Column =
    SparkBridge.column(RollingHash64(SparkBridge.expression(text)))
}

object StopwordHits {
  def apply(text: Column, words: Seq[String]): Column =
    SparkBridge.column(StopwordHits(SparkBridge.expression(text), words))
}

object WordShingles {
  def apply(text: Column, n: Int): Column =
    SparkBridge.column(WordShingles(SparkBridge.expression(text), n))
}
