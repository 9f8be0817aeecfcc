package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass distinct encoded 3-gram shingles of a text column.
  *
  * Replaces the composed formulation
  * `array_distinct(transform(sequence(1, len-2), i -> substr(text, i, 3)))`
  * + per-shingle `encodeShingle3` arithmetic on the MinHash hot path
  * (Dedup.minHashSignatures → q14/q15/q22, the dominant bench family):
  * that shape re-scans the string from the start for every `substr(i, 3)`
  * (O(L²) byte walking), allocates a UTF8String per position, and runs
  * array_distinct + three more substr walks per shingle for the encode.
  * Here the codepoints are decoded once, each 3-gram is encoded in three
  * multiply-adds, and distinctness is an open-addressed primitive long set
  * — O(L) with zero per-shingle allocation.
  *
  * Value semantics are EXACTLY encodeShingle3 ∘ shingles (reference
  * portfolio-etl.py has no shingling; this is extension surface): code =
  * cp₁·65536 + cp₂·256 + cp₃ over full codepoints, first-occurrence order,
  * `< 3` codepoints → empty array. One deliberate difference: distinctness
  * is on the CODE, not the string — two distinct shingles that collide to
  * one code (possible for codepoints ≥ 256) emit once instead of twice.
  * Every consumer is a per-document MIN aggregate, for which duplicate
  * codes are a no-op, so q14/q15/q22 values are unchanged (proven by
  * ShingleCodesSpec's equivalence property and the unchanged oracles).
  */
object ShingleUtil {

  private val EmptyResult = new GenericArrayData(Array.emptyLongArray)

  /** The codepoints of `s`, decoded once: every kernel here and
    * [[TextStatsUtil.stats]] index the text by codepoint, not by UTF-16
    * char, so that a surrogate pair counts as one position in both
    * engines. The array is trimmed only when the text has a surrogate
    * pair, so ASCII and BMP text cost one allocation.
    */
  def codepoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val len = str.length
    val cps = new Array[Int](len)
    var n = 0
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(n) = cp
      n += 1
      i += Character.charCount(cp)
    }
    if (n == len) cps else java.util.Arrays.copyOf(cps, n)
  }

  def codes3(s: UTF8String): ArrayData = {
    val cps = codepoints(s)
    val n = cps.length
    if (n < 3) return EmptyResult
    val m = n - 2
    // open-addressed set, power-of-2 capacity ≥ 2m (load factor ≤ 0.5)
    var cap = 4
    while (cap < (m << 1)) cap <<= 1
    val mask = cap - 1
    val slots = new Array[Long](cap)
    val usedF = new Array[Boolean](cap)
    val out = new Array[Long](m)
    var outN = 0
    var k = 0
    while (k < m) {
      val code = cps(k).toLong * 65536L + cps(k + 1).toLong * 256L + cps(k + 2).toLong
      var idx = (mix(code) & mask).toInt
      var continue = true
      while (continue) {
        if (!usedF(idx)) {
          usedF(idx) = true
          slots(idx) = code
          out(outN) = code
          outN += 1
          continue = false
        } else if (slots(idx) == code) {
          continue = false
        } else {
          idx = (idx + 1) & mask
        }
      }
      k += 1
    }
    new GenericArrayData(if (outN == m) out else java.util.Arrays.copyOf(out, outN))
  }

  /** Fibonacci-hash spread of the (small-range) code into the table. */
  private def mix(x: Long): Long = (x * 0x9e3779b97f4a7c15L) >>> 32

  /** Position-weighted rolling fingerprint, one pass:
    * Σ_i (i mod P) · (code_i mod P) mod P over ALL 3-gram shingles in
    * order (i is the 1-based codepoint position, P = 2^31−1). Bit-exact
    * with the composed `aggregate(sequence(...), substr ...)` form in
    * TextAnalysis (pinned by spec), which is interpreted HOF + an O(i)
    * substr scan per position — O(L²) per document and the single
    * largest cost the q13 bench exposed once the probe stopped letting
    * ColumnPruning delete the column. Here: decode codepoints once, three
    * multiply-adds per position, O(L), inside whole-stage codegen.
    */
  def rollingFp(s: UTF8String): Long = {
    val P = 2147483647L
    val cps = codepoints(s)
    val n = cps.length
    if (n < 3) return 0L
    var acc = 0L
    var k = 0
    val m = n - 2
    while (k < m) {
      val code = cps(k).toLong * 65536L + cps(k + 1).toLong * 256L + cps(k + 2).toLong
      acc = (acc + ((k + 1).toLong % P) * (code % P) % P) % P
      k += 1
    }
    acc
  }

  /** Ordered (non-distinct) mixHash-per-trigram array, one pass — the
    * native form of
    * `transform(sequence(1, len-2), i -> mixHash(cp_i·2¹⁶ + cp_{i+1}·2⁸ +
    * cp_{i+2}, j))` that winnowing and content-defined chunking build from
    * a `split(text, "")` codepoint array: that shape allocates a
    * one-char-string array and runs the interpreted affine∘x⁵∘affine
    * lambda per position (the q13 lesson, again). Here codepoints decode
    * once and each hash is a handful of modular multiplies inside
    * whole-stage codegen. Arithmetic is EXACTLY [[graft.ext.Dedup.mixHash]]
    * (same hashA/hashB/P constants, referenced — not copied — so they
    * cannot drift); values are oracle-pinned by q180/q234.
    */
  def trigramMixHashes(s: UTF8String, j: Int): ArrayData = {
    val P = 2147483647L
    val a1 = graft.ext.Dedup.hashA(j); val b1 = graft.ext.Dedup.hashB(j)
    val a2 = graft.ext.Dedup.hashA(j + 1); val b2 = graft.ext.Dedup.hashB(j + 1)
    val cps = codepoints(s)
    val n = cps.length
    if (n < 3) return EmptyResult
    val m = n - 2
    val out = new Array[Long](m)
    var k = 0
    while (k < m) {
      val code = cps(k).toLong * 65536L + cps(k + 1).toLong * 256L + cps(k + 2).toLong
      val x1 = (a1 * (code % P) + b1) % P
      val y2 = (x1 * x1) % P
      val y4 = (y2 * y2) % P
      val x5 = (y4 * x1) % P
      out(k) = (a2 * x5 + b2) % P
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct 3-gram shingle STRINGS, first-occurrence order — the string
    * variant for consumers that join on the shingle itself (n-gram Jaccard,
    * where code collisions would corrupt intersection counts). Same
    * one-pass walk; distinctness tracked on the encoded code is NOT enough
    * here, so dedup keys on the string content via a HashSet of the
    * 3-codepoint window materialized once.
    */
  def strings3(s: UTF8String): ArrayData = {
    val str = s.toString
    val len = str.length
    val cpStarts = new Array[Int](len + 1) // char offset of codepoint k
    var n = 0
    var i = 0
    while (i < len) {
      cpStarts(n) = i
      n += 1
      i += Character.charCount(str.codePointAt(i))
    }
    cpStarts(n) = len
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val m = n - 2
    val seen = new java.util.HashSet[String](m * 2)
    val out = new Array[AnyRef](m)
    var outN = 0
    var k = 0
    while (k < m) {
      val sub = str.substring(cpStarts(k), cpStarts(k + 3))
      if (seen.add(sub)) {
        out(outN) = UTF8String.fromString(sub)
        outN += 1
      }
      k += 1
    }
    new GenericArrayData(
      if (outN == m) out.asInstanceOf[Array[Any]]
      else java.util.Arrays.copyOf(out, outN).asInstanceOf[Array[Any]])
  }
}

/** A one-string-argument kernel: null text → null, and any other input
  * type fails analysis with one message naming the function. Every
  * one-string native expression in this package extends it, so each
  * states only its result type and its evaluation.
  */
abstract class StringKernel extends UnaryExpression with Serializable {

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")
}

/** `graft_shingle_codes(text)` → array<long>: distinct encoded 3-gram
  * codes. Null text → null (its only consumer is `explode`, which skips
  * null exactly like the legacy empty array).
  */
case class ShingleCodes(child: Expression) extends StringKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.codes3(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.codes3($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleCodes =
    copy(child = newChild)
}

/** `graft_shingle_strings(text)` → array<string>: distinct 3-gram shingle
  * strings, first-occurrence order (null text → null; explode semantics
  * identical to the composed legacy form).
  */
case class ShingleStrings(child: Expression) extends StringKernel {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.strings3(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.strings3($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** `graft_trigram_hashes(text, j)` → array<long>: ordered mixHash-family-j
  * per-trigram hashes (null text → null, < 3 codepoints → empty). `j` must
  * be a literal — it selects the hash family member at plan time.
  */
case class TrigramMixHashes(child: Expression, j: Int) extends StringKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.trigramMixHashes(input.asInstanceOf[UTF8String], j)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.trigramMixHashes($c, $j)")

  override protected def withNewChildInternal(newChild: Expression): TrigramMixHashes =
    copy(child = newChild)
}

/** `graft_rolling_fp(text)` → long: position-weighted rolling fingerprint
  * over ordered 3-gram shingles (null text → null, < 3 codepoints → 0 —
  * same contract as the composed TextAnalysis form it replaces).
  */
case class RollingFp(child: Expression) extends StringKernel {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.rollingFp(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.rollingFp($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingFp =
    copy(child = newChild)
}

object ShingleFunctions {
  val CodesName = "graft_shingle_codes"
  val StringsName = "graft_shingle_strings"
  val RollingName = "graft_rolling_fp"
  val TrigramHashesName = "graft_trigram_hashes"
  def shingleCodes(text: Column): Column = call_function(CodesName, text)
  def shingleStrings(text: Column): Column = call_function(StringsName, text)
  def rollingFp(text: Column): Column = call_function(RollingName, text)
  def trigramHashes(text: Column, j: Int): Column =
    call_function(TrigramHashesName, text, org.apache.spark.sql.functions.lit(j))
}
