package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document text counters for the stats/quality/lang-ID
  * family — the integer INPUTS of `TextAnalysis.stats`, computed in a
  * single codepoint scan instead of two token-array materializations,
  * three interpreted higher-order-function lambdas (Spark HOFs do not
  * participate in whole-stage codegen), and two regex passes.
  *
  * The kernel emits ONLY integer counts; every ratio, score, and the
  * language argmax keep their existing Column formulations downstream,
  * fed by these counts — so the float staging (and therefore every
  * oracle hash) is bit-identical to the composed form.
  *
  * Count semantics replicated exactly:
  *   - `n_chars`   = `length(text)` — codepoints
  *   - `n_tokens`  = whitespace tokens (Java-regex `\s` is ASCII-only)
  *   - `n_subwords`= `regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')`
  *     — alpha runs, digit runs, single other non-ws marks
  *   - `n_punct`   = codepoints in `\p{Punct}` (POSIX/ASCII punctuation)
  *   - `stop_hits` = tokens equal (case-SENSITIVE) to an English stopword
  *   - `tok_len_sum` = Σ per-token codepoint length
  *   - `hit_<lang>` = tokens of `lower(text)` equal to a lang marker.
  *     Matching is ASCII case-fold with non-ASCII tokens never matching —
  *     exact for these marker lists because no codepoint outside ASCII
  *     lowercases INTO them (the only ASCII-producing special case,
  *     U+212A → 'k', appears in no marker; U+0130 lowers to "i̇" which
  *     contains U+0307 and cannot equal an ASCII word).
  */
object TextStatsUtil {

  // single source of truth: the same lists TextAnalysis exposes.
  // codepoint arrays, lowercase ASCII by construction.
  private lazy val stopwords: Array[Array[Int]] =
    graft.ext.TextAnalysis.englishStopwords.map(_.codePoints().toArray).toArray
  private lazy val markers: Array[Array[Array[Int]]] =
    graft.ext.TextAnalysis.langMarkers
      .map(_._2.map(_.codePoints().toArray).toArray).toArray

  @inline private def isWs(cp: Int): Boolean = cp == 32 || (cp >= 9 && cp <= 13)
  @inline private def isAlpha(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
  @inline private def isDigit(cp: Int): Boolean = cp >= '0' && cp <= '9'
  @inline private def isPunct(cp: Int): Boolean =
    (cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
      (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126)
  @inline private def foldAscii(cp: Int): Int =
    if (cp >= 'A' && cp <= 'Z') cp + 32 else cp

  /** exact-codepoint match of cps[from, to) against `word` */
  private def eq(cps: Array[Int], from: Int, to: Int, word: Array[Int]): Boolean = {
    if (to - from != word.length) return false
    var i = 0
    while (i < word.length) {
      if (cps(from + i) != word(i)) return false
      i += 1
    }
    true
  }

  /** ASCII-case-folded match; non-ASCII token → never matches */
  private def eqFolded(cps: Array[Int], from: Int, to: Int,
                       word: Array[Int]): Boolean = {
    if (to - from != word.length) return false
    var i = 0
    while (i < word.length) {
      val cp = cps(from + i)
      if (cp > 127 || foldAscii(cp) != word(i)) return false
      i += 1
    }
    true
  }

  def stats(s: UTF8String): InternalRow = {
    val cps = ShingleUtil.codepoints(s)
    val n = cps.length

    var nTokens = 0
    var nSubwords = 0
    var nPunct = 0
    var stopHits = 0
    var tokLenSum = 0L
    val nLang = markers.length
    val langHits = new Array[Int](nLang)

    var inTok = false
    var tokStart = 0
    // subword state: 0 = none, 1 = alpha run, 2 = digit run
    var run = 0

    def closeToken(end: Int): Unit = {
      tokLenSum += (end - tokStart)
      var j = 0
      var hit = false
      while (j < stopwords.length && !hit) {
        if (eq(cps, tokStart, end, stopwords(j))) { stopHits += 1; hit = true }
        j += 1
      }
      var l = 0
      while (l < nLang) {
        val ws = markers(l)
        var k = 0
        var mHit = false
        while (k < ws.length && !mHit) {
          if (eqFolded(cps, tokStart, end, ws(k))) { langHits(l) += 1; mHit = true }
          k += 1
        }
        l += 1
      }
    }

    var i = 0
    while (i < n) {
      val cp = cps(i)
      val ws = isWs(cp)
      if (ws) {
        if (inTok) { closeToken(i); inTok = false }
        run = 0
      } else {
        if (!inTok) { nTokens += 1; inTok = true; tokStart = i }
        if (isPunct(cp)) nPunct += 1
        if (isAlpha(cp)) { if (run != 1) { nSubwords += 1; run = 1 } }
        else if (isDigit(cp)) { if (run != 2) { nSubwords += 1; run = 2 } }
        else { nSubwords += 1; run = 0 }
      }
      i += 1
    }
    if (inTok) closeToken(n)

    // row tail built FROM langHits (sized by TextAnalysis.langMarkers),
    // matching the schema's generated hit_* fields — adding or removing a
    // marker language changes both in lockstep instead of compiling fine
    // and exploding (or silently dropping a language) at runtime
    val out = new Array[Any](6 + nLang)
    out(0) = n; out(1) = nTokens; out(2) = nSubwords
    out(3) = nPunct; out(4) = stopHits; out(5) = tokLenSum
    var l2 = 0
    while (l2 < nLang) { out(6 + l2) = langHits(l2); l2 += 1 }
    new GenericInternalRow(out)
  }
}

case class TextStats(child: Expression) extends StringKernel {

  override def dataType: DataType = TextStatsFunctions.schema

  override protected def nullSafeEval(input: Any): Any =
    TextStatsUtil.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsUtil.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStatsFunctions {
  val Name = "graft_text_stats"

  // hit_* fields generated from the SAME langMarkers list the kernel
  // counts with, so the schema arity and the row arity cannot drift
  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_subwords", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("tok_len_sum", LongType, nullable = false)) ++
    graft.ext.TextAnalysis.langMarkers.map { case (lang, _) =>
      StructField(s"hit_$lang", IntegerType, nullable = false)
    })
}
