package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for corpus ingestion — the canonical first
  * pass of a text pipeline: NFC composition (é arrives as both U+00E9 and
  * `e` + U+0301 from real crawls; dedup/shingling must see one form),
  * C0/DEL control-character stripping, ASCII-whitespace-run squashing to
  * one space, and trim. One narrow pass per document.
  *
  * Rule precision (the oracle mirrors these classes exactly — Java's
  * `Character.isWhitespace` is deliberately NOT used because its class
  * (file separators, Unicode spaces) has no regex-engine-portable
  * equivalent):
  *   - whitespace = `[\t\n\x0B\f\r ]` (squashed, leading/trailing dropped)
  *   - stripped   = `[\x00-\x08\x0E-\x1F\x7F]` (C0 minus the whitespace
  *     five, plus DEL)
  *   - composition = Unicode canonical NFC (`java.text.Normalizer` here,
  *     `nfc_normalize` in DuckDB — both implement UAX #15)
  *
  * Why a native expression: the composed form is
  * `trim(regexp_replace(regexp_replace(<no NFC equivalent>, ...)))` — two
  * regex passes and NO built-in NFC in Spark at all; a Scala UDF would
  * leave whole-stage codegen. This runs the three rules in one scan after
  * the (usually no-op) NFC call, inside codegen via the static helper.
  */
object NormalizeUtil {

  def cleanText(s: UTF8String): UTF8String = {
    val raw = s.toString
    val nfc =
      if (java.text.Normalizer.isNormalized(raw, java.text.Normalizer.Form.NFC)) raw
      else java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var pendingSpace = false
    var i = 0
    while (i < nfc.length) {
      val c = nfc.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
      val isCtl = c < ' ' || c == '\u007F'
      if (isWs) { if (sb.length > 0) pendingSpace = true }
      else if (!isCtl) {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** `graft_clean_text(string) -> string` — see [[NormalizeUtil.cleanText]].
  * Null in → null out.
  */
case class CleanText(child: Expression) extends StringKernel {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    NormalizeUtil.cleanText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeUtil.cleanText($c)")

  override protected def withNewChildInternal(newChild: Expression): CleanText =
    copy(child = newChild)
}

object NormalizeFunctions {
  val Name = "graft_clean_text"

  def cleanText(text: Column): Column = call_function(Name, text)
}
