package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_collapse_ws(text)` ≡ `regexp_replace(text, '\s+', ' ')` in one
  * byte scan — the normalization step of the exact-dup fingerprint
  * (md5 over lower/trim/ws-collapsed text), which feeds q12/q40/q131/
  * q172/q240 and the per-doc stats frame. The regex engine is ~70% of
  * the fingerprint's cost (SCALING.md round-12); this kernel replaces
  * each maximal run of ASCII whitespace (Java-regex `\s` = space, \t,
  * \n, \x0B, \f, \r — ASCII-only, so the byte scan is UTF-8-safe) with
  * one 0x20, allocation bounded by one output buffer. The md5 and the
  * Unicode `lower()` stay stock. Oracles keep the `regexp_replace`
  * spelling — green fingerprint-family rows are the equivalence proof.
  */
object CollapseWsUtil {
  def collapse(s: UTF8String): UTF8String = {
    val n = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    var inWs = false
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      val ws = b == 32 || (b >= 9 && b <= 13)
      if (ws) {
        if (!inWs) { out(o) = 32; o += 1; inWs = true }
      } else {
        out(o) = b; o += 1; inWs = false
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}

case class CollapseWs(child: Expression) extends StringKernel {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    CollapseWsUtil.collapse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CollapseWsUtil.collapse($c)")

  override protected def withNewChildInternal(newChild: Expression): CollapseWs =
    copy(child = newChild)
}

object CollapseWsFunctions {
  val Name = "graft_collapse_ws"
}
