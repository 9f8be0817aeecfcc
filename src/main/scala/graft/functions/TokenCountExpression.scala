package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_token_count(text)` → int: whitespace-token count in ONE byte
  * scan with zero allocation.
  *
  * Replaces `size(filter(split(trim(text), "\\s+"), t -> length(t) > 0))`
  * for count-only consumers (per-doc stats, length histograms, packing
  * budgets, the incremental-refresh sketch): that composed shape copies
  * every token into its own UTF8String and builds an array, just to read
  * the array's length — per-row garbage proportional to the document on
  * what is otherwise a scan-speed pass.
  *
  * Value semantics EXACTLY match the composed form: Java-regex `\s` is
  * ASCII-only (space, \t, \n, \x0B, \f, \r), so a token is a maximal run
  * of other BYTES — safe on UTF-8 directly because continuation bytes
  * (≥ 0x80) never collide with ASCII, and non-ASCII whitespace (e.g.
  * U+00A0) is NOT `\s` in either spelling. The oracle keeps the portable
  * `string_split_regex` spelling; the spec sweeps the edges (empty,
  * all-whitespace, leading/trailing runs, multi-byte text).
  */
object TokenCountUtil {
  def count(s: UTF8String): Int = {
    val n = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    var c = 0
    var inTok = false
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      val ws = b == 32 || (b >= 9 && b <= 13)
      if (ws) inTok = false
      else if (!inTok) { c += 1; inTok = true }
      i += 1
    }
    c
  }
}

case class TokenCount(child: Expression) extends StringKernel {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TokenCountUtil.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCountUtil.count($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCountFunctions {
  val Name = "graft_token_count"
}
