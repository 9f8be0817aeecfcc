package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expressions for vector math over `array<float|double>`
  * and `array<bigint>` columns (extension surface, SURVEY.md §7.5).
  *
  * Rationale: the higher-order-function formulation
  * (`aggregate(zip_with(a,b,*),0d,+)`) allocates an intermediate array and
  * evaluates interpreted lambdas per element — and computing cosine that
  * way walks both arrays three times (dot, ‖a‖, ‖b‖). These expressions
  * run one fused loop with primitive accumulators and participate in
  * whole-stage codegen via doGenCode, so a 64-dim cosine inside a join is
  * a tight JIT'd loop instead of three lambda-driven array traversals.
  *
  * Null semantics deliberately match the HOF formulation exactly so the
  * [[graft.plans.RewriteHofDotProduct]] optimizer rule is a pure
  * performance rewrite: unequal lengths → null (zip_with pads with null),
  * any null element → null (null poisons the multiply then the sum).
  * Summation order is ascending index — identical to the SQL oracle's
  * per-index SUM, so results are bit-identical to the portable reference.
  *
  * The base holds what every binary array kernel shares, so that each
  * kernel states only its element types, its result type and its loop:
  * the type check and its message, null-in → null-out, and the codegen
  * guards against unequal lengths and null elements.
  */
abstract class VectorFoldExpression(elementTypes: Seq[DataType], resultType: DataType)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = resultType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(e, _) => elementTypes.contains(e)
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<${elementTypes.map(_.simpleString).mkString("|")}> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullable: Boolean = true

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  protected def getD(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** codegen fragment reading element i of `arr` as double */
  protected def genGet(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  /** codegen guard: null-out the result on length mismatch / null element.
    * Emitted per static schema — vectors declared non-null skip the
    * per-element check entirely.
    */
  protected def genGuards(ctx: CodegenContext, ev: ExprCode,
                          a: String, b: String, i: String, n: String): (String, String) = {
    val lenGuard =
      s"""if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |int $n = $a.numElements();""".stripMargin
    (lenGuard, genElemGuard(ev, a, i, b, i))
  }

  /** codegen guard: null-out the result and leave the loop when element
    * `ai` of `a` or `bi` of `b` is null; empty for a side whose schema
    * declares non-null elements.
    */
  protected def genElemGuard(ev: ExprCode, a: String, ai: String, b: String, bi: String): String = {
    val nullChecks = Seq(
      if (elemNullable(left)) Some(s"$a.isNullAt($ai)") else None,
      if (elemNullable(right)) Some(s"$b.isNullAt($bi)") else None).flatten
    if (nullChecks.isEmpty) ""
    else s"if (${nullChecks.mkString(" || ")}) { ${ev.isNull} = true; break; }"
  }
}

/** dot(a, b) = Σ a_i·b_i; null on length mismatch or null element. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorFoldExpression(Seq(FloatType, DoubleType), DoubleType) {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val fa = elemIsFloat(left); val fb = elemIsFloat(right)
    val n = a.numElements()
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += getD(a, i, fa) * getD(b, i, fb); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val (lenGuard, elemGuard) = genGuards(ctx, ev, a, b, i, n)
      s"""
         |$lenGuard
         |double $acc = 0.0;
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemGuard
         |    $acc += ${genGet(a, i, elemIsFloat(left))} * ${genGet(b, i, elemIsFloat(right))};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot/(‖a‖·‖b‖) in ONE fused pass; 0.0 when either norm is
  * 0; null on length mismatch or null element (mirrors the HOF form).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorFoldExpression(Seq(FloatType, DoubleType), DoubleType) {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val fa = elemIsFloat(left); val fb = elemIsFloat(right)
    val n = a.numElements()
    var dp = 0.0; var qq = 0.0; var cc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = getD(a, i, fa); val y = getD(b, i, fb)
      dp += x * y; qq += x * x; cc += y * y; i += 1
    }
    val d = math.sqrt(qq) * math.sqrt(cc)
    if (d == 0.0) 0.0 else dp / d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dp = ctx.freshName("dp"); val qq = ctx.freshName("qq"); val cc = ctx.freshName("cc")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val d = ctx.freshName("d")
      val (lenGuard, elemGuard) = genGuards(ctx, ev, a, b, i, n)
      s"""
         |$lenGuard
         |double $dp = 0.0; double $qq = 0.0; double $cc = 0.0;
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemGuard
         |    double $x = ${genGet(a, i, elemIsFloat(left))};
         |    double $y = ${genGet(b, i, elemIsFloat(right))};
         |    $dp += $x * $y; $qq += $x * $x; $cc += $y * $y;
         |  }
         |}
         |double $d = java.lang.Math.sqrt($qq) * java.lang.Math.sqrt($cc);
         |${ev.value} = ($d == 0.0) ? 0.0 : $dp / $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** l2sq(a, b) = Σ (a_i − b_i)² over `array<bigint>` in EXACT Long
  * arithmetic — the k-means distance kernel ([[graft.ext.Clustering]]).
  * One fused primitive loop in whole-stage codegen replaces the
  * interpreted `aggregate(zip_with(…))` chain, which allocates an
  * intermediate array and runs two lambdas per element; with k inlined
  * centroids per row the HOF overhead multiplies k-fold. Null semantics
  * mirror the HOF form (length mismatch / null element → null); ascending
  * -index summation, overflow-free for quantized embeddings
  * (64·(2·10⁶)² < 2⁵⁹).
  */
case class LongL2Squared(left: Expression, right: Expression)
    extends VectorFoldExpression(Seq(LongType), LongType) {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0L; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      val (lenGuard, elemGuard) = genGuards(ctx, ev, a, b, i, n)
      s"""
         |$lenGuard
         |long $acc = 0L;
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemGuard
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongL2Squared =
    copy(left = l, right = r)
}

/** Intersection COUNT of two SORTED distinct `array<bigint>` columns via a
  * single merge scan — primitive longs, no per-row hash set, no boxing,
  * whole-stage codegen.
  *
  * Why it exists: Spark's `array_intersect` builds an OpenHashSet of boxed
  * Longs per row; on q270's 691k candidate pairs × ~143-element shingle
  * sets that was measured at 12 s — this merge scan does the same work in
  * ~0.4 s. The price is a CONTRACT: both inputs must be sorted ascending
  * (`sort_array` once per DOC, amortized across every pair the doc
  * appears in) and duplicate-free. Unsorted input silently undercounts —
  * callers own the sort, which is why this is not a drop-in
  * `array_intersect` replacement in the HOF rewrite rule.
  *
  * Null semantics: null array → null (nullIntolerant); a null ELEMENT →
  * null result (matches the vector kernels; shingle-code arrays are
  * non-null so the static-schema guard compiles away).
  */
case class SortedInterCount(left: Expression, right: Expression)
    extends VectorFoldExpression(Seq(LongType), LongType) {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var acc = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { acc += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val elemGuard = genElemGuard(ev, a, i, b, j)
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0;
         |long $acc = 0L;
         |while ($i < $na && $j < $nb) {
         |  $elemGuard
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { $acc++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedInterCount =
    copy(left = l, right = r)
}

/** Column-API entry points. The Column↔Expression bridge is private[sql]
  * in Spark 4, so these route through the session FunctionRegistry — the
  * functions are injected by [[graft.GraftExtensions]]
  * (SparkSessionExtensions), the public integration point.
  */
object VectorFunctions {
  val DotName = "graft_dot"
  val CosineName = "graft_cosine"
  val L2SqName = "graft_l2sq"
  val SortedInterName = "graft_sorted_inter"
  def dotProduct(a: Column, b: Column): Column = call_function(DotName, a, b)
  def cosineSim(a: Column, b: Column): Column = call_function(CosineName, a, b)
  def l2Squared(a: Column, b: Column): Column = call_function(L2SqName, a, b)
  /** CONTRACT: both arrays sorted ascending and duplicate-free. */
  def sortedInterCount(a: Column, b: Column): Column =
    call_function(SortedInterName, a, b)
}
