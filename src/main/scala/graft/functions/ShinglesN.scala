package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass distinct word-N-gram shingles (r22): `shingles_n(toks, n)`
  * returns the array of
  *
  * {{{
  *   CASE WHEN size(toks) >= n THEN array_distinct(transform(
  *     sequence(0, size(toks)-n),
  *     i -> concat_ws(' ', toks[i], …, toks[i+n-1])))
  *   ELSE array() END
  * }}}
  *
  * — same elements, same first-occurrence order — without the HOF
  * lambda chain's per-position allocations (a sequence array, a
  * transform array, an N-slot concat argument list, and a full
  * array_distinct pass per ROW; higher-order functions also don't
  * participate in whole-stage codegen). One LinkedHashSet pass inside
  * generated code. Consumers: the word-8-gram scans of
  * txt_decontaminate, txt_span_redundancy and txt_span_scrub (and
  * through them both pipe_corpus entries), and the word-3-gram scan of
  * the minhash pair pipeline. ShinglesNSpec pins the expression
  * against the lambda formulation for several widths, codegen AND
  * interpreted.
  *
  * Null contract: NULL array → NULL; < n tokens → empty array; NULL
  * ELEMENTS are skipped by concat_ws.
  */
case class ShinglesN(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "shingles_n"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable

  @transient private lazy val width: Int =
    right.eval(null).asInstanceOf[Integer].intValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    val arrOk = left.dataType match {
      case ArrayType(_: StringType, _) => true
      case ArrayType(NullType, _) => true
      case _ => false
    }
    if (!arrOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${left.dataType.sql}")
    else if (!right.foldable || right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT width")
    else right.eval(null) match {
      case null => TypeCheckResult.TypeCheckFailure(
        s"$prettyName width must not be NULL")
      case i: Integer if i.intValue() < 1 => TypeCheckResult.TypeCheckFailure(
        s"$prettyName width must be >= 1, got $i")
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def nullSafeEval(arr: Any, w: Any): Any =
    ShinglesN.compute(arr.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, _) => s"""
      ${ev.value} = graft.functions.ShinglesN$$.MODULE$$.compute($arr, $width);
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ShinglesN {

  private val Space = UTF8String.fromString(" ")

  /** The one-pass fold; shared by interpreted eval and generated code.
    * Never returns null (empty array for < n tokens). */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](math.max(16, len * 2))
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
