package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass positional word-N-gram windows (r22):
  * `shingle_wins(toks, n)` returns the array of
  *
  * {{{
  *   CASE WHEN size(toks) >= n THEN transform(sequence(0, size(toks)-n),
  *     j -> struct(j AS j, concat_ws(' ', toks[j], …, toks[j+n-1]) AS sh))
  *   ELSE array() END
  * }}}
  *
  * — every window with its 0-based start position, duplicates kept —
  * without the HOF lambda chain's per-position allocations (the
  * [[ShinglesN]] rationale; this is txt_span_scrub's window scan).
  * ShinglesNSpec pins the equivalence, codegen AND interpreted. */
case class ShingleWins(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "shingle_wins"

  override def dataType: DataType = ShingleWins.arrayType
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
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a foldable INT width")
    else right.eval(null) match {
      case null => TypeCheckResult.TypeCheckFailure(
        s"$prettyName width must not be NULL")
      case i: Integer if i.intValue() < 1 => TypeCheckResult.TypeCheckFailure(
        s"$prettyName width must be >= 1, got $i")
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def nullSafeEval(arr: Any, w: Any): Any =
    ShingleWins.compute(arr.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, _) => s"""
      ${ev.value} = graft.functions.ShingleWins$$.MODULE$$.compute($arr, $width);
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ShingleWins {

  val arrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("sh", StringType, nullable = false))), containsNull = false)

  private val Space = UTF8String.fromString(" ")

  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = new GenericInternalRow(
        Array[Any](i, UTF8String.concatWs(Space, parts: _*)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** One-pass adjacent-bigram pairs (r22): `bigrams(toks)` returns
  *
  * {{{
  *   CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks)-2),
  *     i -> struct(toks[i] AS w1, toks[i+1] AS w2))
  *   ELSE array() END
  * }}}
  *
  * — the bigram-LM scan of txt_bigram_freq / txt_lm_score /
  * txt_domain_affinity — as one generated-code pass with no sequence/
  * transform intermediates. ShinglesNSpec pins the equivalence. */
case class BigramWins(child: Expression) extends UnaryExpression {

  override def prettyName: String = "bigrams"

  override def dataType: DataType = BigramWins.arrayType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(NullType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${dt.sql}")
    }

  override def nullSafeEval(arr: Any): Any =
    BigramWins.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"""
      ${ev.value} = graft.functions.BigramWins$$.MODULE$$.compute($arr);
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramWins {

  val arrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = true),
    StructField("w2", StringType, nullable = true))), containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    if (len < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - 1)
    var i = 0
    while (i < len - 1) {
      out(i) = new GenericInternalRow(Array[Any](
        if (arr.isNullAt(i)) null else arr.getUTF8String(i),
        if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
