package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document term-frequency table: `token_counts(toks)`
  * returns `array<struct<term string, cnt int>>` — one row per DISTINCT
  * token in first-occurrence order, with its occurrence count.
  *
  * This is the r21 codegen replacement for `txt_tfidf_top`'s HOF term
  * expansion
  *
  * {{{
  *   transform(array_distinct(toks), w ->
  *     struct(w AS term, size(filter(toks, t -> t = w)) AS cnt))
  * }}}
  *
  * which is CodegenFallback and O(types·tokens) per row (a full
  * `filter` pass over the token array per distinct token — the same
  * complexity trap the r19 `token_stats` expression retired for the
  * quality family). One hash-map pass here: O(tokens) per row inside
  * whole-stage codegen (the generated code calls the static
  * [[TokenCounts.compute]] helper — the [[TokenStats]] pattern).
  *
  * Equivalence (TokenCountsSpec pins it, codegen AND interpreted):
  * `array_distinct` keeps first occurrences in order, so element order,
  * terms and counts all match the lambda exactly. The consumer explodes
  * the array, so order cannot matter downstream — but matching it makes
  * the equivalence gate bit-for-bit.
  *
  * Null contract (the [[TokenStats]] convention): a NULL token array,
  * or any NULL element inside it, yields NULL — corrupt input surfaces
  * as a missing row, not plausible wrong counts. The whitespace
  * tokenizer (`split`) never emits NULL elements, so the registered
  * query never takes that branch.
  */
case class TokenCounts(child: Expression) extends UnaryExpression {

  override def prettyName: String = "token_counts"
  override def nullable: Boolean = true

  override def dataType: DataType = TokenCounts.arrayType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(NullType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${dt.sql}")
    }

  override def nullSafeEval(arr: Any): Any =
    TokenCounts.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"""
      ${ev.value} = graft.functions.TokenCounts$$.MODULE$$.compute($arr);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCounts {

  val arrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("cnt", IntegerType, nullable = false))), containsNull = false)

  /** The one-pass fold; shared by interpreted eval and generated code.
    * Returns NULL (the whole array) on any NULL token element. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // LinkedHashMap preserves first-occurrence order = array_distinct order
    val counts = new java.util.LinkedHashMap[UTF8String, Integer](
      math.max(16, n * 2))
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val t = arr.getUTF8String(i)
      val old = counts.get(t)
      counts.put(t, Integer.valueOf(if (old == null) 1 else old.intValue() + 1))
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new GenericInternalRow(Array[Any](e.getKey, e.getValue.intValue()))
      k += 1
    }
    new GenericArrayData(out)
  }
}
