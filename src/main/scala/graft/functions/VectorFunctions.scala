package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `array<float|double>`
  * columns — the hot path of similarity search / embedding dedup.
  *
  * A Scala UDF here would box every element and break whole-stage
  * codegen; these expressions generate a tight primitive loop inside the
  * generated code (`doGenCode`), so a brute-force scan over billions of
  * vectors stays in Tungsten. Summation is sequential in array order,
  * which keeps results bit-identical to a sequential left-fold oracle.
  *
  * Reference basis: the reference has no vector ops (SURVEY §2.6); these
  * implement the extended similarity-search surface (builder brief).
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // NULL out (rather than silently mis-compute) ragged inputs: a length
  // mismatch or a null element yields SQL NULL, so corrupt embeddings
  // surface as missing similarities instead of plausible wrong ones.
  override def nullable: Boolean = true

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Does either input's schema admit null ELEMENTS? When false (the
    * common parquet embedding case after an explicit schema), the
    * per-element null checks are omitted from eval and codegen so the
    * hot loop stays branch-free. */
  protected def anyElementNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  /** java source: read element i of array `v` as double */
  protected def getter(e: Expression, v: String, i: String): String =
    if (elemIsFloat(e)) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"

  protected def elemAt(e: Expression, a: ArrayData, i: Int): Double =
    if (elemIsFloat(e)) a.getFloat(i).toDouble else a.getDouble(i)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, " +
          s"got ${left.dataType.sql} / ${right.dataType.sql}")
  }
}

/** Sequential dot product: Σ a(i)·b(i), i in array order.
  * NULL on dimension mismatch or a null element. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) null
    else {
      val checkNulls = anyElementNullable
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
        dot += elemAt(left, a, i) * elemAt(right, b, i); i += 1
      }
      dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nullCheck =
        if (anyElementNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $dot += (${getter(left, a, i)}) * (${getter(right, b, i)});
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity: dot/(‖a‖·‖b‖), 0.0 on a zero-norm side.
  * NULL on dimension mismatch or a null element.
  * All three accumulations are sequential in array order. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) null
    else {
      val checkNulls = anyElementNullable
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
        val x = elemAt(left, a, i); val y = elemAt(right, b, i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val nullCheck =
        if (anyElementNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $x = ${getter(left, a, i)};
         |    double $y = ${getter(right, b, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = ($na == 0.0 || $nb == 0.0)
         |    ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
