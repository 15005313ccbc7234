package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Fast, bit-identical `round(double, scale)` (HALF_UP — Spark's
  * `round`). Spark's RoundBase computes
  * `BigDecimal.valueOf(d).setScale(scale, HALF_UP).doubleValue()` per
  * row — a string render plus two BigDecimal allocations, measured
  * ~500 ns/row (OPTIMIZATION_r22.md row 5: rounding 2M cosine rows
  * cost 1.05 s of a 2.0 s query). The fast path replaces it with pure
  * FP arithmetic wherever FP provably agrees, falling back to the exact BigDecimal
  * formula near decision boundaries:
  *
  *  - let a = |d|, z = a·10^scale (10^scale ≤ 1e8 is FP-exact, the
  *    product correctly rounded), f = z − floor(z);
  *  - BigDecimal.valueOf uses the SHORTEST decimal representation D of
  *    a, with |D − a| ≤ ulp(a)/2; so the true scaled value
  *    S = D·10^scale satisfies |S − z| ≤ z·2⁻⁵¹ — below 4.5e-7 for
  *    every z < 1e9;
  *  - therefore when f is more than 1e-6 away from each boundary
  *    {0, ½, 1} and z < 1e9, floor(S) = floor(z) and the HALF_UP
  *    decision (f > ½) agree with the exact path, and the result
  *    m/10^scale is the correctly-rounded double of the exact decimal
  *    m·10^−scale — exactly what BigDecimal.doubleValue returns;
  *  - anything else (boundary-near, huge, zero, NaN/Inf per RoundBase's
  *    passthrough) takes the original formula. The m = 0 case returns
  *    +0.0 explicitly: BigDecimal has no signed zero, so the exact
  *    path's −1e-9 → +0.0 must not become −0.0 on the fast path.
  *
  * FastRoundSpec fuzzes 4M values (uniform, boundary-adjacent, exact
  * decimals, subnormals, ±huge) against the BigDecimal formula at
  * every registered scale, plus the expression end-to-end codegen AND
  * interpreted.
  */
object FastRound {

  private val Pow: Array[Double] =
    (0 to 8).map(s => math.pow(10, s)).toArray

  def roundHalfUp(d: Double, scale: Int): Double = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return d
    val pow = Pow(scale)
    val a = if (d < 0) -d else d
    val z = a * pow
    if (z < 1e9) {
      val fl = math.floor(z)
      val f = z - fl
      if (f > 1e-6 && f < 1.0 - 1e-6 && (f < 0.5 - 1e-6 || f > 0.5 + 1e-6)) {
        val m = if (f > 0.5) fl + 1.0 else fl
        if (m == 0.0) return 0.0
        val r = m / pow
        return if (d < 0) -r else r
      }
    }
    java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** `round_hu(double, scale)` — Spark `round` semantics through
  * [[FastRound.roundHalfUp]]; scale must be a foldable INT in [0, 8]. */
case class RoundHalfUp(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "round_hu"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable

  @transient private lazy val scale: Int =
    right.eval(null).asInstanceOf[Integer].intValue()

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a DOUBLE input, got ${left.dataType.sql}")
    else if (!right.foldable || right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT scale")
    else right.eval(null) match {
      case null => TypeCheckResult.TypeCheckFailure(
        s"$prettyName scale must not be NULL")
      case i: Integer if i.intValue() < 0 || i.intValue() > 8 =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName scale must be in [0, 8], got $i")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  override def nullSafeEval(d: Any, s: Any): Any =
    FastRound.roundHalfUp(d.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, _) => s"""
      ${ev.value} = graft.functions.FastRound$$.MODULE$$.roundHalfUp($d, $scale);
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
