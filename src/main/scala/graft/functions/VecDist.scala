package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass vector-quantization kernels (r21) — the codegen
  * replacements for the Embeddings/Pq families' crossJoin-then-window
  * nearest-centroid shapes:
  *
  *  - `vec_nearest(vd, cells, k)` → the k nearest codebook entries of
  *    a vector: `array<struct<c_label int, d2 double, cell_rank int>>`
  *    ranked by (d2 ASC, c_label ASC) — exactly the rows
  *    [[graft.ext.Embeddings.assignTop]] produced through an n×k
  *    crossJoin + row_number window (one shuffle + sort of n·k rows,
  *    with a CodegenFallback zip_with/aggregate fold per pair);
  *  - `pq_encode(vd, cells, m, w)` → the per-subspace argmin codes of
  *    product quantization: `array<struct<sub int, code int,
  *    d2 double>>` (ties → lowest code), exactly the rows
  *    [[graft.ext.Pq.codes]] produced through an n×k×m crossJoin +
  *    per-(vector, subspace) window.
  *
  * `cells` is the codebook as `array<struct<c_label int,
  * cv array<double>>>` — built plan-side as
  * `sort_array(collect_list(struct(label, cv)))` on a 1-row broadcast
  * panel (ascending label order is what makes the streaming argmin's
  * strict `<` reproduce the window's c_label tie-break).
  *
  * Bit-exactness (VecDistSpec pins both, codegen AND interpreted,
  * against the crossJoin+window formulations): the subspace/whole
  * distance is the same sequential fold `aggregate(zip_with(vd, cv,
  * (a,b) -> (a-b)*(a-b)), 0.0d, +)` in index order, and the rounding
  * is byte-code-verified Spark `round(_, 6)` semantics —
  * `java.math.BigDecimal.valueOf(d).setScale(6, HALF_UP)` with
  * NaN/Infinity passthrough (identical on Spark's interpreted path:
  * scala BigDecimal.decimal is the same Double.toString construction).
  * Double ordering uses `java.lang.Double.compare`, Spark's SQL
  * ordering for doubles.
  *
  * Null contract: NULL vd or NULL cells → NULL (the rows the old
  * crossJoin shape never produced are filtered by the callers); NULL
  * ELEMENTS inside vd/cv are out of contract (parquet float arrays are
  * non-null; the old path degenerated to NULL-distance rows there).
  */
object VecDist {

  /** Spark `round(d, 6)` exactly (RoundBase, both eval paths) — r22:
    * through [[FastRound.roundHalfUp]]'s FP fast path (bit-identical,
    * FastRoundSpec; ~500 ns/row of BigDecimal work saved on every
    * (vector, cell) distance across the sim_ family). */
  def round6(d: Double): Double = FastRound.roundHalfUp(d, 6)

  /** Sequential-fold squared L2 over [off, off+len) — the
    * zip_with/aggregate order. */
  def sliceD2(vd: ArrayData, cv: ArrayData, off: Int, len: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < len) {
      val a = vd.getDouble(off + j)
      val b = cv.getDouble(off + j)
      val x = (a - b) * (a - b)
      acc = acc + x
      j += 1
    }
    acc
  }

  private[functions] def literalInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a foldable integer literal")
    e.eval(null) match {
      case i: Integer => i.intValue()
      case other => sys.error(s"$what must be an INT literal, got $other")
    }
  }

  private[functions] def checkVecCells(prettyName: String,
      vd: Expression, cells: Expression, lit: Expression): TypeCheckResult = {
    def isDoubleArray(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cellsOk = cells.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, IntegerType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }
    if (!isDoubleArray(vd.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> vd, got ${vd.dataType.sql}")
    else if (!cellsOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct<int, array<double>>> cells, got ${cells.dataType.sql}")
    else if (!lit.foldable || lit.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT parameter")
    else lit.eval(null) match {
      // reject NULL / k < 1 at ANALYSIS time (ADVICE r21 item 3): a
      // user-callable SQL function must fail with a type error here,
      // not an ArrayIndexOutOfBounds / sys.error at eval
      case null => TypeCheckResult.TypeCheckFailure(
        s"$prettyName INT parameter must not be NULL")
      case i: Integer if i.intValue() < 1 => TypeCheckResult.TypeCheckFailure(
        s"$prettyName INT parameter must be >= 1, got $i")
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }
}

/** See [[VecDist]]. */
case class VecNearest(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = "vec_nearest"
  override def nullable: Boolean = true

  @transient private lazy val k: Int = VecDist.literalInt(third, "vec_nearest k")

  override def dataType: DataType = VecNearest.arrayType

  override def checkInputDataTypes(): TypeCheckResult =
    VecDist.checkVecCells(prettyName, first, second, third)

  override def nullSafeEval(vd: Any, cells: Any, kIgnored: Any): Any =
    VecNearest.compute(vd.asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vd, cells, _) => s"""
      ${ev.value} = graft.functions.VecNearest$$.MODULE$$.compute($vd, $cells, $k);
    """)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VecNearest {

  val arrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("c_label", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false),
    StructField("cell_rank", IntegerType, nullable = false))), containsNull = false)

  /** Streaming top-k by (d2 ASC, c_label ASC); cells arrive in
    * ascending-label order, so a strict `<` insert keeps the lowest
    * label on d2 ties — the window's tie-break. */
  def compute(vd: ArrayData, cells: ArrayData, k: Int): ArrayData = {
    val nc = cells.numElements()
    val dim = vd.numElements()
    val topD = new Array[Double](k)
    val topL = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < nc) {
      val cell = cells.getStruct(c, 2)
      val label = cell.getInt(0)
      val cv = cell.getArray(1)
      val d2 = VecDist.round6(VecDist.sliceD2(vd, cv, 0, dim))
      // insertion position: after every entry with (d2, label) <= current
      var pos = if (filled < k) filled else k - 1
      if (filled < k || java.lang.Double.compare(d2, topD(k - 1)) < 0) {
        while (pos > 0 && java.lang.Double.compare(d2, topD(pos - 1)) < 0) {
          if (pos < k) { topD(pos) = topD(pos - 1); topL(pos) = topL(pos - 1) }
          pos -= 1
        }
        if (pos < k) { topD(pos) = d2; topL(pos) = label }
        if (filled < k) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) {
      out(i) = new GenericInternalRow(Array[Any](topL(i), topD(i), i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** See [[VecDist]]. */
case class PqEncode(first: Expression, second: Expression, third: Expression,
    fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true

  @transient private lazy val m: Int = VecDist.literalInt(third, "pq_encode m")
  @transient private lazy val w: Int = VecDist.literalInt(fourth, "pq_encode w")

  override def dataType: DataType = PqEncode.arrayType

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = VecDist.checkVecCells(prettyName, first, second, third)
    if (base != TypeCheckResult.TypeCheckSuccess) base
    else if (!fourth.foldable || fourth.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a foldable INT w")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(vd: Any, cells: Any, mIgn: Any, wIgn: Any): Any =
    PqEncode.compute(vd.asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData], m, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vd, cells, _, _) => s"""
      ${ev.value} = graft.functions.PqEncode$$.MODULE$$.compute($vd, $cells, $m, $w);
    """)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

object PqEncode {

  val arrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false))), containsNull = false)

  /** Per-subspace argmin over the codebook (ties → lowest label, via
    * ascending-label iteration + strict `<`). */
  def compute(vd: ArrayData, cells: ArrayData, m: Int, w: Int): ArrayData = {
    val nc = cells.numElements()
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      var bestLabel = -1
      var bestD2 = 0.0
      var c = 0
      while (c < nc) {
        val cell = cells.getStruct(c, 2)
        val label = cell.getInt(0)
        val cv = cell.getArray(1)
        val d2 = VecDist.round6(VecDist.sliceD2(vd, cv, sub * w, w))
        if (c == 0 || java.lang.Double.compare(d2, bestD2) < 0) {
          bestLabel = label; bestD2 = d2
        }
        c += 1
      }
      out(sub) = new GenericInternalRow(Array[Any](sub, bestLabel, bestD2))
      sub += 1
    }
    if (nc == 0) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(out)
  }
}
