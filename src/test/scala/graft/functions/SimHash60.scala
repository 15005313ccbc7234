package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** `simhash60(h)` — aggregate 60-bit token hashes into a SimHash
  * (Charikar/Manku WWW'07): per bit, count +1 when the token hash has
  * the bit set, −1 otherwise; the result sets each bit whose counter is
  * positive.
  *
  * This is the aggregation-shaped formulation of what the first
  * implementation did with a 60× row explode (token → 60 (doc, bit)
  * rows → two hash aggregates): here ONE ObjectHashAggregate carries a
  * fixed 60-counter buffer per group, so the shuffle moves one 240-byte
  * partial buffer per (doc × partition) instead of 60 exploded rows per
  * token. (A 60-agg-COLUMN single pass was also tried and is ~25×
  * slower — Catalyst inlines the hash projection into every aggregate
  * expression; this form evaluates `h` once per row.)
  *
  * Deterministic: integer counters, order-independent merge. Ties
  * (counter == 0) leave the bit clear, matching the exhaustive SQL
  * oracle's `CASE WHEN v > 0` exactly.
  *
  * No query calls it since `simhash60_doc` replaced the explode+agg
  * pipeline; it stays as that expression's reference twin.
  */
case class SimHash60(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] with UnaryLike[Expression] {

  private val Bits = 60

  override def createAggregationBuffer(): Array[Int] = new Array[Int](Bits)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < Bits) {
        buf(b) += ((((h >>> b) & 1L).toInt) << 1) - 1 // bit set → +1, clear → −1
        b += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < Bits) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var r = 0L
    var b = 0
    while (b < Bits) { if (buf(b) > 0) r |= (1L << b); b += 1 }
    r
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(Bits * 4)
    var i = 0
    while (i < Bits) { bb.putInt(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(Bits)(bb.getInt())
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash60"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT input, got ${child.dataType.sql}")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
  override def withNewMutableAggBufferOffset(newOffset: Int): SimHash60 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHash60 =
    copy(inputAggBufferOffset = newOffset)
}

object SimHash60 {
  /** Registers `simhash60` in a test session. */
  def registerTwin(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash60", args => SimHash60(args.head), "scala_udf")
}
