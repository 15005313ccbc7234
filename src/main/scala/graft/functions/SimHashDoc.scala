package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document SimHash: `simhash60_doc(toks)` returns the
  * 60-bit Charikar/Manku sign-aggregated hash over the document's
  * DISTINCT tokens, or NULL for an empty token array (which the
  * previous explode produced no rows for — callers filter the NULLs so
  * the row set is identical).
  *
  * r21 codegen replacement for `graft.ext.Dedup.simhashBands`'s
  * per-token pipeline
  *
  * {{{
  *   explode(array_distinct(toks))                       -- 1→|types| rows
  *     → CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)
  *     → groupBy(doc_id).agg(simhash60(h))               -- custom agg
  * }}}
  *
  * One pass here: distinct tokens via one hash set, md5 through a
  * reused thread-local MessageDigest (Spark's `md5` allocates a fresh
  * digest per row inside commons-codec), the 60-bit value taken
  * directly from the digest's first 8 bytes — `substr(md5(w), 1, 15)`
  * is the high 60 bits of those bytes, so `(first8 >>> 4)` equals the
  * `conv(…, 16, 10)` parse exactly (SimHashDocSpec pins the
  * equivalence, codegen AND interpreted). Sign rule and tie handling
  * (counter > 0 sets the bit, == 0 leaves it clear) match
  * the `simhash60` aggregate (`SimHash60`, now the test-scope
  * reference twin) bit for bit.
  *
  * Null contract: NULL array → NULL; empty array → NULL (see above); a
  * NULL ELEMENT contributes `md5(NULL)` = NULL = no vote, exactly as
  * the explode+agg path skipped it (`SimHash60.update` ignores null
  * inputs) — distinctness of nulls matches `array_distinct` (one null
  * kept, and the one kept null still votes nothing).
  */
case class SimHashDoc(child: Expression) extends UnaryExpression {

  override def prettyName: String = "simhash60_doc"
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(NullType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${dt.sql}")
    }

  override def nullSafeEval(arr: Any): Any =
    SimHashDoc.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ev.value is a primitive long — box through a temp so the NULL
    // (empty-array) branch compiles
    val tmp = ctx.freshName("simhashBoxed")
    nullSafeCodeGen(ctx, ev, arr => s"""
      java.lang.Long $tmp = graft.functions.SimHashDoc$$.MODULE$$.compute($arr);
      ${ev.isNull} = $tmp == null;
      ${ev.value} = ${ev.isNull} ? -1L : $tmp.longValue();
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashDoc {

  private val Bits = 60

  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** The one-pass fold; shared by interpreted eval and generated code.
    * Returns a boxed Long, or null for an empty array (no token rows). */
  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val md = tlMd.get()
    val seen = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    val counters = new Array[Int](Bits)
    var sawNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        sawNull = true // array_distinct keeps one null; md5(null) votes nothing
      } else {
        val t = arr.getUTF8String(i)
        if (seen.add(t)) {
          md.reset()
          md.update(t.getBytes)
          val d = md.digest()
          // h = high 60 bits of the first 8 digest bytes
          //   = CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)
          var first8 = 0L
          var j = 0
          while (j < 8) { first8 = (first8 << 8) | (d(j) & 0xFFL); j += 1 }
          val h = first8 >>> 4
          var b = 0
          while (b < Bits) {
            counters(b) += ((((h >>> b) & 1L).toInt) << 1) - 1
            b += 1
          }
        }
      }
      i += 1
    }
    val _ = sawNull
    var r = 0L
    var b = 0
    while (b < Bits) { if (counters(b) > 0) r |= (1L << b); b += 1 }
    java.lang.Long.valueOf(r)
  }
}
