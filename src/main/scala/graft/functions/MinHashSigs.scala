package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document MinHash signature block:
  * `minhash_sigs(toks)` returns
  *
  * {{{
  * struct(h0..h7 STRING,  -- min over distinct word-3-gram shingles of
  *                        --   md5(k || '|' || shingle),   k = 0..7
  *        n  INT)         -- number of DISTINCT shingles
  * }}}
  *
  * or NULL when the document has fewer than 3 tokens (= no shingles —
  * the rows the previous explode+groupBy formulation simply never
  * produced; callers filter the NULLs so the row set is identical).
  *
  * This is the r21 codegen replacement for [[graft.ext.Dedup]]'s
  * signature aggregation
  *
  * {{{
  *   shingles.groupBy(doc_id).agg(
  *     (0 until 8).map(k => min(md5(concat_ws("|", lit(k), sh)))),
  *     count(*))
  * }}}
  *
  * whose costs were measured (r21 probe, since retired; sf0.1): the
  * CodegenFallback `transform`+`array_distinct` shingle lambda, the
  * 1→|shingles| row explode, EIGHT separate `md5` expression
  * evaluations per exploded row (each allocating a fresh MessageDigest inside commons-codec),
  * and a hash aggregate — 1.65 s of the 3.13 s pair pipeline. Here:
  * one pass over the token array per row, a reused thread-local
  * MessageDigest, no explode, no aggregate, whole-stage codegen (the
  * static-helper pattern of [[TokenStats]]).
  *
  * Bit-exactness (MinHashSigsSpec pins it, codegen AND interpreted):
  * shingle k-grams are built with `concat_ws(' ', …)`'s exact
  * semantics (`UTF8String.concatWs` — null tokens are SKIPPED, not
  * propagated); md5 is the same MD5-over-UTF-8-bytes-to-lowercase-hex
  * Spark's `md5` computes; `min` over 32-char ASCII hex strings is
  * byte-wise lexicographic on both sides. The seed prefix `k || '|'`
  * is digested as the two leading bytes, exactly the string
  * `concat_ws` built.
  *
  * Null contract: NULL token array → NULL; a document with < 3 tokens
  * → NULL (see above). NULL ELEMENTS inside the array are skipped by
  * concat_ws exactly as before — they cannot occur from the whitespace
  * tokenizer, but the semantics are preserved regardless.
  */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  override def prettyName: String = "minhash_sigs"
  override def nullable: Boolean = true

  override def dataType: DataType = MinHashSigs.structType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(NullType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${dt.sql}")
    }

  override def nullSafeEval(arr: Any): Any =
    MinHashSigs.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"""
      ${ev.value} = graft.functions.MinHashSigs$$.MODULE$$.compute($arr);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigs {

  /** Signature count (seeds 0..K−1) — the Dedup scheme constant. */
  val K = 8

  val structType: StructType = StructType(
    (0 until K).map(k => StructField(s"h$k", StringType, nullable = false)) :+
      StructField("n", IntegerType, nullable = false))

  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val Hex = "0123456789abcdef".getBytes("US-ASCII")
  private val Space = UTF8String.fromString(" ")

  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 32) {
      if (a(i) != b(i)) return (a(i) & 0xFF) < (b(i) & 0xFF)
      i += 1
    }
    false
  }

  /** The one-pass scan; shared by interpreted eval and generated code.
    * Returns NULL when fewer than 3 tokens (no shingles). */
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    if (n < 3) return null
    val md = tlMd.get()
    val seen = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    val mins = Array.ofDim[Byte](K, 32)
    val hex = new Array[Byte](32)
    var cnt = 0
    var i = 0
    while (i <= n - 3) {
      // concat_ws(' ', toks[i], toks[i+1], toks[i+2]) — nulls skipped
      val sh = UTF8String.concatWs(Space,
        if (arr.isNullAt(i)) null else arr.getUTF8String(i),
        if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1),
        if (arr.isNullAt(i + 2)) null else arr.getUTF8String(i + 2))
      if (seen.add(sh)) {
        cnt += 1
        val shBytes = sh.getBytes
        var k = 0
        while (k < K) {
          md.reset()
          md.update(('0' + k).toByte)
          md.update('|'.toByte)
          md.update(shBytes)
          val d = md.digest()
          var j = 0
          while (j < 16) {
            hex(2 * j) = Hex((d(j) >> 4) & 0xF)
            hex(2 * j + 1) = Hex(d(j) & 0xF)
            j += 1
          }
          if (cnt == 1 || lessThan(hex, mins(k)))
            System.arraycopy(hex, 0, mins(k), 0, 32)
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](K + 1)
    var k = 0
    while (k < K) {
      out(k) = UTF8String.fromBytes(java.util.Arrays.copyOf(mins(k), 32))
      k += 1
    }
    out(K) = cnt
    new GenericInternalRow(out)
  }
}
