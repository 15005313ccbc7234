package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass content-defined-chunking boundary scan: `cdc_cuts(norm)`
  * returns the array<int> of cut positions i ∈ [W, numChars−1]
  * (1-based character positions, W = 16) where the Rabin-Karp hash of
  * the W-character window ending at i satisfies `hash % 64 == 0` —
  * exactly the positions [[graft.ext.Cdc]]'s interpreted twin
  *
  * {{{
  *   filter(sequence(16, length(norm) - 1), i ->
  *     aggregate(transform(split(substr(norm, i - 15, 16), ''), c -> ascii(c)),
  *       0L, (acc, x) -> (acc * 31 + x) % 2147483647) % 64 = 0)
  * }}}
  *
  * produces, with two structural differences in COST only:
  *
  *  1. the window hash is maintained as a TRUE ROLLING recurrence —
  *     `h' = (h·31 + c_in − c_out·31¹⁶) mod (2³¹−1)` with the 31¹⁶
  *     factor precomputed — O(1) per character instead of the twin's
  *     O(W) re-fold per position (and the twin's re-fold rides
  *     CodegenFallback HOF lambdas that allocate a substring, a split
  *     array and a transform array per POSITION);
  *  2. the whole scan runs inside whole-stage codegen (the generated
  *     code calls the static [[CdcCuts.compute]] helper — the
  *     [[TokenStats]] pattern), zero allocation per character.
  *
  * Bit-exactness argument (CdcCutsSpec pins it empirically, codegen AND
  * interpreted, on the corpus plus adversarial Unicode): Spark's
  * `ascii` returns `String.codePointAt(0)` (verified against the Spark
  * 4.1.2 bytecode — the code point, NOT the first byte), so every
  * per-character value is ≥ 0, every fold step stays in [0, 2³¹−1),
  * and the fold value IS the canonical residue of the window
  * polynomial mod 2³¹−1 — which is exactly what the normalized rolling
  * recurrence maintains. `split(norm, '')` segments by code point
  * (Java regex never splits a surrogate pair) and `length`/`substr`
  * count code points, so the byte-level UTF-8 walk below (one code
  * point per non-continuation byte) visits the same character sequence
  * with the same values.
  *
  * Short-input contract: fewer than W+1 characters yield an EMPTY
  * array (never null) — the twin's `length >= 17` CASE arm — because a
  * cut at position numChars is always excluded (`sequence` stops at
  * numChars−1).
  *
  * Null contract: NULL input → NULL output (UnaryExpression default);
  * non-null input never yields a NULL array.
  */
case class CdcCuts(child: Expression) extends UnaryExpression {

  override def prettyName: String = "cdc_cuts"

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${dt.sql}")
    }

  override def nullSafeEval(s: Any): Any =
    CdcCuts.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CdcCuts$$.MODULE$$.compute($c);
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcCuts {

  /** Window length in characters (the Cdc scheme constant). */
  val W = 16

  /** The Rabin-Karp modulus 2³¹−1 (the corpus rolling-hash prime). */
  val P = 2147483647L

  /** 31^W mod P — the factor that retires the outgoing character. */
  val PowW: Long = {
    var r = 1L; var k = 0
    while (k < W) { r = (r * 31) % P; k += 1 }
    r
  }

  /** The rolling scan; shared by interpreted eval and generated code.
    * One pass over the UTF-8 bytes: each non-continuation byte starts a
    * character; its value is the code point (= what `ascii` returns on
    * the split-out single-character string). */
  def compute(u: UTF8String): ArrayData = {
    val nb = u.numBytes
    val ring = new Array[Int](W) // last W character values, circular
    var h = 0L                   // hash of the window ending at the current char
    var idx = 0                  // 1-based character index
    var buf = new Array[Int](8)
    var n = 0
    var i = 0
    while (i < nb) {
      val b = u.getByte(i)
      // decode one UTF-8 sequence → code point (input is valid UTF-8:
      // norm comes out of regexp_replace/lower/trim or a parquet read)
      var step = 1
      var c = 0
      if ((b & 0x80) == 0) {
        c = b
      } else if ((b & 0xE0) == 0xC0) {
        c = ((b & 0x1F) << 6) | (u.getByte(i + 1) & 0x3F)
        step = 2
      } else if ((b & 0xF0) == 0xE0) {
        c = ((b & 0x0F) << 12) | ((u.getByte(i + 1) & 0x3F) << 6) |
          (u.getByte(i + 2) & 0x3F)
        step = 3
      } else {
        c = ((b & 0x07) << 18) | ((u.getByte(i + 1) & 0x3F) << 12) |
          ((u.getByte(i + 2) & 0x3F) << 6) | (u.getByte(i + 3) & 0x3F)
        step = 4
      }
      val slot = idx & (W - 1) // == (idx+1-1) mod W after the increment below
      idx += 1
      if (idx <= W) {
        h = (h * 31 + c) % P
      } else {
        // retire ring(slot) (the char W positions back), admit c
        var t = (h * 31 + c - ring(slot) * PowW) % P
        if (t < 0) t += P
        h = t
      }
      ring(slot) = c
      if (idx >= W && h % 64 == 0) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = idx
        n += 1
      }
      i += step
    }
    // a cut at the final character is out of range (sequence ends at len−1)
    if (n > 0 && buf(n - 1) == idx) n -= 1
    UnsafeArrayData.fromPrimitiveArray(
      if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n))
  }
}
