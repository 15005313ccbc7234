package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFD (canonical decomposition) of a string column.
  *
  * matrix-js-sdk's `removeHiddenChars` normalizes to NFD BEFORE
  * stripping (utils.ts: `str.normalize("NFD").replace(
  * removeHiddenCharsRegex, "")`), so composed "é" (U+00E9) and
  * decomposed "e"+U+0301 strip to the same "e" and collide in the room
  * display-name cache. Spark ships no normalizer function and a Scala
  * UDF would break whole-stage codegen on the member-projection hot
  * path (T4, db.utils.ts:89-97), so this is a native expression whose
  * generated code calls the JDK normalizer through a static helper.
  *
  * The helper short-circuits pure-ASCII input — `numBytes == numChars`
  * holds iff every byte is a single-byte code point — because ASCII is
  * closed under NFD; the overwhelmingly common case pays one integer
  * compare and zero allocation. Non-ASCII input that is already NFD
  * (e.g. emoji, CJK) is returned as-is after an `isNormalized` scan.
  */
case class NfdNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "nfd_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${dt.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    NfdNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfdNormalize$$.MODULE$$.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfdNormalize {
  /** NFD with the ASCII fast path; shared by eval and generated code. */
  def normalize(s: UTF8String): UTF8String =
    if (s.numBytes == s.numChars) s // pure ASCII: NFD-invariant
    else {
      val str = s.toString
      if (Normalizer.isNormalized(str, Normalizer.Form.NFD)) s
      else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFD))
    }
}
