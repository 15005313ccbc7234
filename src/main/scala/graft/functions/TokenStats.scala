package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token-array statistics: `token_stats(toks, stops)` returns
  *
  * {{{
  * struct(n_tokens    INT,     -- size(toks)
  *        n_distinct  INT,     -- size(array_distinct(toks))
  *        sum_len     BIGINT,  -- Σ length(t)  (chars, not bytes)
  *        top_cnt     INT,     -- max token frequency; NULL when empty
  *        n_2grams    INT,     -- max(n_tokens - 1, 0)
  *        n_dup2      INT,     -- n_2grams - |distinct word-2-grams|
  *        n_stop      INT)     -- |{t : t ∈ stops}|
  * }}}
  *
  * These are exactly the signals the quality/repetition operator family
  * (txt_token_stats / txt_quality_score / txt_repetition /
  * txt_gopher_gate) previously derived through higher-order-function
  * lambda chains — `array_max(transform(array_distinct(toks), w ->
  * size(filter(toks, t -> t = w))))` and friends. Those lambdas are
  * CodegenFallback with no subexpression elimination, allocate an
  * intermediate array per step, and the top-token search is
  * O(types·tokens) per row; worse, a predicate pushed through their
  * projection inlines the tokenizer alias into every lambda body and
  * re-splits the text PER ELEMENT — the O(tokens²) trap the composed
  * corpus pipeline needed a materialization barrier against (PLANS
  * round 18 §8). This expression computes all seven signals in ONE
  * O(tokens) pass over the array inside whole-stage codegen (the
  * generated code calls the static [[TokenStats.compute]] helper — the
  * [[NfdNormalize]] pattern), so the signals cost one hash-map pass
  * per row however many of them a query reads, and a pushed-down
  * predicate re-evaluates an O(tokens) expression, never an
  * O(tokens²) one.
  *
  * 2-gram identity matches the lambda/oracle definition byte-for-byte:
  * `concat_ws(' ', toks[i], toks[i+1])` — the pair is joined with a
  * space before dedup (whitespace tokenizers can't produce tokens
  * containing spaces, so the join is injective on real input, and on
  * adversarial input the semantics still EQUAL the previous lambda's).
  *
  * `stops` must be a foldable array<string> (the stopword vocabulary is
  * a query constant); it is evaluated once at plan time and shipped to
  * the generated code as a reference object, never re-built per row.
  *
  * Null contract (the VectorBinaryExpression convention): a NULL tokens
  * array, or any NULL element inside it, yields a NULL struct — corrupt
  * input surfaces as missing stats, not plausible wrong ones. A
  * whitespace tokenizer (`split`) never emits NULL elements, so the
  * registered queries never take that branch.
  *
  * Reference basis: the reference has no text-statistics surface
  * (SURVEY §2.6); this implements the extended LLM-pipeline operator
  * family (builder brief) — signal definitions follow Rae et al. 2021
  * (Gopher) §A1.1.
  */
case class TokenStats(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "token_stats"
  override def nullable: Boolean = true

  override def dataType: DataType = TokenStats.structType

  override def checkInputDataTypes(): TypeCheckResult = {
    def isStrArray(dt: DataType) = dt match {
      case ArrayType(_: StringType, _) => true
      case ArrayType(NullType, _) => true // the empty `array()` literal
      case _ => false
    }
    if (!isStrArray(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${left.dataType.sql}")
    else if (!isStrArray(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> stopwords, got ${right.dataType.sql}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable (constant) stopword array")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** The stop set, evaluated ONCE from the foldable child — shared by
    * the interpreted path and (as a codegen reference object) the
    * generated code. */
  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    val arr = right.eval(null)
    if (arr != null) {
      val a = arr.asInstanceOf[ArrayData]
      var i = 0
      while (i < a.numElements()) {
        if (!a.isNullAt(i)) set.add(a.getUTF8String(i).clone())
        i += 1
      }
    }
    set
  }

  // a NULL stops literal nulls the whole expression on both paths (the
  // BinaryExpression null contract); the interesting NULL branch — a
  // NULL ELEMENT inside toks — is compute() returning null below
  override def nullSafeEval(arr: Any, stopsIgnored: Any): Any =
    TokenStats.compute(arr.asInstanceOf[ArrayData], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet,
      classOf[java.util.HashSet[UTF8String]].getName)
    nullSafeCodeGen(ctx, ev, (arr, _) => s"""
      ${ev.value} = graft.functions.TokenStats$$.MODULE$$.compute($arr, $setRef);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TokenStats {

  val structType: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("top_cnt", IntegerType, nullable = true), // NULL when empty
    StructField("n_2grams", IntegerType, nullable = false),
    StructField("n_dup2", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))

  private val Space = UTF8String.fromString(" ")

  /** The one-pass fold; shared by interpreted eval and generated code.
    * Returns NULL (the whole struct) on any NULL token element. */
  def compute(arr: ArrayData, stops: java.util.HashSet[UTF8String]): InternalRow = {
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer](
      math.max(16, n * 2))
    val grams: java.util.HashSet[UTF8String] =
      if (n >= 2) new java.util.HashSet[UTF8String](n * 2) else null
    var sumLen = 0L
    var nStop = 0
    var top = 0
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val t = arr.getUTF8String(i)
      sumLen += t.numChars()
      if (stops.contains(t)) nStop += 1
      val c: Int = {
        val old = counts.get(t)
        val next = if (old == null) 1 else old.intValue() + 1
        counts.put(t, Integer.valueOf(next))
        next
      }
      if (c > top) top = c
      if (prev != null) grams.add(UTF8String.concat(prev, Space, t))
      prev = t
      i += 1
    }
    val n2 = math.max(n - 1, 0)
    val nDup2 = if (n >= 2) n2 - grams.size() else 0
    new GenericInternalRow(Array[Any](
      n, counts.size(), sumLen,
      if (n == 0) null else Integer.valueOf(top),
      n2, nDup2, nStop))
  }
}
