package graft.functions

import scala.reflect.ClassTag
import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The graft SQL function table: every custom expression's name, arity
  * and builder, declared once. [[GraftExtensions]] injects it into
  * sessions built with `spark.sql.extensions`; [[install]] adds what a
  * caller-supplied session lacks. A call with the wrong number of
  * arguments fails at analysis with Spark's own `WRONG_NUM_ARGS` error,
  * which names the function.
  */
object Functions {

  type Entry = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def fn[T <: Expression](name: String, arity: Int)(build: Seq[Expression] => T)(
      implicit ct: ClassTag[T]): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name),
      (args: Seq[Expression]) => {
        if (args.length != arity)
          throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))
        build(args)
      })

  val table: Seq[Entry] = Seq(
    fn("cosine_sim", 2)(a => CosineSimilarity(a(0), a(1))),
    fn("dot_product", 2)(a => DotProduct(a(0), a(1))),
    fn("round_hu", 2)(a => RoundHalfUp(a(0), a(1))),
    fn("nfd_normalize", 1)(a => NfdNormalize(a(0))),
    fn("token_stats", 2)(a => TokenStats(a(0), a(1))),
    fn("token_counts", 1)(a => TokenCounts(a(0))),
    fn("shingles_n", 2)(a => ShinglesN(a(0), a(1))),
    fn("shingle_wins", 2)(a => ShingleWins(a(0), a(1))),
    fn("bigrams", 1)(a => BigramWins(a(0))),
    fn("minhash_sigs", 1)(a => MinHashSigs(a(0))),
    fn("simhash60_doc", 1)(a => SimHashDoc(a(0))),
    fn("cdc_cuts", 1)(a => CdcCuts(a(0))),
    fn("vec_nearest", 3)(a => VecNearest(a(0), a(1), a(2))),
    fn("pq_encode", 4)(a => PqEncode(a(0), a(1), a(2), a(3))))

  /** Registers each table entry the session does not already resolve;
    * idempotent, and never replaces a registration it finds. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}
