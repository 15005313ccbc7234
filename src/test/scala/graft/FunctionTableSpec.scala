package graft

import graft.functions.Functions
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the one graft function table: every entry resolves in
  * an extension session and after `install` into a session that lacks
  * it, `install` is idempotent, a wrong argument count fails at
  * analysis naming the function, no other source file registers a
  * function, only `Sessions.scala` builds a SparkSession, only
  * `StoreRoot.scala` marks a store built, and no main source adds a
  * second ingest path beside the sync stream.
  */
class FunctionTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 2, appName = "graft-functions")

  private val arity = Map(
    "cosine_sim" -> 2, "dot_product" -> 2, "round_hu" -> 2,
    "nfd_normalize" -> 1, "token_stats" -> 2, "token_counts" -> 1,
    "shingles_n" -> 2, "shingle_wins" -> 2, "bigrams" -> 1,
    "minhash_sigs" -> 1, "simhash60_doc" -> 1, "cdc_cuts" -> 1,
    "vec_nearest" -> 3, "pq_encode" -> 4)

  private def resolves(s: SparkSession, name: String): Boolean = {
    val reg = s.sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    reg.functionExists(id) &&
      reg.lookupFunction(id, Seq.fill(arity(name))(Literal(null))).prettyName == name
  }

  test("the table declares each name once, and each resolves in a Sessions.local session") {
    val names = Functions.table.map(_._1.funcName)
    assert(names.distinct == names, names)
    assert(names.toSet == arity.keySet)
    names.foreach(n => assert(resolves(spark, n), n))
  }

  test("install restores dropped entries into a newSession registry, idempotently") {
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    Functions.table.foreach { case (id, _, _) => assert(reg.dropFunction(id), id) }
    Functions.table.foreach { case (id, _, _) => assert(!reg.functionExists(id), id) }
    Functions.install(s2)
    arity.keys.foreach(n => assert(resolves(s2, n), n))
    val builders = Functions.table.map { case (id, _, _) => reg.lookupFunctionBuilder(id).get }
    Functions.install(s2)
    Functions.table.zip(builders).foreach { case ((id, _, _), b) =>
      assert(reg.lookupFunctionBuilder(id).get eq b, s"second install replaced $id")
    }
    arity.keys.foreach(n => assert(resolves(spark, n), s"$n dropped from the parent session"))
  }

  test("a wrong argument count fails at analysis, naming the function") {
    for ((name, n) <- arity; k <- 0 to 5 if k != n) {
      val args = Seq.fill(k)("NULL").mkString(", ")
      val e = intercept[AnalysisException](spark.sql(s"SELECT $name($args)"))
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$name/$k: ${e.getMessage}")
      assert(e.getMessage.contains(s"`$name`"), s"$name/$k: ${e.getMessage}")
    }
  }

  /** Each (tokens, allowed files) pair: no other main source may
    * contain any of the tokens (whitespace ignored, so a chain split
    * across lines still matches) — one definition site per concept. */
  private val singleSites = Seq(
    Seq("createOrReplaceTempFunction", "injectFunction", "registerFunction") ->
      Set("Functions.scala", "GraftExtensions.scala"),
    Seq("SparkSession.builder") -> Set("Sessions.scala"),
    Seq("_DONE") -> Set("StoreRoot.scala"),
    Seq("foreachBatch", "MicroBatch.rehome") -> Set("Streaming.scala"),
    // the sync stream is the only ingest path: no per-key streaming
    // state beside the merge, no progress listener beside the query
    // handle, no SQL decrypt entry beside the pipeline's closure UDF
    Seq("flatMapGroupsWithState", "StreamingQueryListener", "udf.register") -> Set.empty[String])

  test("no main source outside the table registers a SQL function") {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), root)
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.nonEmpty)
    val sources = files.map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    val hits = for {
      (toks, allowed) <- singleSites
      (f, src) <- sources if !allowed(f.getFileName.toString)
      flat = src.filterNot(_.isWhitespace)
      tok <- toks if flat.contains(tok)
    } yield s"$f: $tok"
    assert(hits.isEmpty, hits.mkString("\n"))
    val registers = sources.collect {
      case (f, src) if f.toString.contains("/graft/functions/") && src.contains("def register") => f
    }
    assert(registers.isEmpty, registers.mkString("\n"))
  }
}
