package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-vec")

  // restore a conf key to its pre-test state (set-back or unset), so a
  // session-level override isn't clobbered for later tests sharing the
  // session — restoring hard-coded defaults would erase it
  private def restoreConf(key: String, saved: Option[String]): Unit =
    saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  test("cosine_sim and dot_product on known vectors") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0, 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0, 0.0),
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f), 11.0 / (math.sqrt(5.0) * math.sqrt(25.0)), 11.0),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0, 0.0) // zero-norm guard
    ).toDF("a", "b", "expCos", "expDot")
    val rows = df.select(expr("cosine_sim(a, b)"), expr("dot_product(a, b)"),
      $"expCos", $"expDot").collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-12)
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-12)
    }
  }

  test("cosine_sim null propagates") {
    val df = spark.sql("SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS c")
    assert(df.collect()(0).isNullAt(0))
  }

  test("expression participates in whole-stage codegen") {
    // must be a parquet-backed plan: LocalTableScan of literals skips
    // whole-stage codegen regardless of the expression
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("cosine_sim(embedding, embedding)").as("c"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"not codegen'd:\n${df.queryExecution.executedPlan}")
    // self-cosine of any non-zero vector is exactly 1.0
    val total = df.agg(sum("c")).collect()(0).getDouble(0)
    assert(total == df.count().toDouble)
  }

  test("codegen and interpreted eval agree bit-for-bit on randomized and edge-case vectors") {
    // the expressions carry TWO implementations of the same semantics:
    // the Java emitted by doGenCode (whole-stage hot path) and the Scala
    // nullSafeEval Spark silently falls back to when codegen is off or
    // bails out. Any drift between them — the NULL-on-mismatch branch,
    // null-element handling, accumulation order — would make results
    // depend on which path the planner happened to pick. Randomized
    // vectors plus every edge case (dimension mismatch, null elements,
    // zero norms) must agree to the last bit across both paths.
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def vec(n: Int): Seq[Option[Float]] =
      Seq.fill(n)(Some((rnd.nextFloat() - 0.5f) * 4f))
    val rows: Seq[(Int, Seq[Option[Float]], Seq[Option[Float]])] =
      (1 to 200).map { id =>
        val n = 1 + rnd.nextInt(8)
        val a = vec(n)
        val b = rnd.nextInt(10) match {
          case 0 => vec(n + 1)                           // dim mismatch → NULL
          case 1 => Seq.fill(n)(Some(0f))                // zero norm → cos 0.0
          case 2 => vec(n).updated(rnd.nextInt(n), None) // null elem → NULL
          case _ => vec(n)
        }
        (id, a, b)
      } :+ ((201, Seq(Some(0f)), Seq(Some(0f))))         // both zero → cos 0.0
    val tmp = java.nio.file.Files.createTempDirectory("graft-vec-prop").toString + "/data"
    rows.toDF("id", "a", "b").write.parquet(tmp)

    // bit-level comparison: None for SQL NULL, else the raw IEEE bits
    def run(interpreted: Boolean): Seq[(Int, Option[Long], Option[Long])] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", "cosine_sim(a, b) AS c", "dot_product(a, b) AS d")
        .collect()
        .map { r =>
          def bits(i: Int) = if (r.isNullAt(i)) None
            else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
          (r.getInt(0), bits(1), bits(2))
        }.toSeq.sortBy(_._1)
      finally if (interpreted) {
        restoreConf("spark.sql.codegen.wholeStage", savedWs)
        restoreConf("spark.sql.codegen.factoryMode", savedFm)
      }
    }
    val gen = run(interpreted = false)
    val int = run(interpreted = true)
    assert(gen == int, "codegen and interpreted expression paths diverged")
    // sanity on the edge-case coverage itself: the batch really exercised
    // all three NULL/zero branches, not just the happy path
    assert(gen.exists(_._2.isEmpty), "no NULL case was generated")
    assert(gen.exists(r => r._2.contains(java.lang.Double.doubleToLongBits(0.0))),
      "no zero-norm case was generated")

    // branch-free path (containsNull = false schema, no per-element null
    // checks emitted): both modes must still agree
    val dense = (1 to 50).map { id =>
      (id, Seq.fill(6)((rnd.nextFloat() - 0.5f) * 4f),
           Seq.fill(6)((rnd.nextFloat() - 0.5f) * 4f))
    }
    def runDense(interpreted: Boolean): Seq[(Int, Long)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try dense.toDF("id", "a", "b")
        .selectExpr("id", "cosine_sim(a, b) AS c").collect()
        .map(r => (r.getInt(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
        .toSeq.sortBy(_._1)
      finally if (interpreted) {
        restoreConf("spark.sql.codegen.wholeStage", savedWs)
        restoreConf("spark.sql.codegen.factoryMode", savedFm)
      }
    }
    assert(runDense(interpreted = false) == runDense(interpreted = true),
      "branch-free (non-nullable-element) paths diverged")
  }

  test("multimodal PNG decode entry is deterministic and batch-shaped") {
    val build = ext.Multimodal.defs("mm_png_decode").build
    def run() = build(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._1)
    val d1 = run(); val d2 = run()
    assert(d1.toSeq == d2.toSeq)
    assert(d1.forall { case (_, w, h, _) => w >= 4 && w <= 16 && h >= 3 && h <= 9 })
  }
}
