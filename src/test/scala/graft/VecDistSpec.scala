package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the one-pass `vec_nearest` / `pq_encode` expressions
  * that replaced the Embeddings/Pq crossJoin-then-window
  * nearest-centroid shapes (r21):
  *
  *  1. BIT-FOR-BIT EQUIVALENCE with the crossJoin+window formulations
  *     over the real embeddings table — same rows, same rounded-6
  *     distances, same (d2, label) tie-breaks at several k — so every
  *     IVF/PQ oracle is provably untouched;
  *  2. codegen ≡ interpreted;
  *  3. whole-stage codegen participation.
  *
  * Tie-breaks are exercised for real: the quantized corpus produces
  * duplicate d2 values (asserted below), so the ascending-label
  * insertion argument is load-bearing, not vacuous.
  */
class VecDistSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-vecdist")

  private val qvE = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))"
  private val vdE = s"transform($qvE, q -> CAST(q AS DOUBLE) / 10000.0)"

  private def embeddings: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def cents: DataFrame = graft.ext.Embeddings.centroids(embeddings)

  test("vec_nearest equals the crossJoin+window assignTop at k = 1, 2, 4") {
    import spark.implicits._
    for (k <- Seq(1, 2, 4)) {
      val w = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"c_label".asc)
      val old = embeddings
        .select($"vec_id", $"label", expr(vdE).as("vd"))
        .crossJoin(broadcast(cents.select($"label".as("c_label"), $"cv")))
        .select($"vec_id", $"label", $"c_label",
          round(expr("aggregate(zip_with(vd, cv, (a, b) -> (a - b) * (a - b)), 0.0d, (acc, x) -> acc + x)"), 6).as("d2"))
        .withColumn("cell_rank", row_number().over(w))
        .filter($"cell_rank" <= k)
        .select($"vec_id", $"c_label".as("assigned"), $"d2", $"cell_rank")
      val neu = graft.ext.Embeddings.assignTop(embeddings, cents, k)
        .select($"vec_id", $"assigned", $"d2", $"cell_rank")
      val mism = old.withColumnRenamed("assigned", "o_a").withColumnRenamed("d2", "o_d")
        .join(neu.withColumnRenamed("assigned", "n_a").withColumnRenamed("d2", "n_d"),
          Seq("vec_id", "cell_rank"), "full_outer")
        .filter(!(col("o_a") <=> col("n_a")) || !(col("o_d") <=> col("n_d")))
      assert(mism.count() == 0, s"vec_nearest diverged from assignTop window at k=$k")
    }
  }

  test("pq_encode equals the subD2+window codes at (m=4, w=16)") {
    import spark.implicits._
    val e = embeddings
    val cs = cents
    val win = Window.partitionBy($"vec_id", $"sub").orderBy($"d2".asc, $"c_label".asc)
    val old = graft.ext.Pq.subD2(e, cs, m = 4, w = 16)
      .withColumn("rk", row_number().over(win)).filter($"rk" === 1)
      .select($"vec_id", $"sub", $"c_label".as("code"), $"d2")
    val neu = graft.ext.Pq.codes(e, cs, m = 4, w = 16)
    val mism = old.withColumnRenamed("code", "o_c").withColumnRenamed("d2", "o_d")
      .join(neu.withColumnRenamed("code", "n_c").withColumnRenamed("d2", "n_d"),
        Seq("vec_id", "sub"), "full_outer")
      .filter(!(col("o_c") <=> col("n_c")) || !(col("o_d") <=> col("n_d")))
    assert(mism.count() == 0, "pq_encode diverged from the subD2 window codes")
  }

  test("tie-break: equal distances pick the lowest label (constructed tie)") {
    // two identical codebook entries (labels 7 and 3) — every distance
    // ties, so both expressions must pick label 3
    val r = spark.sql("""
      SELECT vec_nearest(array(1.0d, 2.0d), cells, 2) AS nn,
             pq_encode(array(1.0d, 2.0d), cells, 2, 1) AS pc
      FROM (SELECT sort_array(collect_list(named_struct(
                     'c_label', l, 'cv', array(0.5d, 0.5d)))) AS cells
            FROM (SELECT explode(array(7, 3)) AS l))
    """).collect()(0)
    val nn = r.getSeq[org.apache.spark.sql.Row](0)
    assert(nn.map(x => (x.getInt(0), x.getInt(2))) == Seq((3, 1), (7, 2)),
      s"vec_nearest tie must rank lowest label first: $nn")
    val pc = r.getSeq[org.apache.spark.sql.Row](1)
    assert(pc.map(_.getInt(1)) == Seq(3, 3),
      s"pq_encode tie must pick the lowest code: $pc")
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-vecdist").toString + "/data"
    embeddings.write.parquet(tmp)
    val cellsArr = broadcast(cents.agg(
      sort_array(collect_list(struct(col("label").as("c_label"), col("cv")))).as("cells")))

    def run(interpreted: Boolean): Seq[(Long, String, String)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .crossJoin(cellsArr)
        .selectExpr("vec_id",
          s"CAST(vec_nearest($vdE, cells, 2) AS STRING) AS nn",
          s"CAST(pq_encode($vdE, cells, 4, 16) AS STRING) AS pc")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq.sortBy(_._1)
      finally if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", savedWs.getOrElse("true"))
        savedFm match {
          case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
          case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
        }
      }
    }
    val gen = run(interpreted = false)
    val int = run(interpreted = true)
    assert(gen == int, "codegen and interpreted vec_nearest/pq_encode diverged")
  }

  test("vec_nearest participates in whole-stage codegen") {
    val cellsArr = broadcast(cents.agg(
      sort_array(collect_list(struct(col("label").as("c_label"), col("cv")))).as("cells")))
    val df = embeddings.crossJoin(cellsArr)
      .selectExpr(s"size(vec_nearest($vdE, cells, 1)) AS n")
    // the 1-row panel join makes AQE wrap the plan: execute first, then
    // read the FINAL plan (pre-AQE executedPlan has no codegen nodes yet)
    assert(df.agg(sum("n")).collect()(0).getLong(0) > 0)
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("*(") && planStr.contains("vec_nearest"),
      s"vec_nearest not inside whole-stage codegen:\n$planStr")
  }
}
