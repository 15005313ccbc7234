package graft.ext

import java.nio.file.{Files, Path}
import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Store-root resolution must survive source paths Hadoop leaves
  * unescaped and a source file that vanishes between listing and stat:
  * both fall back to the full fingerprint scan instead of throwing. */
class StoreRootSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 2, appName = "graft-storeroot")

  private def corpus(dir: Path): String = {
    import spark.implicits._
    val d = dir.resolve("documents.parquet").toString
    (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .repartition(2).write.parquet(d)
    d
  }

  private def resolve(dir: String, table: (SparkSession, String) => DataFrame): String =
    StoreRoot.resolve(spark, dir, "GRAFT_STOREROOT_SPEC_DIR", "storeroot-spec",
      table, "doc_id", "text")

  test("a source dir containing a space resolves") {
    val dir = corpus(Files.createTempDirectory("graft store root"))
    val root = resolve(dir, (s, d) => s.read.parquet(d))
    assert(root.contains("-n40-m40-"), root)
  }

  test("a source file that vanishes after listing falls back to the full scan") {
    val dir = corpus(Files.createTempDirectory("graft-storeroot"))
    val saved = spark.conf.getOption("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      val root = resolve(dir, { (s, d) =>
        val df = s.read.parquet(d)
        Files.delete(java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(df.inputFiles.head).toUri))
        df
      })
      assert(root.matches(".*-n\\d+-m\\d+-x[0-9a-f]+$") && !root.contains("-n40-"), root)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreMissingFiles", v)
      case None => spark.conf.unset("spark.sql.files.ignoreMissingFiles")
    }
  }
}
