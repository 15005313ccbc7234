package graft.ext

import java.nio.file.{Files, Path, Paths}
import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Store-root resolution must survive source paths Hadoop leaves
  * unescaped and a source file that vanishes between listing and stat:
  * both fall back to the full fingerprint scan instead of throwing. A
  * local rewrite that keeps a file's size and mtime, or one that
  * changes only a column outside the id, must not reuse a stale
  * fingerprint. A resolve sweeps the stores of source dirs that are
  * gone. `once` builds a root once per JVM and never leaves a failed
  * build marked done. */
class StoreRootSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 2, appName = "graft-storeroot")

  private def corpus(dir: Path): String = {
    import spark.implicits._
    val d = dir.resolve("documents.parquet").toString
    (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .repartition(2).write.parquet(d)
    d
  }

  private def resolve(dir: String, table: (SparkSession, String) => DataFrame,
      envKey: String = "GRAFT_STOREROOT_SPEC_DIR"): String =
    StoreRoot.resolve(spark, dir, envKey, "storeroot-spec", table, "doc_id")

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

  test("a same-size rewrite with its mtime restored still changes the fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.functions.upper
    val dir = Files.createTempDirectory("graft-storeroot-rewrite").resolve("documents.parquet")
    // uncompressed, equal-length values, nullable columns (as a parquet
    // read-back is): a content rewrite keeps the byte size
    (1L to 40L).map(i => (Option(i), f"doc $i%03d")).toDF("doc_id", "text")
      .repartition(2).write.option("compression", "none").parquet(dir.toString)
    val table = (s: SparkSession, d: String) => s.read.parquet(d)
    val before = resolve(dir.toString, table)
    assert(before.contains("-n40-m40-x"), before)
    // untouched files: another envKey (no memo) hits the manifest, which
    // is therefore not rewritten
    val manifest = java.nio.file.Paths.get(before.take(before.lastIndexOf("-n40-")) + ".manifest")
    val inode = Files.getAttribute(manifest, "unix:ino")
    assert(resolve(dir.toString, table, envKey = "GRAFT_STOREROOT_SPEC_DIR_2") == before)
    assert(Files.getAttribute(manifest, "unix:ino") == inode, "manifest rewritten on a hit")

    val victim = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      spark.read.parquet(dir.toString).inputFiles.sorted.head).toUri)
    val scratch = Files.createTempDirectory("graft-storeroot-new").resolve("p")
    spark.read.parquet(victim.toString).withColumn("text", upper($"text"))
      .coalesce(1).write.option("compression", "none").parquet(scratch.toString)
    val fresh = Files.list(scratch).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    assert(Files.size(fresh) == Files.size(victim), "fixture: the rewrite must keep the byte size")
    val mtime = Files.getLastModifiedTime(victim)
    Files.copy(fresh, victim, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Hadoop's local filesystem verifies the sidecar checksum on read
    Files.copy(fresh.resolveSibling(s".${fresh.getFileName}.crc"),
      victim.resolveSibling(s".${victim.getFileName}.crc"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(victim, mtime)
    assert(Files.getLastModifiedTime(victim) == mtime)

    // another envKey misses the per-JVM memo but reads the same manifest
    val after = resolve(dir.toString, table, envKey = "GRAFT_STOREROOT_SPEC_DIR_3")
    assert(after.contains("-n40-m40-x") && after != before,
      s"stale fingerprint reused after a same-size rewrite: $after")
  }

  test("a rewrite that permutes only a non-id column resolves to a new root") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-storeroot-labels").resolve("embeddings.parquet")
    def write(label: Long => Int): Unit =
      (1L to 40L).map(i => (i, Seq(i.toFloat, -i.toFloat), label(i)))
        .toDF("vec_id", "embedding", "label")
        .repartition(2).write.mode("overwrite").parquet(dir.toString)
    val table = (s: SparkSession, d: String) => s.read.parquet(d)
    def resolveVecs(envKey: String): String =
      StoreRoot.resolve(spark, dir.toString, envKey, "storeroot-spec", table, "vec_id")
    write(i => (i % 4).toInt)
    val before = resolveVecs("GRAFT_STOREROOT_SPEC_DIR_4")
    write(i => ((i + 1) % 4).toInt) // same ids and vectors, labels permuted
    val after = resolveVecs("GRAFT_STOREROOT_SPEC_DIR_5")
    assert(before.contains("-n40-m40-x") && after.contains("-n40-m40-x"), s"$before $after")
    assert(after != before, s"stale fingerprint reused after a label-only rewrite: $after")
  }

  test("a rewritten source retires the superseded root and its derived siblings") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-storeroot-retire").resolve("documents.parquet")
    def write(n: Long): Unit = (1L to n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.toString)
    val table = (s: SparkSession, d: String) => s.read.parquet(d)
    write(40L)
    val before = resolve(dir.toString, table, envKey = "GRAFT_STOREROOT_SPEC_DIR_6")
    val stale = Seq(before, s"$before-t4inc", s"$before-pq")
    stale.foreach(r => StoreRoot.once(r)(Files.createFile(Paths.get(r, "data"))))
    // a root of the same source dir that the manifest does not name
    val unnamed = Files.createDirectories(
      Paths.get(before.take(before.lastIndexOf("-n40-")) + "-n1-m1-x0"))
    write(41L)
    val after = resolve(dir.toString, table, envKey = "GRAFT_STOREROOT_SPEC_DIR_7")
    try {
      assert(after.contains("-n41-m41-x"), after)
      stale.foreach(r => assert(!Files.exists(Paths.get(r)), s"superseded root left behind: $r"))
      assert(Files.isDirectory(unnamed), s"a root the manifest did not name was deleted: $unnamed")
    } finally graft.etl.MergeWriter.deleteRecursively(unnamed)
  }

  test("a resolve sweeps the manifest and roots of a source dir that is gone") {
    val gone = Files.createTempDirectory("graft-storeroot-gone")
    val table = (s: SparkSession, d: String) => s.read.parquet(d)
    val first = resolve(corpus(gone), table, envKey = "GRAFT_STOREROOT_SPEC_DIR_8")
    val roots = Seq(first, s"$first-pq")
    roots.foreach(r => StoreRoot.once(r)(Files.createFile(Paths.get(r, "data"))))
    val manifest = Paths.get(first.take(first.lastIndexOf("-n40-")) + ".manifest")
    assert(Files.exists(manifest), manifest)
    graft.etl.MergeWriter.deleteRecursively(gone)
    val second = resolve(corpus(Files.createTempDirectory("graft-storeroot-live")), table,
      envKey = "GRAFT_STOREROOT_SPEC_DIR_8")
    assert(Files.exists(Paths.get(second.take(second.lastIndexOf("-n40-")) + ".manifest")))
    assert(!Files.exists(manifest), s"manifest of a deleted source dir left behind: $manifest")
    roots.foreach(r => assert(!Files.exists(Paths.get(r)), s"root of a deleted source dir left behind: $r"))
  }

  test("once: a second call in the same JVM does not run the build again") {
    val root = Files.createTempDirectory("graft-storeroot-once").resolve("store").toString
    var runs = 0
    StoreRoot.once(root) { runs += 1 }
    StoreRoot.once(root) { runs += 1 }
    assert(runs == 1)
    assert(Files.exists(java.nio.file.Paths.get(root, "_DONE")))
  }

  test("once: a build that throws leaves no _DONE; the next call wipes and rebuilds") {
    val root = Files.createTempDirectory("graft-storeroot-fail").resolve("store")
    val partial = root.resolve("partial")
    val e = intercept[IllegalStateException] {
      StoreRoot.once(root.toString) {
        Files.createFile(partial)
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(Files.exists(partial) && !Files.exists(root.resolve("_DONE")))
    var sawPartial = true
    StoreRoot.once(root.toString) { sawPartial = Files.exists(partial) }
    assert(!sawPartial, "the rebuild ran over the failed build's files")
    assert(Files.exists(root.resolve("_DONE")) && !Files.exists(partial))
  }

  test("a regenerated events.parquet at the same path gets a new API catalog") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    val dir = Files.createTempDirectory("graft-storeroot-api")
    val events = dir.resolve("events.parquet").toString
    val sample = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .orderBy("event_id").limit(60).collect()
    val sampleDf = spark.createDataFrame(
      spark.sparkContext.parallelize(sample.toSeq, 1), sample.head.schema)
    sampleDf.write.parquet(events)
    val before = graft.queries.ApiQueries.materialize(spark, dir.toString)
    // regeneration between runs: same path, new props, fresh JVM memos
    sampleDf.withColumn("props", concat($"props", lit(" ")))
      .write.mode("overwrite").parquet(events)
    StoreRoot.forget()
    val after = graft.queries.ApiQueries.materialize(spark, dir.toString)
    try {
      assert(after.root != before.root, s"stale catalog reused: ${after.root}")
      val edited = after.read(spark, "messages").filter($"content".endsWith(" ")).count()
      assert(edited == sample.length, s"$edited of ${sample.length} messages carry the new props")
    } finally Seq(before.root, after.root).foreach(r =>
      graft.etl.MergeWriter.deleteRecursively(java.nio.file.Paths.get(r)))
  }
}
