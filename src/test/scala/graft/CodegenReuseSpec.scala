package graft

import java.nio.file.{Files, Path}
import graft.etl._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generated classes are compiled once per process: a repeat of the same
  * plan shape finds its classes in Spark's codegen cache. Counts are
  * Janino compiles (`CodegenMetrics`), which only a cache miss makes.
  *
  * Two things defeat the cache when they go wrong: a streaming body
  * planned in the stream's cloned session (a fresh task class loader per
  * run, and the cache is keyed on the loader), and a cache bound below
  * one pass's working set (the LRU evicts every class before its reuse). */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-codegen-reuse")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesOf(f: => Unit): Long = {
    val before = compiles
    f
    compiles - before
  }

  private val crypto = CryptoConfig("reuse-pass", java.util.Base64.getEncoder
    .encodeToString("reuse-salt".getBytes), 1000)
  private lazy val key = Decrypt.deriveKey("reuse-pass", "reuse-salt".getBytes, 1000)

  /** One /sync batch that feeds every chain of the body: room state,
    * members with and without a membership, plain and encrypted messages,
    * plus one corrupt line. Only ids, rooms and timestamps vary by `n`. */
  private def writeBatch(dir: Path, n: Int): Unit = {
    val ts = 1000L * (n + 1)
    def ev(id: String, sender: String, typ: String, dt: Int, content: String, enc: Boolean = false) =
      Row(s"$$$id-$n:x", s"!r$n:x", sender, typ, ts + dt, content, null, enc, false, null)
    val rows = Seq(
      ev("create", "@admin:x", "m.room.create", 0, """{"creator":"@admin:x"}"""),
      ev("name", "@admin:x", "m.room.name", 1, s"""{"name":"Room $n"}"""),
      ev("mem", "@alice:x", "m.room.member", 2, """{"displayname":"Alice","membership":"join"}"""),
      ev("nomem", "@bob:x", "m.room.member", 3, """{"displayname":"Bob"}"""),
      ev("p", "@alice:x", "m.room.message", 4, """{"body":"plain"}"""),
      ev("e", "@alice:x", "m.room.message", 5,
        CryptoFixtures.encryptRandomIv("""{"body":"secret"}""", key), enc = true))
    RestartFixtures.writeJsonl(dir.toString, f"b$n%03d.jsonl",
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.rawEvent),
      Seq("""{"broken"""))
  }

  test("a repeated sync micro-batch shape reuses the classes earlier stream runs compiled") {
    val base = Files.createTempDirectory("graft-codegen-reuse")
    val src = Files.createDirectories(base.resolve("src"))
    val cat = Catalog(base.resolve("cat").toString)
    cat.bootstrap()
    val pipe = Pipeline(cat, Some(crypto))
    // one AvailableNow run per batch, each resumed from the checkpoint,
    // as a live sync loop runs; run 0 takes the create path, runs 1 and 2
    // the merge path
    val perRun = (0 until 3).map { n =>
      writeBatch(src, n)
      compilesOf(Streaming.startFullIngestJsonl(spark, src.toString, base.resolve("ckpt").toString,
        pipe, maxFilesPerTrigger = 1).awaitTermination())
    }
    assert(cat.read(spark, "messages").count() == 6, "every batch's messages merged")
    info(s"compiles per stream run: ${perRun.mkString(", ")}")
    // planned in each run's cloned session, every run compiled 148-180
    // classes (148, 180, 180); re-homed, the third compiles 10: five plans
    // whose folded current_timestamp() literal is part of the generated
    // source, each compiled driver- and task-side. A fifth of 180 is the bound.
    assert(perRun(2) <= 36, s"the third run recompiled ${perRun(2)} classes")
  }

  test("a second build of a pass wider than Spark's default cache compiles nothing") {
    val sf = "/root/testdata/sf0.001"
    val build = SparkEntry.queries("pipe_corpus_end2end")
    val first = compilesOf(build(spark, sf).collect())
    val second = compilesOf(build(spark, sf).collect())
    info(s"compiles: first build $first, second build $second")
    // a cold pass compiles 135 classes; under Spark's default bound of 100
    // the LRU evicted them before their reuse and the second build
    // recompiled 109
    assert(second == 0, s"the second build recompiled $second classes")
  }
}
