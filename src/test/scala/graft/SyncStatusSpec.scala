package graft

import java.nio.file.Files
import graft.etl.{Catalog, Pipeline, Streaming, SyncStatus}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SyncStatusSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-status")

  test("listener captures started/progress/terminated for an ingest run") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-status")
    val src = Files.createDirectories(base.resolve("src")).toString
    RestartFixtures.writeJsonl(src, "b0.jsonl", RestartFixtures.rawRows(spark, 0 until 1, 1L))
    val cat = Catalog(base.resolve("cat").toString)
    cat.bootstrap()

    val status = new SyncStatus().attach(spark)
    try {
      Streaming.startFullIngestJsonl(spark, src, base.resolve("ckpt").toString,
        Pipeline(cat)).awaitTermination()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 10_000_000_000L
      var statuses = Set.empty[String]
      while (System.nanoTime() < deadline && !statuses("terminated")) {
        statuses = statuses ++ status.drain(spark)
          .select("status").as[String].collect()
        if (!statuses("terminated")) Thread.sleep(100)
      }
      assert(Set("started", "progress", "terminated").subsetOf(statuses),
        s"got $statuses")
    } finally status.detach(spark)
  }
}
