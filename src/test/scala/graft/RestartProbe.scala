package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.etl.{Catalog, Pipeline, Schemas, Streaming}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared raw-event fixtures for the sync stream's specs. The restart
  * contract's phase 1 (the spec's session) and phase 2 (the forked probe
  * JVM) must write bit-identical row shapes, or the cross-phase LWW
  * assertions would test fixture drift, not resume semantics. */
object RestartFixtures {
  def rawRows(spark: SparkSession, ids: Range, tsBase: Long,
      backfill: Boolean = false): DataFrame = {
    val rows = ids.map { i =>
      Row(s"$$evt$i:x", s"!room${i % 3}:x", s"@u${i % 5}:x", "m.room.message",
        tsBase + i, s"""{"msgtype":"m.text","body":"m$i"}""",
        null, false, backfill, null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Schemas.rawEvent)
  }

  /** Writes `rows` as the file `dir/name` in the stream's wire format,
    * one JSON object per line, then the raw `extra` lines (a corrupt
    * line, say); returns the number of lines written. */
  def writeJsonl(dir: String, name: String, rows: DataFrame,
      extra: Seq[String] = Nil): Int = {
    val lines = rows.select(to_json(struct(rows.columns.map(col).toSeq: _*)))
      .collect().map(_.getString(0)).toSeq ++ extra
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    lines.size
  }
}

/** Phase 2 of the restart-resume contract, run as a main in a FRESH
  * JVM (see StreamingSpec's forked-restart test). The newSession()
  * restart variant proves checkpoint + manifest state survive
  * everything a new session resets; this closes the last sliver —
  * static/JVM-level state (object singletons, codegen caches, the
  * SparkContext itself) — because literally nothing but the durable
  * checkpoint + catalog directories crosses a process boundary.
  *
  * Exit 0 + "RESTARTPROBE OK" on stdout iff all resume invariants
  * hold: batch-1 files skipped, replayed duplicates merged not
  * appended (S5/L1), LWW replay wins (client.ts:304-314 semantics),
  * and exactly one new micro-batch committed one new sync token (L8).
  */
object RestartProbe {
  def main(args: Array[String]): Unit = {
    val base = Paths.get(args(0))
    val spark = Sessions.local(cores = 4, appName = "graft-restart-probe")
    try {
      val src = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val cat = Catalog(base.resolve("cat").toString)
      val pipe = Pipeline(cat)
      // new data arrives while "down": 10 new + 5 replayed duplicates
      RestartFixtures.writeJsonl(src, "b1-new.jsonl",
        RestartFixtures.rawRows(spark, 20 until 30, 2000L))
      RestartFixtures.writeJsonl(src, "b1-replay.jsonl",
        RestartFixtures.rawRows(spark, 0 until 5, 3000L))
      Streaming.startFullIngestJsonl(spark, src, ckpt, pipe).awaitTermination()

      val msgs = cat.read(spark, "messages")
      require(msgs.count() == 30,
        "restart must skip batch-1 files and merge the 5 replays, not append")
      require(msgs.select(countDistinct(col("event_id"))).head().getLong(0) == 30,
        "no duplicate event_ids after process restart")
      require(msgs.filter(col("event_id") === "$evt0:x").head()
        .getAs[Long]("timestamp") == 3000L, "LWW replay wins across the restart")
      require(cat.read(spark, "sync_state").count() == 2,
        "restarted stream must process only the new files (one new token)")
      println("RESTARTPROBE OK")
    } finally spark.stop()
  }
}
