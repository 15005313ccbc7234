package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory tuned for the project's execution profile.
  *
  * Local mode is a stand-in for a real cluster: `cores` models executor
  * slots, `spark.sql.shuffle.partitions` is kept at the slot count (the
  * data at test scale factors is far below the 200-partition default's
  * sweet spot), and AQE is on so skew/coalesce decisions are made from
  * runtime stats exactly as they would be on a 1000-executor cluster.
  */
object Sessions {

  /** Bound of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100), a static conf fixed when the first session is built.
    * The cache is an LRU over generated sources, so it must hold a whole
    * pass's working set or it evicts each class before its next use and
    * every repeat recompiles. Measured working sets: one sync stream run
    * about 125 distinct sources, one `pipe_corpus_end2end` pass 135 (at
    * 100 a warm pass recompiled 125 classes, here none), and one full
    * `Bench` board pass over all 147 entries 2,115 (plus 111 for the
    * catalog build before it; a second pass then compiled 44). The bound
    * is about 1.8 times the board's 2,226, the largest set measured. */
  val CodegenCacheEntries = 4000

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata parquet: µs timestamps carry isAdjustedToUTC=false → read
      // them as plain TIMESTAMP (session TZ is pinned UTC, so values are
      // identical to DuckDB's). nanosAsLong stays on for back-compat with
      // older testdata generations whose events.ts was timestamp[ns] —
      // illegal in Spark 4 unless surfaced as raw nanos LongType
      // (normalized at the reader, Tables.eventsNorm); on µs data the
      // flag is inert.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT64 micros, not the legacy INT96 default: INT96 carries no
      // usable min/max footer stats, which would blind both parquet
      // rowgroup pruning and the manifest zone maps on timestamp
      // columns (MergeWriter.footerRange)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
