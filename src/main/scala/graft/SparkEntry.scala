package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by modules (each `Map[String, QueryDef]`);
  * this object flattens them into the (name → build fn) and
  * (name → oracle SQL) maps the driver consumes.
  */
object SparkEntry {

  private def modules: Seq[Map[String, QueryDef]] = Seq(
    _root_.graft.queries.Tpch.defs,
    _root_.graft.queries.Tpch2.defs,
    _root_.graft.queries.Tpch3.defs,
    _root_.graft.queries.RefQueries.defs,
    _root_.graft.queries.ApiQueries.defs,
    _root_.graft.queries.Windows.defs,
    _root_.graft.queries.Misc.defs,
    _root_.graft.ext.TextStats.defs,
    _root_.graft.ext.Corpus.defs,
    _root_.graft.ext.Dedup.defs,
    _root_.graft.ext.Cluster.defs,
    _root_.graft.ext.Similarity.defs,
    _root_.graft.ext.Embeddings.defs,
    _root_.graft.ext.Pq.defs,
    _root_.graft.ext.Cdc.defs,
    _root_.graft.ext.Multimodal.defs,
    _root_.graft.ext.Profile.defs,
    _root_.graft.ext.Pipe.defs,
  )

  lazy val all: Map[String, QueryDef] = modules.reduce(_ ++ _)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all("q3_shipping_priority").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each build
    * first installs the graft SQL functions into the caller's session,
    * which need not have been built with `GraftExtensions`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, d) => k -> { (s: SparkSession, dir: String) =>
      graft.functions.Functions.install(s)
      d.build(s, dir)
    } }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, QueryDef(_, Some(sql), _)) => k -> sql }
}
