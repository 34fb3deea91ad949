package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Analytics, CoerceOps, IncrementalOps, TextOps, VectorOps}
import graft.sinks.Sink

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship pipeline on /root/testdata/sf0.001 (driver smoke-checks
    * rows > 0): the reference's dump shape end-to-end — resolve tables,
    * read, flatten, write with rotation + zstd (K1/K2/K4), then read the
    * emitted files back (the reference's own "analyze the output"
    * contract, README.md:99-103).
    */
  def entry(spark: SparkSession): DataFrame = {
    val out = Tables.scratch(spark, "sf0.001", "entry")
    val results = DumpJob.run(spark, "/root/testdata/sf0.001", out,
      DumpJob.Config(
        pattern = "lineitem",
        flatten = true,
        sink = Sink.Config(format = "parquet", maxRecordsPerFile = 2000)))
    val written = results.collect { case w: DumpJob.Written => w.files }.flatten
    require(written.nonEmpty, s"dump produced no files: $results")
    spark.read.parquet(s"$out/lineitem")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Analytics.queries ++ TextOps.queries ++ VectorOps.queries ++
      CoerceOps.queries ++ IncrementalOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Analytics.oracle ++ TextOps.oracle ++ VectorOps.oracle ++
      CoerceOps.oracle ++ IncrementalOps.oracle
}
