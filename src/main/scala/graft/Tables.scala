package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Fixture-table catalog: one parquet file per table under a scale-factor
  * directory (TESTDATA.md). Mirrors the reference's index-pattern table
  * resolution (S1, reference dump-es-parquet:341-350): a name resolves to a
  * concrete path; `resolve` expands a glob pattern over the known names the
  * way the reference expands an index pattern via `indices.get_settings`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts as parquet TIMESTAMP(NANOS) reads as raw nanos under
    // spark.sql.legacy.parquet.nanosAsLong (GraftSession); truncate to
    // micros — the same truncation DuckDB applies reading nanos.
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    // Foreign sessions without GraftSession's inferTimestampNTZ=false pin
    // read isAdjustedToUTC=false fixture timestamps as NTZ; normalize to
    // the engine's UTC TIMESTAMP contract (same wall-clock values).
    df.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast("timestamp")))
  }

  /** S1 analog: index pattern -> matching table names. Like ES patterns:
    * "*" wildcards, and comma-separated alternatives ("a,b*") union in
    * first-match order without duplicates. */
  def resolve(pattern: String): Seq[String] = {
    val rxs = pattern.split(",").map(_.trim).filter(_.nonEmpty).map(p =>
      ("^" + java.util.regex.Pattern.quote(p).replace("*", "\\E.*\\Q") + "$").r)
    names.filter(n => rxs.exists(_.findFirstIn(n).isDefined))
  }

  /** `dir` with every non-alphanumeric character replaced by `_`: the
    * suffix that keeps a query's stored tables and scratch directories
    * apart across scale factors. */
  def suffix(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** A cleared scratch directory for query `name` over the tables in
    * `dir`: `${java.io.tmpdir}/graft_<name>_<suffix(dir)>`. Anything a
    * previous run left there is deleted first. */
  def scratch(spark: SparkSession, dir: String, name: String): String = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${name}_${suffix(dir)}").getPath
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    path
  }
}
