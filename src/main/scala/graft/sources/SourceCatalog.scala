package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The pluggable source seam (SURVEY.md §7.0): the catalog-facing
  * operations the reference performs against Elasticsearch — resolve an
  * index pattern (S1, `indices.get_settings`) and scan a table (S3,
  * scroll) — abstracted so a live DSv2 ES connector can drop in without
  * touching any operator. The table's schema (S2, `indices.get_mapping`)
  * is the loaded frame's: a DSv2 source resolves it in `inferSchema`.
  *
  * Implementations must wrap remote calls in [[Retry.withBackoff]] (S4);
  * the parquet fixture catalog has no remote calls to wrap.
  */
trait SourceCatalog {
  /** S1: expand a glob pattern to concrete table names. */
  def listTables(pattern: String): Seq[String]
  /** S3: scan a table. */
  def load(spark: SparkSession, name: String): DataFrame
}

/** Fixture-backed catalog: one parquet file per table under `dir`
  * (TESTDATA.md). The stand-in for a live ES catalog in this zero-egress
  * environment; schemas come from parquet footers instead of mappings
  * (an ES implementation would call `EsMapping.fromMappingResponse`).
  */
final case class ParquetDirCatalog(dir: String) extends SourceCatalog {
  def listTables(pattern: String): Seq[String] = Tables.resolve(pattern)
  def load(spark: SparkSession, name: String): DataFrame =
    Tables.load(spark, dir, name)
}
