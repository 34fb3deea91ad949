package graft.sources.es

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.SourceCatalog

/** Live-cluster implementation of the [[graft.sources.SourceCatalog]]
  * seam: index-pattern resolution via `indices.get_settings` (S1,
  * reference dump-es-parquet:342-350) and scans via the `graft-es` DSv2
  * scroll source (S3), whose schema is the index mapping
  * (S2, `indices.get_mapping`, :185-204, `EsScrollSource.fetchSchema`).
  * Every catalog call is retried with the reference's transient-error
  * semantics (S4).
  *
  * `readOptions` flow through to every scan — set `slices`, `size`,
  * `scroll`, `query` etc. once for a whole DumpJob run.
  */
final case class EsCatalog(
    http: EsHttpConfig,
    readOptions: Map[String, String] = Map.empty) extends SourceCatalog {

  private def baseOptions: Map[String, String] = readOptions ++ Map(
    "es" -> http.baseUrl,
    "timeout" -> http.timeoutSec.toString,
    "verify_certs" -> http.verifyCerts.toString) ++
    http.cert.map("cert" -> _) ++ http.key.map("key" -> _) ++
    http.caPath.map("capath" -> _)

  /** S1: expand an index pattern to concrete index names. */
  override def listTables(pattern: String): Seq[String] = {
    val c = EsScanConfig.fromOptions(baseOptions + ("index" -> pattern))
    val transport = c.transportFactory.open()
    try {
      EsApi.parseIndexNames(c.retried(pattern)(transport.get(s"/$pattern/_settings")))
    } finally transport.close()
  }

  /** S3: a DataFrame over the index via the scroll source. */
  override def load(spark: SparkSession, name: String): DataFrame =
    spark.read.format("graft-es")
      .options(baseOptions + ("index" -> name))
      .load()
}
