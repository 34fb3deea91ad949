package graft.sources.es

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** The HTTP round-trip seam of the live Elasticsearch/OpenSearch source.
  *
  * Everything above this trait (page loop, slicing, coercion) is pure and
  * stub-testable; everything below it is `java.net.http` + TLS. The
  * factory — not the transport — is what travels to executors inside an
  * `InputPartition`, so it must be a small serializable value; each
  * partition reader opens its own transport (the sliced-scroll analog of
  * the reference's one client per process, dump-es-parquet:71-84).
  */
trait EsTransport extends AutoCloseable {
  def get(path: String): String
  /** The response body's bytes, which the page readers decode in one
    * pass without a `String` in between. */
  def postBytes(path: String, body: String): Array[Byte]
  def post(path: String, body: String): String = new String(postBytes(path, body), UTF_8)
  /** DELETE with a JSON body (clear-scroll's shape). */
  def delete(path: String, body: String): Unit
  override def close(): Unit = ()
}

trait EsTransportFactory extends Serializable {
  def open(): EsTransport
}

/** Non-2xx response. 429/5xx are transient (the retry loop's concern);
  * other 4xx are permanent caller errors. */
final class EsHttpError(val status: Int, val path: String, body: String)
    extends RuntimeException(s"HTTP $status on $path: ${body.take(300)}") {
  def isTransient: Boolean = status == 429 || status >= 500
}

object EsHttpError {
  /** The retry predicate: connection-level failures and retryable HTTP
    * statuses — the JVM shape of the reference's `except TransportError`
    * (dump-es-parquet:227-230). */
  def transient(t: Throwable): Boolean = t match {
    case e: EsHttpError          => e.isTransient
    case _: java.io.IOException  => true
    case _                       => false
  }
}

/** Connection settings — the reference's CLI surface
  * (dump-es-parquet:372-382): `--es` base URL, `--timeout`, and the x509
  * client options `--cert/--key/--no-verify-certs/--capath`. */
final case class EsHttpConfig(
    baseUrl: String = "http://localhost:9200",
    timeoutSec: Int = 60,
    cert: Option[String] = None,   // PEM client certificate chain
    key: Option[String] = None,    // PKCS#8 PEM private key
    caPath: Option[String] = None, // PEM trust anchors (file or directory)
    verifyCerts: Boolean = true) {
  def base: String = baseUrl.stripSuffix("/")
}

final case class HttpTransportFactory(conf: EsHttpConfig) extends EsTransportFactory {
  override def open(): EsTransport = new HttpTransport(conf)
}

final class HttpTransport(conf: EsHttpConfig) extends EsTransport {

  private val client: HttpClient = {
    val b = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(conf.timeoutSec.toLong))
      .followRedirects(HttpClient.Redirect.NORMAL)
    if (conf.base.startsWith("https") &&
        (conf.cert.isDefined || conf.caPath.isDefined || !conf.verifyCerts))
      b.sslContext(EsTls.sslContext(conf))
    b.build()
  }

  private def request(path: String) =
    HttpRequest.newBuilder(URI.create(conf.base + path))
      .timeout(Duration.ofSeconds(conf.timeoutSec.toLong))
      .header("Content-Type", "application/json")

  /** Every request's one send path: the body as bytes (JSON is UTF-8). */
  private def send(req: HttpRequest): Array[Byte] = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() >= 400)
      throw new EsHttpError(resp.statusCode(), req.uri().getPath, new String(resp.body(), UTF_8))
    resp.body()
  }

  override def get(path: String): String =
    new String(send(request(path).GET().build()), UTF_8)

  override def postBytes(path: String, body: String): Array[Byte] =
    send(request(path).POST(HttpRequest.BodyPublishers.ofString(body)).build())

  override def delete(path: String, body: String): Unit =
    send(request(path).method("DELETE",
      HttpRequest.BodyPublishers.ofString(body)).build())
}
