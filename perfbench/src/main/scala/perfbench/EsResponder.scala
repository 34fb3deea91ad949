package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** The `es-dump` workload's source: an Elasticsearch stand-in serving
  * exactly the wire calls a sliced scroll dump sends (`_settings`,
  * `_mapping`, `_search?scroll`, `_search/scroll`, clear-scroll).
  *
  * Every page of every slice is rendered once, at start-up, into the bytes
  * it is served as; a request costs a lookup and a write. The scroll id
  * names the next page, so the server keeps no cursor state and a retried
  * request gets the same page again. Documents are [[Gen]] rows; a seeded
  * share of them takes the lenient shapes real indices hold (numbers as
  * strings, dates as epoch millis, scalars in one-element lists), which
  * the dump must coerce back to the generated values.
  *
  * Run as its own process: `perfbench.EsResponder seed sf slices size
  * lenientPct threads` prints `READY <port>` and serves until its stdin
  * closes.
  */
object EsResponder {

  val indices: Seq[String] = Seq("lineitem", "orders", "events")

  final case class Config(seed: Long, sf: Double, slices: Int, size: Int,
                          lenientPct: Int, threads: Int)

  /** Slice `s` of `slices` holds the documents with `i % slices == s`. */
  def sliceCount(total: Long, slices: Int, s: Int): Long =
    total / slices + (if (s < total % slices) 1 else 0)

  def mappingProperties(table: String): String =
    Gen.specs(table).map { c =>
      if (c.name == "props_k") "\"props\":{\"properties\":{\"k\":{\"type\":\"long\"}}}"
      else s""""${c.name}":{"type":"${c.kind}"}"""
    }.mkString("{", ",", "}")

  def sourceFields(table: String): Seq[String] =
    Gen.specs(table).map(c => if (c.name == "props_k") "props" else c.name)

  private def quote(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** One document's `_source`. A lenient document renders each field in a
    * seeded choice of its lenient shapes; all of them coerce back to the
    * same value under the reference's rules. */
  def renderSource(sb: java.lang.StringBuilder, table: String, conf: Config, i: Long): Unit = {
    val values = Gen.row(table, conf.seed, conf.sf, i)
    val r = new Gen.Rng(conf.seed, 1000 + Gen.tables.indexOf(table), i)
    val lenient = r.below(100) < conf.lenientPct
    def number(v: Any, asList: Boolean): Unit = {
      val text = v match {
        case d: Double => java.lang.Double.toString(d)
        case n         => if (lenient) s"$n.0" else n.toString
      }
      if (!lenient) sb.append(text)
      else if (asList) sb.append('[').append(text).append(']')
      else quote(sb, text)
    }
    sb.append('{')
    Gen.specs(table).zip(values).zipWithIndex.foreach { case ((c, v), k) =>
      if (k > 0) sb.append(',')
      val asList = lenient && r.below(2) == 0
      if (c.name == "props_k") {
        sb.append("\"props\":{\"k\":"); number(v, asList); sb.append('}')
      } else {
        quote(sb, c.name); sb.append(':')
        c.kind match {
          case "keyword" =>
            if (lenient) { sb.append('['); quote(sb, v.toString); sb.append(']') }
            else quote(sb, v.toString)
          case "date" =>
            val micros = v.asInstanceOf[Long]
            if (!lenient) quote(sb, Instant.ofEpochSecond(0, micros * 1000).toString)
            else if (asList) sb.append('[').append(micros / 1000).append(']')
            else sb.append(micros / 1000)
          case _ => number(v, asList)
        }
      }
    }
    sb.append('}')
  }

  private def scrollId(table: String, conf: Config, slice: Int, page: Int) =
    s"$table~$slice~${conf.slices}~$page"

  /** All pages of one slice; the last one is the empty page that ends the
    * scroll. */
  private def renderSlice(table: String, conf: Config, slice: Int): Array[Array[Byte]] = {
    val total = Gen.count(table, conf.sf)
    val n = sliceCount(total, conf.slices, slice)
    val pages = ((n + conf.size - 1) / conf.size).toInt
    Array.tabulate(pages + 1) { p =>
      val sb = new java.lang.StringBuilder(conf.size * 300)
      sb.append("{\"_scroll_id\":\"").append(scrollId(table, conf, slice, p + 1))
        .append("\",\"took\":1,\"timed_out\":false,\"hits\":{\"total\":{\"value\":")
        .append(n).append(",\"relation\":\"eq\"},\"max_score\":null,\"hits\":[")
      var j = p.toLong * conf.size
      val end = math.min(n, j + conf.size)
      while (j < end) {
        val i = j * conf.slices + slice
        if (j > p.toLong * conf.size) sb.append(',')
        sb.append("{\"_index\":\"").append(table).append("\",\"_id\":\"").append(i)
          .append("\",\"_score\":null,\"_source\":")
        renderSource(sb, table, conf, i)
        sb.append('}')
        j += 1
      }
      sb.append("]}}")
      sb.toString.getBytes(UTF_8)
    }
  }

  final class Server(conf: Config) extends AutoCloseable {
    private val mapper = new ObjectMapper()
    private val daemon: ThreadFactory = (r: Runnable) => {
      val t = new Thread(r, "es-responder"); t.setDaemon(true); t
    }
    private val pool = Executors.newFixedThreadPool(conf.threads, daemon)

    /** (index, slice) -> pages, rendered on the server's own threads. */
    val pages: Map[(String, Int), Array[Array[Byte]]] = {
      val jobs = for (t <- indices; s <- 0 until conf.slices) yield
        (t, s) -> pool.submit(() => renderSlice(t, conf, s))
      jobs.map { case (k, f) => k -> f.get() }.toMap
    }

    private val busyNanos = new LongAdder
    private val servedBytes = new LongAdder

    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()

    def port: Int = server.getAddress.getPort

    override def close(): Unit = {
      server.stop(0)
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }

    private def handle(ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      try {
        val body = ex.getRequestBody.readAllBytes()
        val (status, bytes) =
          try route(ex.getRequestMethod, ex.getRequestURI, body)
          catch { case e: Exception => 400 -> s"""{"error":"${e.getMessage}"}""".getBytes(UTF_8) }
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        servedBytes.add(bytes.length.toLong)
      } finally {
        ex.close()
        busyNanos.add(System.nanoTime() - t0)
      }
    }

    private def json(s: String) = 200 -> s.getBytes(UTF_8)

    private def page(token: String): (Int, Array[Byte]) = token.split("~") match {
      case Array(t, s, max, p) if max.toInt == conf.slices =>
        pages.get((t, s.toInt)).filter(p.toInt < _.length)
          .map(ps => 200 -> ps(p.toInt))
          .getOrElse(404 -> s"""{"error":"no scroll $token"}""".getBytes(UTF_8))
      case _ => 404 -> s"""{"error":"no scroll $token"}""".getBytes(UTF_8)
    }

    /** The opening search of one slice: only the request shape the pages
      * were rendered for is served; any other fails loudly. */
    private def openScroll(table: String, body: Array[Byte]): (Int, Array[Byte]) = {
      val req = mapper.readTree(body)
      val size = Option(req.get("size")).map(_.asInt).getOrElse(10)
      val slice = Option(req.get("slice"))
      val (s, max) = slice.map(n => (n.get("id").asInt, n.get("max").asInt)).getOrElse((0, 1))
      val fields = Option(req.get("_source")).filter(_.isArray)
        .map(_.elements().asScala.map(_.asText).toSet)
      require(size == conf.size && max == conf.slices,
        s"pages are rendered for size=${conf.size} slices=${conf.slices}")
      require(!req.has("query"), "queries are not served")
      require(fields.forall(_ == sourceFields(table).toSet), "partial _source is not served")
      page(scrollId(table, conf, s, 0))
    }

    private def route(method: String, uri: java.net.URI, body: Array[Byte]): (Int, Array[Byte]) = {
      val segs = uri.getPath.stripPrefix("/").split("/").toList
      (method, segs) match {
        case ("GET", "_bench" :: "stats" :: Nil) =>
          json(s"""{"busy_ns":${busyNanos.sum},"bytes":${servedBytes.sum}}""")
        case ("GET", pattern :: "_settings" :: Nil) =>
          val rx = pattern.split(",").map(p =>
            ("^" + java.util.regex.Pattern.quote(p).replace("*", "\\E.*\\Q") + "$").r)
          val hit = indices.filter(n => rx.exists(_.findFirstIn(n).isDefined))
          if (hit.isEmpty) 404 -> """{"error":"no such index"}""".getBytes(UTF_8)
          else json(hit.map(n => s""""$n":{"settings":{}}""").mkString("{", ",", "}"))
        case ("GET", idx :: "_mapping" :: Nil) if indices.contains(idx) =>
          json(s"""{"$idx":{"mappings":{"properties":${mappingProperties(idx)}}}}""")
        case ("POST", idx :: "_search" :: Nil)
            if indices.contains(idx) && uri.getQuery != null && uri.getQuery.startsWith("scroll=") =>
          openScroll(idx, body)
        case ("POST", "_search" :: "scroll" :: Nil) =>
          page(mapper.readTree(body).get("scroll_id").asText())
        case ("DELETE", "_search" :: "scroll" :: Nil) =>
          json("""{"succeeded":true,"num_freed":1}""")
        case _ => 404 -> s"""{"error":"not served: $method $uri"}""".getBytes(UTF_8)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(seed, sf, slices, size, lenientPct, threads) = args
    val server = new Server(Config(seed.toLong, sf.toDouble, slices.toInt, size.toInt,
      lenientPct.toInt, threads.toInt))
    println(s"READY ${server.port}")
    System.out.flush()
    // serve until the parent closes our stdin (or dies)
    while (System.in.read() >= 0) ()
    server.close()
  }
}
