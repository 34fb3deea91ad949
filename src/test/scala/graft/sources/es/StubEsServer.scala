package graft.sources.es

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import scala.jdk.CollectionConverters._

/** In-process Elasticsearch stub for the scroll-source suite: serves the
  * catalog surface (`_settings`, `_mapping`) and a faithful
  * `_search?scroll` / `_search/scroll` / clear-scroll loop over canned
  * documents, on a real localhost HTTP socket (the suite exercises the
  * production `HttpTransport`, not a fake).
  *
  * Fidelity knobs:
  *  - `es6Totals`: `hits.total` as a bare int (ES6) vs `{value,relation}`
  *  - `legacyDocType`: ES6 `{mappings: {doc: {properties}}}` vs ES7+
  *  - `failNext(n)`: next n requests answer 503 (cluster flap)
  *  - `truncateNext(n)`: next n search responses answer 200 with the
  *    body cut mid-hit (mid-`hits` when the page has no hit)
  *  - sliced scrolls partition documents by `index % max == id`
  *  - `_source` include lists are honored (projection reaches the wire)
  *  - `addDocs` appends documents live (the tail-source suite's ingest)
  *  - size-0 `max` aggregations and structured numeric `range` queries
  *    are evaluated (the tail source's offset probe + batch windows)
  *  - point-in-time contexts: `POST /{idx}/_pit` snapshots the index,
  *    index-less `POST /_search` with `pit.id` pages it via
  *    `search_after` (sort values emitted per hit, `_shard_doc`
  *    tiebreak honored), `DELETE /_pit` closes; `failPitSearch(n)`
  *    503s exactly the nth page fetch (targeted mid-dump flap)
  */
final class StubEsServer(
    initialIndices: Map[String, Seq[String]],
    mappings: Map[String, String],
    es6Totals: Boolean = false,
    legacyDocType: Boolean = false,
    // real ES7+ caps hits.total at 10,000 (`relation: gte`) unless the
    // request sets track_total_hits — lowered in tests to pin that the
    // PIT reader actually asks for the exact count
    totalHitsCap: Int = 10000) extends AutoCloseable {

  private val mapper = new ObjectMapper()
  private val indices = new ConcurrentHashMap[String, List[String]]()
  initialIndices.foreach { case (k, v) => indices.put(k, v.toList) }

  /** Live ingest: append documents to an index. */
  def addDocs(index: String, docs: Seq[String]): Unit =
    indices.merge(index, docs.toList, (a, b) => a ++ b)

  /** (method, uri-with-query, body) of every request, in arrival order. */
  val requests = new ConcurrentLinkedQueue[(String, String, String)]()
  val clearedScrolls = new ConcurrentLinkedQueue[String]()
  private val failBudget = new AtomicInteger(0)
  private val scrollSeq = new AtomicLong(0)
  private final case class Session(var docs: List[ObjectNode], size: Int)
  private val sessions = new ConcurrentHashMap[String, Session]()

  // point-in-time contexts: an immutable snapshot of the index at open
  // time (the real API's defining property), keyed by PIT id
  private val pitSeq = new AtomicLong(0)
  private val pits = new ConcurrentHashMap[String, List[ObjectNode]]()
  val closedPits = new ConcurrentLinkedQueue[String]()

  def failNext(n: Int): Unit = failBudget.set(n)

  private val truncateBudget = new AtomicInteger(0)
  def truncateNext(n: Int): Unit = truncateBudget.set(n)

  /** A search response cut halfway into its last hit's `_source`, or
    * halfway through the body when no hit carries one. */
  private def truncated(body: String): String = {
    val at = body.lastIndexOf("\"_source\"")
    val from = if (at >= 0) at else 0
    body.substring(0, from + (body.length - from) / 2)
  }

  // targeted mid-dump flap: 503 exactly the nth (1-based) index-less
  // /_search request — i.e. the nth PIT page fetch
  private val pitSearchCounter = new AtomicInteger(0)
  @volatile private var failPitSearchAt: Int = -1
  def failPitSearch(n: Int): Unit = failPitSearchAt = n
  def searchRequests: Seq[(String, String, String)] =
    requests.asScala.toSeq.filter(r => r._1 == "POST" && r._2.contains("/_search") &&
      !r._2.contains("/_search/scroll"))

  private val pool = Executors.newFixedThreadPool(8)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", handler)
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  override def close(): Unit = try server.stop(0) finally pool.shutdownNow()

  private def handler: HttpHandler = (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val method = ex.getRequestMethod
    val uri = ex.getRequestURI.toString
    requests.add((method, uri, body))
    try {
      if (failBudget.getAndUpdate(n => math.max(0, n - 1)) > 0)
        respond(ex, 503, """{"error":"stub flap"}""")
      else route(ex, method, ex.getRequestURI.getPath, uri, body)
    } catch {
      case e: Exception => respond(ex, 500,
        s"""{"error":"${Option(e.getMessage).getOrElse(e.getClass.getName)}"}""")
    }
  }

  private def route(ex: HttpExchange, method: String, path: String,
                    uri: String, body: String): Unit = {
    val segs = path.stripPrefix("/").split("/").toList
    (method, segs) match {
      case ("GET", idx :: "_mapping" :: Nil) =>
        mappings.get(idx) match {
          case Some(props) =>
            val inner = if (legacyDocType) s"""{"doc":{"properties":$props}}"""
                        else s"""{"properties":$props}"""
            respond(ex, 200, s"""{"$idx":{"mappings":$inner}}""")
          case None => respond(ex, 404, s"""{"error":"no such index $idx"}""")
        }
      case ("GET", pattern :: "_settings" :: Nil) =>
        val rx = ("^" + java.util.regex.Pattern.quote(pattern)
          .replace("*", "\\E.*\\Q") + "$").r
        val matched = indices.keySet().asScala.filter(n => rx.findFirstIn(n).isDefined)
        if (matched.isEmpty) respond(ex, 404, s"""{"error":"no indices match"}""")
        else respond(ex, 200,
          matched.map(n => s""""$n":{"settings":{}}""").mkString("{", ",", "}"))
      case ("POST", idx :: "_pit" :: Nil) =>
        Option(indices.get(idx)) match {
          case Some(docs) =>
            val id = s"stub-pit-${pitSeq.incrementAndGet()}"
            pits.put(id, docs.map(d => mapper.readTree(d).asInstanceOf[ObjectNode]))
            respond(ex, 200, s"""{"id":"$id"}""")
          case None => respond(ex, 404, s"""{"error":"no such index $idx"}""")
        }
      case ("DELETE", "_pit" :: Nil) =>
        val id = mapper.readTree(body).get("id").asText()
        pits.remove(id)
        closedPits.add(id)
        respond(ex, 200, """{"succeeded":true}""")
      case ("POST", "_search" :: Nil) =>
        // index-less search: the PIT id names the view (real ES shape)
        if (pitSearchCounter.incrementAndGet() == failPitSearchAt) {
          respond(ex, 503, """{"error":"stub flap"}"""); return
        }
        val req = mapper.readTree(if (body.isEmpty) "{}" else body)
        val pid = req.at("/pit/id")
        if (pid.isMissingNode)
          respond(ex, 400, """{"error":"index-less search requires a pit"}""")
        else Option(pits.get(pid.asText())) match {
          case None => respond(ex, 404, s"""{"error":"no pit ${pid.asText()}"}""")
          case Some(snapshot) => respond(ex, 200, pitSearch(req, pid.asText(), snapshot))
        }
      case ("POST", "_search" :: "scroll" :: Nil) =>
        val id = mapper.readTree(body).get("scroll_id").asText()
        val session = sessions.get(id)
        if (session == null) respond(ex, 404, s"""{"error":"no scroll $id"}""")
        else {
          val (pageDocs, rest) = session.docs.splitAt(session.size)
          session.docs = rest
          respond(ex, 200, pageJson(Some(id), -1, pageDocs))
        }
      case ("POST", idx :: "_search" :: Nil) =>
        val req = mapper.readTree(if (body.isEmpty) "{}" else body)
        val size = Option(req.get("size")).map(_.asInt).getOrElse(10)
        val stored = Option(indices.get(idx)).getOrElse(Nil)
          .map(d => mapper.readTree(d).asInstanceOf[ObjectNode])
        // size-0 max aggregation (the tail source's latestOffset probe)
        val aggField = Option(req.at("/aggs/m/max/field"))
          .filterNot(_.isMissingNode).map(_.asText())
        if (aggField.isDefined) {
          val vals = stored.flatMap(d => Option(d.get(aggField.get)))
            .filter(_.isNumber).map(_.asDouble())
          val root = mapper.createObjectNode()
          val hits = root.putObject("hits")
          val t = hits.putObject("total")
          t.put("value", stored.size); t.put("relation", "eq")
          hits.putArray("hits")
          val m = root.putObject("aggregations").putObject("m")
          if (vals.isEmpty) m.putNull("value") else m.put("value", vals.max)
          respond(ex, 200, mapper.writeValueAsString(root))
        } else {
        // structured numeric range filter (query.range or query.bool.filter)
        val rangeNode = Seq("/query/range", "/query/bool/filter/0/range")
          .map(req.at).find(!_.isMissingNode)
        val all = rangeNode match {
          case Some(r) =>
            val f = r.fieldNames().asScala.next()
            val spec = r.get(f)
            val gt = Option(spec.get("gt")).map(_.asDouble()).getOrElse(Double.NegativeInfinity)
            val lte = Option(spec.get("lte")).map(_.asDouble()).getOrElse(Double.PositiveInfinity)
            stored.filter { d =>
              Option(d.get(f)).filter(_.isNumber).map(_.asDouble())
                .exists(v => v > gt && v <= lte)
            }
          case None => stored
        }
        // honor the first non-_doc sort clause (numeric or text, with
        // ES `missing` placement) — the TopN-pushdown suite's surface
        val sorted = Option(req.get("sort")).map(_.elements().asScala.toList) match {
          case Some(clauses) =>
            clauses.collectFirst {
              case c if c.isObject =>
                val f = c.fieldNames().asScala.next()
                (f, c.get(f))
            } match {
              case Some((field, spec)) if field != "_doc" =>
                val desc = Option(spec.get("order")).exists(_.asText() == "desc")
                val missingFirst =
                  Option(spec.get("missing")).exists(_.asText() == "_first")
                val (missing, present) =
                  all.partition(d => Option(d.get(field)).forall(_.isNull))
                val byKey = present.sortBy { d =>
                  val v = d.get(field)
                  if (v.isNumber) (v.asDouble(), "") else (0.0, v.asText())
                }
                val ordered = if (desc) byKey.reverse else byKey
                if (missingFirst) missing ++ ordered else ordered ++ missing
              case _ => all
            }
          case None => all
        }
        val sliced = Option(req.get("slice")) match {
          case Some(s) =>
            val (id, max) = (s.get("id").asInt, s.get("max").asInt)
            sorted.zipWithIndex.collect { case (d, i) if i % max == id => d }
          case None => sorted
        }
        val projected = Option(req.get("_source")) match {
          case Some(src) if src.isArray =>
            val keep = src.elements().asScala.map(_.asText()).toSet
            sliced.map { d =>
              val c = d.deepCopy[ObjectNode]()
              c.retain(keep.asJava); c
            }
          case Some(src) if src.isBoolean && !src.asBoolean() =>
            // `_source: false`: hit envelopes without document bodies
            sliced.map(_ => null)
          case _ => sliced
        }
        // a search without ?scroll= is a plain one-shot: no scroll
        // context, no _scroll_id in the response (real ES behavior)
        val (pageDocs, rest) = projected.toList.splitAt(size)
        val scrollId =
          if (uri.contains("scroll=")) {
            val id = s"stub-scroll-${scrollSeq.incrementAndGet()}"
            sessions.put(id, Session(rest, size))
            Some(id)
          } else None
        respond(ex, 200, pageJson(scrollId, projected.size.toLong, pageDocs))
        }
      case ("DELETE", "_search" :: "scroll" :: Nil) =>
        mapper.readTree(body).get("scroll_id").elements().asScala.foreach { id =>
          sessions.remove(id.asText())
          clearedScrolls.add(id.asText())
        }
        respond(ex, 200, """{"succeeded":true}""")
      case _ => respond(ex, 400, s"""{"error":"unhandled $method $path"}""")
    }
  }

  /** PIT + search_after search over an open snapshot: honors sort clauses
    * (field order + the `_shard_doc` position tiebreak), slice, the
    * `search_after` cursor (match-previous-page's-last-sort-values, then
    * take what follows), `_source` projection, and size; every hit carries
    * its `sort` array like real ES. */
  private def pitSearch(req: com.fasterxml.jackson.databind.JsonNode,
                        pitId: String, snapshot: List[ObjectNode]): String = {
    val size = Option(req.get("size")).map(_.asInt).getOrElse(10)
    val positioned = snapshot.zipWithIndex
    val sliced = Option(req.get("slice")) match {
      case Some(s) =>
        val (id, max) = (s.get("id").asInt, s.get("max").asInt)
        positioned.filter { case (_, i) => i % max == id }
      case None => positioned
    }
    val clauses = Option(req.get("sort")).map(_.elements().asScala.toList)
      .getOrElse(Nil).collect {
        case c if c.isObject =>
          val f = c.fieldNames().asScala.next()
          (f, Option(c.get(f).get("order")).exists(_.asText() == "desc"))
      }
    // stable sorts applied least-significant-first = multi-clause order
    val ordered = clauses.reverse.foldLeft(sliced) { case (acc, (f, desc)) =>
      val byKey = acc.sortBy { case (d, i) =>
        if (f == "_shard_doc") (i.toDouble, "")
        else Option(d.get(f)) match {
          case Some(v) if v.isNumber => (v.asDouble(), "")
          case Some(v)               => (0.0, v.asText())
          case None                  => (Double.NegativeInfinity, "")
        }
      }
      if (desc) byKey.reverse else byKey
    }
    def sortValues(d: ObjectNode, pos: Int): com.fasterxml.jackson.databind.node.ArrayNode = {
      val arr = mapper.createArrayNode()
      clauses.foreach {
        case ("_shard_doc", _) => arr.add(pos)
        case (f, _) => Option(d.get(f)) match {
          case Some(v) => arr.add(v.deepCopy[com.fasterxml.jackson.databind.JsonNode]())
          case None    => arr.addNull()
        }
      }
      arr
    }
    val keyed = ordered.map { case (d, i) =>
      (d, mapper.writeValueAsString(sortValues(d, i)), sortValues(d, i))
    }
    val afterCut = Option(req.get("search_after")) match {
      case Some(sa) =>
        val cursor = mapper.writeValueAsString(sa)
        val idx = keyed.indexWhere(_._2 == cursor)
        require(idx >= 0, s"search_after cursor not found in pit view: $cursor")
        keyed.drop(idx + 1)
      case None => keyed
    }
    val pageHits = afterCut.take(size)
    val projected: List[(ObjectNode, com.fasterxml.jackson.databind.node.ArrayNode)] =
      Option(req.get("_source")) match {
        case Some(src) if src.isArray =>
          val keep = src.elements().asScala.map(_.asText()).toSet
          pageHits.map { case (d, _, sv) =>
            val c = d.deepCopy[ObjectNode]()
            c.retain(keep.asJava); (c, sv)
          }
        case Some(src) if src.isBoolean && !src.asBoolean() =>
          pageHits.map { case (_, _, sv) => (null: ObjectNode, sv) }
        case _ => pageHits.map { case (d, _, sv) => (d, sv) }
      }
    val root = mapper.createObjectNode()
    root.put("pit_id", pitId)
    val hits = root.putObject("hits")
    val t = hits.putObject("total")
    // real-ES behavior: without track_total_hits, totals stop counting at
    // the cap and report a `gte` lower bound instead of the exact count
    val trackTotal = Option(req.get("track_total_hits")).exists(_.asBoolean())
    if (!trackTotal && ordered.size > totalHitsCap) {
      t.put("value", totalHitsCap); t.put("relation", "gte")
    } else {
      t.put("value", ordered.size); t.put("relation", "eq")
    }
    val arr = hits.putArray("hits")
    projected.foreach { case (d, sv) =>
      val h = arr.addObject()
      if (d != null) h.set[ObjectNode]("_source", d)
      h.set[ObjectNode]("sort", sv)
    }
    mapper.writeValueAsString(root)
  }

  private def pageJson(scrollId: Option[String], total: Long,
                       docs: Seq[ObjectNode]): String = {
    val root = mapper.createObjectNode()
    scrollId.foreach(root.put("_scroll_id", _))
    val hits = root.putObject("hits")
    if (total >= 0) {
      if (es6Totals) hits.put("total", total)
      else { val t = hits.putObject("total"); t.put("value", total); t.put("relation", "eq") }
    }
    val arr = hits.putArray("hits")
    docs.foreach { d =>
      val h = arr.addObject()
      if (d != null) h.set[ObjectNode]("_source", d) // null = `_source: false` hit
    }
    mapper.writeValueAsString(root)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val search = status == 200 && ex.getRequestMethod == "POST" &&
      ex.getRequestURI.getPath.contains("_search")
    val sent =
      if (search && truncateBudget.getAndUpdate(n => math.max(0, n - 1)) > 0) truncated(body)
      else body
    val bytes = sent.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
