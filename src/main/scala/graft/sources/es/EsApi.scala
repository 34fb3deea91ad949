package graft.sources.es

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

import graft.sources.jsonl.MapSource

/** The search/scroll wire protocol (reference dump-es-parquet:219-266):
  * request bodies built with Jackson (correct escaping by construction)
  * and one streaming walk over search responses, tolerant of the ES6/ES7
  * split — `hits.total` is a bare int on ES6 and `{"value": N,
  * "relation": …}` on ES7+/OpenSearch (reference :233-235).
  */
object EsApi {

  private val mapper = new ObjectMapper()

  /** One page of scroll/PIT results: the continuation id (scroll) or the
    * possibly-refreshed PIT id, the total hit count (from the first page;
    * -1 when the server omits it), its relation (`eq` = exact; `gte` =
    * ES7's default 10k-capped lower bound; None on ES6, which always
    * counts exactly), one decoded document per hit (`JsonNode` trees from
    * [[parsePage]], rows from [[readPage]]), and the last hit's `sort`
    * values — the `search_after` cursor for the next PIT page. */
  final case class Page[+H](scrollId: Option[String], total: Long, hits: Seq[H],
                            pitId: Option[String] = None,
                            lastSort: Option[JsonNode] = None,
                            totalRelation: Option[String] = None)

  /** A search response as `_source` trees. */
  def parsePage(json: String): Page[JsonNode] =
    walkPage(MapSource.json.createParser(json), json.take(200))(
      p => mapper.readTree[JsonNode](p), () => mapper.createObjectNode())

  /** A search response's bytes decoded straight into rows of `schema`,
    * one per hit, in one pass with no tree. */
  def readPage(body: Array[Byte], schema: StructType): Page[InternalRow] =
    walkPage(MapSource.json.createParser(body),
      new String(body, 0, math.min(body.length, 800), UTF_8).take(200))(
      p => MapSource.read(p, schema), () => MapSource.nulls(schema))

  /** The one walk over a search response. Reads `_scroll_id`, `pit_id`,
    * `hits.total` in both shapes (ES6 bare int, ES7+ `{value, relation}`)
    * and each hit's `sort`, in any key order; hands each hit's `_source`
    * value to `source`, which must consume it (`_source: false` hits have
    * none and count as `absent` documents). The whole response is read
    * before this returns, so a body cut anywhere — mid-hit included —
    * throws the parser's end-of-input error instead of passing for the
    * end of `hits`. Duplicate keys: the last one wins, as in a tree. */
  private def walkPage[H](p: JsonParser, head: => String)(
      source: JsonParser => H, absent: () => H): Page[H] = {
    var scrollId, pitId, relation: Option[String] = None
    var total = -1L
    var sawHits = false
    val hits = Vector.newBuilder[H]
    var lastSort: Option[JsonNode] = None
    def text(): Option[String] = Some(mapper.readTree[JsonNode](p).asText())
    def fields(onField: String => Unit): Unit = {
      var name = p.nextFieldName()
      while (name != null) { p.nextToken(); onField(name); name = p.nextFieldName() }
      MapSource.endOf(p, JsonToken.END_OBJECT)
    }
    def hit(): Unit = {
      var doc: Option[H] = None
      var sort: Option[JsonNode] = None
      if (p.currentToken() == JsonToken.START_OBJECT) fields {
        case "_source" => doc = Some(source(p))
        case "sort"    => sort = Some(mapper.readTree[JsonNode](p))
        case _         => p.skipChildren()
      } else p.skipChildren()
      hits += doc.getOrElse(absent())
      lastSort = sort
    }
    def hitsObject(): Unit = {
      sawHits = true
      total = -1L; relation = None; hits.clear(); lastSort = None
      if (p.currentToken() == JsonToken.START_OBJECT) fields {
        case "total" =>
          val t = mapper.readTree[JsonNode](p)
          if (t.isObject) { // ES7+/OS dict
            total = Option(t.get("value")).fold(-1L)(_.asLong())
            relation = Option(t.get("relation")).map(_.asText())
          } else { total = t.asLong(); relation = None } // ES6 bare int
        case "hits" =>
          hits.clear(); lastSort = None
          if (p.currentToken() == JsonToken.START_ARRAY) {
            var t = p.nextToken()
            while (t != JsonToken.END_ARRAY) {
              if (t == null) MapSource.endOf(p, JsonToken.END_ARRAY)
              hit()
              t = p.nextToken()
            }
          } else p.skipChildren()
        case _ => p.skipChildren()
      } else p.skipChildren()
    }
    try {
      if (p.nextToken() == JsonToken.START_OBJECT) fields {
        case "_scroll_id" => scrollId = text()
        case "pit_id"     => pitId = text()
        case "hits"       => hitsObject()
        case _            => p.skipChildren()
      }
    } finally p.close()
    // a 200 that isn't a search response (proxy page, error body) should
    // name the problem, not NPE
    if (!sawHits)
      throw new IllegalArgumentException(s"unexpected response (no 'hits'): $head")
    Page(scrollId, total, hits.result(), pitId, lastSort, relation)
  }

  /** One wire sort clause; `missing` is ES's null placement
    * (`_first`/`_last`) — set when a pushed-down Spark TopN carries an
    * explicit null ordering, absent for the CLI `--sort` path. */
  final case class Sort(field: String, order: String, missing: Option[String] = None)

  /** `"field:asc,other:desc"` — the reference's `--sort` shape (:380). */
  def parseSort(sort: String): Seq[Sort] =
    sort.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { s =>
      s.split(":", 2) match {
        case Array(f, d) => Sort(f, if (d == "desc") "desc" else "asc")
        case Array(f)    => Sort(f, "asc")
      }
    }.toSeq

  /** Initial search body: size, sort, query_string (when present), _source
    * projection (when pruned), the slice clause for sliced scrolls, and an
    * optional structured `(gt, lte]` range filter (the tail source's
    * per-microbatch window — structured rather than query_string so
    * numeric semantics don't pass through the Lucene parser). */
  def searchBody(size: Int, sort: Seq[Sort], query: Option[String],
                 sourceFields: Option[Seq[String]],
                 slice: Option[(Int, Int)],
                 range: Option[(String, Double, Double)] = None,
                 pit: Option[(String, String)] = None,
                 searchAfter: Option[JsonNode] = None,
                 trackTotal: Boolean = false): String = {
    val body = mapper.createObjectNode()
    body.put("size", size)
    // ES7+ caps hits.total at 10k (`relation: gte`) unless asked to count
    // exactly; set on requests whose caller reads the total (the PIT
    // walk's first page) and left off everywhere else — exact counting
    // costs the server a full match traversal per request
    if (trackTotal) body.put("track_total_hits", true)
    if (sort.nonEmpty) {
      val arr = body.putArray("sort")
      sort.foreach { s =>
        if (s.field == "_doc" && s.order == "asc" && s.missing.isEmpty) arr.add("_doc")
        else {
          val node = arr.addObject().putObject(s.field)
          node.put("order", s.order)
          s.missing.foreach(node.put("missing", _))
        }
      }
    }
    def rangeNode(parent: ObjectNode, f: String, gt: Double, lte: Double): Unit = {
      val r = parent.putObject("range").putObject(f)
      r.put("gt", gt); r.put("lte", lte)
    }
    (query, range) match {
      case (None, None)    => ()
      case (Some(q), None) =>
        body.putObject("query").putObject("query_string").put("query", q)
      case (None, Some((f, gt, lte))) =>
        rangeNode(body.putObject("query"), f, gt, lte)
      case (Some(q), Some((f, gt, lte))) =>
        val bool = body.putObject("query").putObject("bool")
        bool.putArray("must").addObject()
          .putObject("query_string").put("query", q)
        rangeNode(bool.putArray("filter").addObject(), f, gt, lte)
    }
    sourceFields.foreach {
      // empty projection (count(*)-style scan): suppress _source entirely
      // instead of shipping every document body over the wire
      case Nil => body.put("_source", false)
      case fs =>
        val arr = body.putArray("_source")
        fs.foreach(arr.add)
    }
    slice.foreach { case (id, max) =>
      val s = body.putObject("slice"); s.put("id", id); s.put("max", max)
    }
    // PIT search targets /_search (no index — the PIT id names the view);
    // keep_alive rides every request so the context outlives slow pages
    pit.foreach { case (id, keepAlive) =>
      val p = body.putObject("pit")
      p.put("id", id); p.put("keep_alive", keepAlive)
    }
    // the previous page's last-hit sort values — the client-side cursor
    // that replaces the server-side scroll context
    searchAfter.foreach(sa => body.set[ObjectNode]("search_after", sa.deepCopy[JsonNode]()))
    mapper.writeValueAsString(body)
  }

  /** size-0 count probe: `track_total_hits` forces an exact total on
    * ES7+ (which otherwise caps the count at 10k); ES6 always counts. */
  def countBody(query: Option[String]): String = {
    val body = mapper.createObjectNode()
    body.put("size", 0)
    body.put("track_total_hits", true)
    query.foreach(q =>
      body.putObject("query").putObject("query_string").put("query", q))
    mapper.writeValueAsString(body)
  }

  /** size-0 max aggregation over `field` — the tail source's one-request
    * latestOffset probe. */
  def maxAggBody(field: String): String = {
    val body = mapper.createObjectNode()
    body.put("size", 0)
    body.putObject("aggs").putObject("m").putObject("max").put("field", field)
    mapper.writeValueAsString(body)
  }

  /** The max-agg value; None when the index has no documents (ES reports
    * `"value": null`). Kept as the double ES itself returns — rounding in
    * either direction loses documents when the tail field is fractional
    * (a truncated offset never reaches the newest doc; a rounded-up one
    * skips past docs arriving in the gap). Precision is bounded by the
    * max agg's own double representation: integral tail fields above
    * 2^53 (e.g. snowflake ids) are not exactly representable on the
    * wire, which is an ES-protocol limit — use a sub-2^53 ingest
    * sequence where that matters. */
  def parseMaxAgg(json: String): Option[Double] =
    Option(mapper.readTree(json).at("/aggregations/m/value"))
      .filterNot(v => v.isMissingNode || v.isNull)
      .map(_.asDouble())

  def scrollBody(scroll: String, scrollId: String): String = {
    val body = mapper.createObjectNode()
    body.put("scroll", scroll)
    body.put("scroll_id", scrollId)
    mapper.writeValueAsString(body)
  }

  def clearScrollBody(scrollId: String): String = {
    val body = mapper.createObjectNode()
    body.putArray("scroll_id").add(scrollId)
    mapper.writeValueAsString(body)
  }

  /** The PIT id from a `POST /{index}/_pit?keep_alive=…` response. */
  def parsePitId(json: String): String =
    Option(mapper.readTree(json).get("id")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException(
        s"unexpected _pit response (no 'id'): ${json.take(200)}"))

  /** `DELETE /_pit` body closing a point-in-time context. */
  def deletePitBody(pitId: String): String = {
    val body = mapper.createObjectNode()
    body.put("id", pitId)
    mapper.writeValueAsString(body)
  }

  /** Index names from an `indices.get_settings` response — the reference's
    * index-pattern resolution (S1, dump-es-parquet:342-350): the response
    * object is keyed by the concrete indices the pattern matched. */
  def parseIndexNames(settingsJson: String): Seq[String] =
    mapper.readTree(settingsJson).fieldNames().asScala.toSeq.sorted

  /** The `get_mapping` response key for `index`, tolerating servers that
    * key the response by a resolved concrete name (alias/pattern cases):
    * exact match first, else the single entry, else fail loudly. */
  def mappingKey(responseJson: String, index: String): String = {
    val keys = mapper.readTree(responseJson).fieldNames().asScala.toSeq
    if (keys.contains(index)) index
    else if (keys.size == 1) keys.head
    else throw new IllegalArgumentException(
      s"mapping response has ${keys.size} indices for '$index': ${keys.mkString(",")}")
  }
}
