package graft.sources.es

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The live-ES scroll source, driven end-to-end over a localhost stub
  * cluster — production `HttpTransport` + DSv2 plumbing, no fakes. */
class EsScrollSourceSpec extends SparkSpec {

  import spark.implicits._

  private val props =
    """{"id":{"type":"long"},"name":{"type":"keyword"},"ts":{"type":"date"},
      |"score":{"type":"float"},"tags":{"type":"keyword"}}""".stripMargin

  private def doc(i: Int): String =
    s"""{"id":$i,"name":"doc$i","ts":"2024-01-0${i % 9 + 1}T00:00:00",""" +
      s""""score":"$i.5","tags":["t$i","extra"]}"""

  private def withServer[T](
      docs: Seq[String] = (0 until 23).map(doc),
      indexName: String = "logs-2024.01",
      es6Totals: Boolean = false,
      legacyDocType: Boolean = false,
      totalHitsCap: Int = 10000)(f: StubEsServer => T): T = {
    val server = new StubEsServer(Map(indexName -> docs),
      Map(indexName -> props), es6Totals, legacyDocType, totalHitsCap)
    try f(server) finally server.close()
  }

  private def read(server: StubEsServer, extra: (String, String)*) =
    spark.read.format("graft-es")
      .option("es", server.url)
      .option("index", "logs-2024.01")
      .option("size", "5")
      .option("retries", "3")
      .option("retry_backoff_ms", "1")
      .options(extra.toMap)
      .load()

  test("end-to-end: mapping-inferred schema, paged scroll, in-reader coercion") {
    withServer() { server =>
      val df = read(server)
      assert(df.schema("id").dataType == LongType)
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.schema("score").dataType == FloatType)
      val rows = df.select($"id", $"name", $"score", $"tags").collect()
      assert(rows.length == 23)
      val byId = rows.map(r => r.getLong(0) -> r).toMap
      assert(byId(7).getString(1) == "doc7")
      assert(byId(7).getFloat(2) == 7.5f)        // "7.5" string -> float
      assert(byId(7).getString(3) == "t7")       // list -> first element (T2)
      // 23 docs at size 5 = 5 pages + the empty terminator
      val scrolls = server.requests.asScala.count(r =>
        r._1 == "POST" && r._2 == "/_search/scroll")
      assert(scrolls >= 4, s"expected paged scroll, saw $scrolls scroll calls")
    }
  }

  test("ES6 compat: bare-int hits.total and legacy doc-type mapping") {
    withServer(es6Totals = true, legacyDocType = true) { server =>
      val df = read(server)
      assert(df.schema("id").dataType == LongType) // mapping via legacy doc type
      assert(df.count() == 23)                     // total parsed as bare int
    }
  }

  test("sliced scroll: one partition per slice, rows exactly once") {
    withServer() { server =>
      val df = read(server, "slices" -> "4")
      assert(df.rdd.getNumPartitions == 4)
      val ids = df.select($"id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 23L), "slices must partition, not duplicate")
      val sliceIds = server.searchRequests.flatMap { case (_, _, body) =>
        "\"slice\":\\{\"id\":(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toInt)
      }
      assert(sliceIds.sorted == Seq(0, 1, 2, 3),
        "each partition must send its own slice clause")
    }
  }

  test("retry-on-flap: transient 503s retried with backoff, then success") {
    withServer() { server =>
      server.failNext(2)
      assert(read(server).count() == 23)
    }
  }

  test("retry exhaustion: persistent failure surfaces after the attempts budget") {
    withServer() { server =>
      server.failNext(1000)
      val e = intercept[Exception] { read(server, "retries" -> "2").count() }
      def transient(t: Throwable): Boolean =
        if (t == null) false
        else if (t.isInstanceOf[EsHttpError]) true
        else transient(t.getCause)
      assert(transient(e), s"expected EsHttpError in cause chain, got $e")
    }
  }

  test("projection pushdown reaches the wire as the _source include list") {
    withServer() { server =>
      val df = read(server).select($"name")
      assert(df.collect().map(_.getString(0)).sorted.head == "doc0")
      val sourceLists = server.searchRequests.map(_._3)
        .filter(_.contains("\"_source\""))
      assert(sourceLists.nonEmpty, "search body must carry _source")
      assert(sourceLists.forall(b =>
        b.contains("\"_source\":[\"name\"]") && !b.contains("\"id\"")),
        s"only the projected field may ride the wire: $sourceLists")
    }
  }

  test("count(*) pushes completely: one size-0 probe, no documents move") {
    withServer() { server =>
      assert(read(server).count() == 23)
      val searches = server.searchRequests
      assert(searches.size == 1, s"expected one count probe, got $searches")
      val body = searches.head._3
      assert(body.contains("\"size\":0"), body)
      assert(body.contains("\"track_total_hits\":true"), body)
      assert(!searches.head._2.contains("scroll="), "count must not scroll")
    }
  }

  test("non-pushable column-free agg keeps the scan path and suppresses _source") {
    withServer() { server =>
      // sum(lit(1)) is not a CountStar, so the aggregate is refused and
      // the scroll runs with an empty projection — _source:false on the
      // wire, hit envelopes only
      val n = read(server).agg(sum(lit(1))).as[Long].head()
      assert(n == 23)
      val bodies = server.searchRequests.map(_._3)
      assert(bodies.exists(_.contains("\"_source\":false")),
        s"empty projection must ship _source:false, got: $bodies")
    }
  }

  test("filtered count: residual filter blocks the count probe, rows re-checked") {
    withServer() { server =>
      assert(read(server).filter($"id" >= 3).count() == 20)
      assert(server.searchRequests.forall(r => !r._3.contains("track_total_hits")),
        "a filtered count must not use the size-0 probe")
    }
  }

  test("filter pushdown: numeric predicates become a query_string clause") {
    withServer() { server =>
      val df = read(server).filter($"id" >= 10 && $"id" < 13).select($"id")
      // the stub does not evaluate queries — Spark's residual re-check
      // must still produce the right rows
      assert(df.as[Long].collect().sorted.toSeq == Seq(10L, 11L, 12L))
      val body = server.searchRequests.head._3
      assert(body.contains("query_string"), s"expected wire query in: $body")
      assert(body.contains("id:[10 TO *]") && body.contains("id:{* TO 13}"), body)
    }
  }

  test("user query composes with pushed filters on the wire") {
    withServer() { server =>
      read(server, "query" -> "name:doc*").filter($"id" === 3).collect()
      val body = server.searchRequests.head._3
      assert(body.contains("(name:doc*) AND"), body)
      assert(body.contains("id:3"), body)
    }
  }

  test("scroll context cleared on completion") {
    withServer() { server =>
      read(server).collect()
      assert(server.clearedScrolls.asScala.nonEmpty,
        "reader must DELETE its scroll id on close")
    }
  }

  test("empty index: zero rows, no crash (reference logs 'No records found')") {
    withServer(docs = Seq.empty) { server =>
      assert(read(server).count() == 0)
    }
  }

  test("EsCatalog: pattern resolution, mapping schema, scroll load") {
    val docs = (0 until 4).map(doc)
    val server = new StubEsServer(
      Map("logs-2024.01" -> docs, "logs-2024.02" -> docs, "other" -> docs),
      Map("logs-2024.01" -> props, "logs-2024.02" -> props, "other" -> props))
    try {
      val cat = EsCatalog(
        EsHttpConfig(baseUrl = server.url),
        readOptions = Map("size" -> "3", "retries" -> "2", "retry_backoff_ms" -> "1"))
      assert(cat.listTables("logs-*") == Seq("logs-2024.01", "logs-2024.02"))
      assert(cat.tableSchema(spark, "logs-2024.01")("ts").dataType == TimestampType)
      assert(cat.load(spark, "logs-2024.02").count() == 4)
    } finally server.close()
  }

  test("DumpJob over the live source: stub cluster -> parquet, per-index files") {
    val docs = (0 until 9).map(doc)
    val server = new StubEsServer(
      Map("logs-2024.01" -> (0 until 23).map(doc), "logs-2024.02" -> docs),
      Map("logs-2024.01" -> props, "logs-2024.02" -> props))
    try {
      val out = java.nio.file.Files.createTempDirectory("es_dump").toString
      val cat = EsCatalog(EsHttpConfig(baseUrl = server.url),
        readOptions = Map("size" -> "7", "retries" -> "2", "retry_backoff_ms" -> "1"))
      val results = graft.DumpJob.run(spark, cat, out,
        graft.DumpJob.Config(pattern = "logs-*"))
      val written = results.collect { case w: graft.DumpJob.Written => w }
      assert(written.map(_.table) == Seq("logs-2024.01", "logs-2024.02"),
        s"expected both indices written, got $results")
      val back = spark.read.parquet(written.head.files: _*)
      assert(back.count() == 23)
      assert(back.schema("ts").dataType == TimestampType) // mapping-typed dump
    } finally server.close()
  }

  /** A cut body fails on the parser's end-of-input error, not elsewhere. */
  private def cutBody(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[com.fasterxml.jackson.core.io.JsonEOFException] ||
      cutBody(t.getCause))

  test("truncated page: the table fails whole, no file shows, the others are written") {
    val server = new StubEsServer(
      Map("logs-2024.01" -> (0 until 23).map(doc), "logs-2024.02" -> (0 until 9).map(doc)),
      Map("logs-2024.01" -> props, "logs-2024.02" -> props))
    try {
      val out = java.nio.file.Files.createTempDirectory("es_cut")
      val cat = EsCatalog(EsHttpConfig(baseUrl = server.url),
        readOptions = Map("size" -> "7", "retries" -> "2", "retry_backoff_ms" -> "1"))
      // the first search of the run is the first page of logs-2024.01
      server.truncateNext(1)
      val results = graft.DumpJob.run(spark, cat, out.toString,
        graft.DumpJob.Config(pattern = "logs-*"))
      assert(results.map(r => r.table -> r.getClass.getSimpleName) ==
        Seq("logs-2024.01" -> "Failed", "logs-2024.02" -> "Written"), results)
      results.collect { case f: graft.DumpJob.Failed => assert(cutBody(f.error), f.error) }
      val visible = java.nio.file.Files.walk(out).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
      assert(!visible.exists(_.startsWith("logs-2024.01")), visible)
      assert(visible.exists(_.startsWith("logs-2024.02")), visible)
    } finally server.close()
  }

  test("truncated page: a read throws rather than returning a short count") {
    withServer() { server =>
      server.truncateNext(1) // the count(*) probe
      assert(cutBody(intercept[Exception](read(server).count())))
      server.truncateNext(1) // the first scroll page (a filter keeps the scan path)
      assert(cutBody(intercept[Exception](read(server).filter($"id" >= 0).count())))
      server.truncateNext(1) // a PIT page
      assert(cutBody(intercept[Exception](
        read(server, "mode" -> "pit").filter($"id" >= 0).count())))
      assert(read(server).filter($"id" >= 0).count() == 23) // budget spent: whole again
    }
  }

  private def pushedScan(df: org.apache.spark.sql.DataFrame): EsScan =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[EsScan]
    }.head

  test("TopN pushdown: orderBy+limit is ONE plain search, sort+size on the wire") {
    withServer() { server =>
      val df = read(server).orderBy($"id".desc).limit(5).select($"id")
      // plan pin: the scan itself carries the pushed TopN
      val scan = pushedScan(df)
      assert(scan.pushedLimit.contains(5), "limit must reach the scan")
      assert(scan.pushedSort == Seq(EsApi.Sort("id", "desc", Some("_last"))),
        s"sort must reach the scan, got ${scan.pushedSort}")
      assert(df.as[Long].collect().toSeq == Seq(22L, 21L, 20L, 19L, 18L))
      // wire pin: exactly one search request, size=5, sort clause, and
      // NO scroll — the probe never walks the index
      val searches = server.searchRequests
      assert(searches.size == 1, s"expected one probe search, got $searches")
      val (_, uri, body) = searches.head
      assert(!uri.contains("scroll="), s"probe must not open a scroll: $uri")
      assert(body.contains("\"size\":5"), body)
      assert(body.contains("\"id\":{\"order\":\"desc\",\"missing\":\"_last\"}"), body)
      val scrolls = server.requests.asScala.count(r =>
        r._1 == "POST" && r._2 == "/_search/scroll")
      assert(scrolls == 0, "no scroll pages may follow a pushed TopN")
    }
  }

  test("TopN pushdown: NULLS FIRST maps to missing:_first") {
    withServer() { server =>
      read(server).orderBy($"score".asc_nulls_first).limit(3).collect()
      val body = server.searchRequests.head._3
      assert(body.contains("\"score\":{\"order\":\"asc\",\"missing\":\"_first\"}"), body)
    }
  }

  test("TopN on a string key is refused (text fields can't sort server-side)") {
    withServer() { server =>
      val df = read(server).orderBy($"name").limit(5)
      val scan = pushedScan(df)
      assert(scan.pushedSort.isEmpty && scan.pushedLimit.isEmpty,
        "string sort keys must keep the scroll path")
      assert(df.select($"name").as[String].collect().toSeq ==
        (0 until 23).map(i => s"doc$i").sorted.take(5))
    }
  }

  test("bare limit pushdown: one search of n hits, no scroll") {
    withServer() { server =>
      val df = read(server).limit(4)
      assert(pushedScan(df).pushedLimit.contains(4))
      assert(df.count() == 4)
      assert(server.searchRequests.size == 1)
      assert(server.searchRequests.head._3.contains("\"size\":4"))
      assert(!server.searchRequests.head._2.contains("scroll="))
    }
  }

  test("limit beyond the max result window stays on the scroll path") {
    withServer() { server =>
      val df = read(server).limit(20000)
      assert(pushedScan(df).pushedLimit.isEmpty,
        "a >10k limit must not become a from+size probe")
      assert(df.count() == 23) // scroll path still correct
    }
  }

  test("over-window limit still stops the scroll early (LocalLimit at the source)") {
    withServer() { server =>
      // shrink the window so a 12-row limit is 'too big to probe' at 23
      // docs: the scroll must page only until it has >=12 hits (size=5 ->
      // 3 pages), not walk the whole index
      val df = read(server, "max_result_window" -> "10").limit(12)
      val scan = pushedScan(df)
      assert(scan.pushedLimit.isEmpty && scan.scrollStop.contains(12))
      assert(df.count() == 12)
      val scrolls = server.requests.asScala.count(r =>
        r._1 == "POST" && r._2 == "/_search/scroll")
      assert(scrolls <= 2, s"slice must stop paging once it has 12 hits, saw $scrolls scroll calls")
    }
  }

  private def pitSearches(server: StubEsServer): Seq[(String, String, String)] =
    server.requests.asScala.toSeq.filter(r => r._1 == "POST" && r._2 == "/_search")

  test("PIT mode: pit + search_after walk == scroll dump, no scroll context") {
    withServer() { server =>
      val df = read(server, "mode" -> "pit")
      val ids = df.select($"id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 23L))
      // never touches the scroll API
      assert(server.requests.asScala.forall(r => !r._2.contains("scroll")),
        "pit mode must not open or page a scroll context")
      // 23 docs at size 5: 5 pages + empty terminator, all via /_search;
      // every page after the first carries the previous page's cursor
      val pages = pitSearches(server)
      assert(pages.size == 6, s"expected 6 PIT page fetches, got ${pages.size}")
      assert(!pages.head._3.contains("search_after"), pages.head._3)
      assert(pages.tail.forall(_._3.contains("search_after")),
        "every follow-up page must be keyed by search_after")
      assert(pages.forall(_._3.contains("\"_shard_doc\"")),
        "PIT pagination must sort with the _shard_doc tiebreak")
      // the context is closed on completion (the clear-scroll twin)
      assert(server.closedPits.asScala.nonEmpty, "reader must DELETE its PIT on close")
    }
  }

  test("PIT mode asks track_total_hits on the first page only (exact progress denominator)") {
    // lower the stub's total cap below the doc count: a reader that forgets
    // track_total_hits would see total=10/relation=gte instead of 23/eq
    withServer(totalHitsCap = 10) { server =>
      val df = read(server, "mode" -> "pit")
      assert(df.select($"id").as[Long].collect().length == 23)
      val pages = pitSearches(server)
      assert(pages.head._3.contains("\"track_total_hits\":true"),
        "first PIT page must request the exact total")
      assert(pages.tail.forall(!_._3.contains("track_total_hits")),
        "follow-up pages must not re-pay the exact-count traversal")
    }
  }

  test("capped totals parse as a gte lower bound, not the exact count") {
    val json = """{"pit_id":"p1","hits":{"total":{"value":10000,"relation":"gte"},"hits":[]}}"""
    val page = EsApi.parsePage(json)
    assert(page.total == 10000L && page.totalRelation.contains("gte"))
    val exact = EsApi.parsePage(
      """{"hits":{"total":{"value":23,"relation":"eq"},"hits":[]}}""")
    assert(exact.total == 23L && exact.totalRelation.contains("eq"))
    // ES6 bare-int totals are always exact and carry no relation
    val es6 = EsApi.parsePage("""{"hits":{"total":23,"hits":[]}}""")
    assert(es6.total == 23L && es6.totalRelation.isEmpty)
  }

  test("sliced PIT: one independent pit per slice, rows exactly once") {
    withServer() { server =>
      val df = read(server, "mode" -> "pit", "slices" -> "4")
      assert(df.rdd.getNumPartitions == 4)
      val ids = df.select($"id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 23L), "slices must partition, not duplicate")
      assert(server.closedPits.asScala.size == 4,
        "each slice opens and closes its own PIT")
    }
  }

  test("PIT flap resume: a mid-dump 503 retries the SAME cursor — no re-read") {
    withServer() { server =>
      server.failPitSearch(3) // 503 exactly the third page fetch
      val df = read(server, "mode" -> "pit")
      val ids = df.select($"id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 23L), "flap must lose or duplicate nothing")
      val pages = pitSearches(server)
      // 6 clean pages + the one flapped attempt
      assert(pages.size == 7, s"expected 6 pages + 1 flap, got ${pages.size}")
      // the retry re-sends the failed request verbatim: same search_after,
      // so the walk resumes from the last sort key instead of restarting
      // (the structural advantage over a server-side scroll context)
      assert(pages(2)._3 == pages(3)._3,
        s"retry must resume from the same cursor:\n${pages(2)._3}\n${pages(3)._3}")
      // each cursor was advanced exactly once: 5 distinct search_after
      // values across all requests (pages 2..6), none repeated twice+
      val cursors = pages.map(_._3).filter(_.contains("search_after"))
      assert(cursors.distinct.size == 5, s"got cursors: $cursors")
    }
  }

  test("PIT mode keeps the one-shot probe for pushed limits (no context at all)") {
    withServer() { server =>
      val df = read(server, "mode" -> "pit").limit(4)
      assert(pushedScan(df).pushedLimit.contains(4))
      assert(df.count() == 4)
      assert(server.requests.asScala.forall(r => !r._2.contains("_pit")),
        "a pushed-limit probe needs no PIT")
      assert(server.searchRequests.size == 1)
    }
  }

  test("PIT mode composes with projection + pushed filters on the wire") {
    withServer() { server =>
      val df = read(server, "mode" -> "pit")
        .filter($"id" >= 10 && $"id" < 13).select($"name")
      assert(df.as[String].collect().sorted.toSeq == Seq("doc10", "doc11", "doc12"))
      val body = pitSearches(server).head._3
      assert(body.contains("\"_source\":[\"name\",\"id\"]") ||
        body.contains("\"_source\":[\"id\",\"name\"]") ||
        body.contains("\"_source\":[\"name\"]"), body)
      assert(body.contains("query_string"), s"expected wire query in: $body")
    }
  }

  test("invalid mode option is rejected loudly") {
    withServer() { server =>
      val e = intercept[Exception] { read(server, "mode" -> "warp").collect() }
      def named(t: Throwable): Boolean =
        if (t == null) false
        else if (Option(t.getMessage).exists(_.contains("'warp'"))) true
        else named(t.getCause)
      assert(named(e), s"error must name the bad mode, got $e")
    }
  }

  test("EsQuery: conservative translation (partial And, all-or-nothing Or, no Not)") {
    assert(EsQuery.clause(EqualTo("a", 5)) == Some("a:5"))
    assert(EsQuery.clause(EqualTo("a", "s")).isEmpty) // strings stay residual
    assert(EsQuery.clause(IsNotNull("a")) == Some("_exists_:a"))
    assert(EsQuery.clause(And(EqualTo("a", 1), EqualTo("b", "s"))) == Some("a:1"))
    assert(EsQuery.clause(Or(EqualTo("a", 1), EqualTo("b", "s"))).isEmpty)
    assert(EsQuery.clause(Not(EqualTo("a", 1))).isEmpty)
    assert(EsQuery.combine(Some("q:x"), Seq(LessThan("a", 2))) ==
      Some("(q:x) AND a:{* TO 2}"))
  }

  test("EsApi: ES6 int total vs ES7 dict total; sort parsing") {
    val es7 = """{"_scroll_id":"s1","hits":{"total":{"value":9,"relation":"eq"},"hits":[]}}"""
    val es6 = """{"_scroll_id":"s1","hits":{"total":9,"hits":[{"_source":{"a":1}}]}}"""
    assert(EsApi.parsePage(es7).total == 9 && EsApi.parsePage(es7).hits.isEmpty)
    val p6 = EsApi.parsePage(es6)
    assert(p6.total == 9 && p6.hits.size == 1 && p6.scrollId.contains("s1"))
    assert(EsApi.parseSort("@timestamp:asc,id:desc") ==
      Seq(EsApi.Sort("@timestamp", "asc"), EsApi.Sort("id", "desc")))
  }

  test("EsTls: config surface (trust-all context builds; cert without key rejected)") {
    val ctx = EsTls.sslContext(EsHttpConfig(
      baseUrl = "https://example", verifyCerts = false))
    assert(ctx != null)
    intercept[IllegalArgumentException] {
      EsTls.sslContext(EsHttpConfig(baseUrl = "https://example",
        cert = Some("/tmp/c.pem")))
    }
  }
}
