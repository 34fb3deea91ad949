package graft.sources.es

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{EsMapping, Retry}
import graft.sources.jsonl.RowFilter

/** DSv2 source over a live Elasticsearch/OpenSearch cluster — the
  * reference's entire source side (dump-es-parquet:219-266) re-expressed
  * in Spark's execution model:
  *
  *  - one `InputPartition` per scroll slice (`slices` option): each
  *    executor drives an independent `search?scroll` + `scroll` loop with
  *    `"slice": {id, max}`, so read parallelism is horizontal across the
  *    cluster instead of the reference's single sequential scroll;
  *  - schema comes from the index mapping (`EsMapping`, S2) unless the
  *    caller supplies one; document→row coercion (`MapSource`, T1/T2)
  *    runs inside the partition reader against the pruned schema;
  *  - projection pushdown reaches the wire: pruned columns become the
  *    `_source` include list, so unprojected fields never leave the
  *    cluster (P2); translatable filters become a query_string clause
  *    (P1, EsQuery) and every filter stays residual for Spark to re-check;
  *  - every page fetch is wrapped in Retry.withBackoff (S4) with the
  *    reference's transient-transport-error semantics (:227-230), and the
  *    scroll context is cleared on close.
  *
  * Usage:
  * {{{
  * spark.read.format("graft-es")
  *   .option("es", "http://localhost:9200")   // reference --es
  *   .option("index", "logs-2024.01")         // concrete index (see EsCatalog)
  *   .option("slices", 8)                     // scroll slice parallelism
  *   .option("size", 500)                     // reference --size
  *   .option("scroll", "1h")                  // reference --scroll
  *   .option("timeout", 60)                   // reference --timeout
  *   .option("query", "severity:ERROR")       // reference --query
  *   .load()
  * }}}
  *
  * At 100 TB: `slices` should be sized to the index's shard count (ES
  * caps useful slice parallelism at shards); each slice streams pages of
  * `size` documents with O(size) reader memory, so executor memory is
  * independent of index size.
  */
class EsScrollSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-es"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = EsScanConfig.fromOptions(options.asScala.toMap)
    EsScrollSource.fetchSchema(conf)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new EsTable(schema, EsScanConfig.fromOptions(properties.asScala.toMap))
}

object EsScrollSource {
  private[es] val log = org.slf4j.LoggerFactory.getLogger(classOf[EsScrollSource])

  /** S2: index mapping → StructType, with the unhandled-type warnings the
    * reference logs (:107-109). Retried like every catalog call (:186-194). */
  private[es] def fetchSchema(conf: EsScanConfig): StructType = {
    val transport = conf.transportFactory.open()
    try {
      val resp = Retry.withBackoff(conf.retries, conf.retryBackoffMs,
        EsHttpError.transient) {
        transport.get(s"/${conf.index}/_mapping")
      }
      val key = EsApi.mappingKey(resp, conf.index)
      val (schema, warnings) = EsMapping.fromMappingResponse(resp, key)
      warnings.foreach(w => log.warn(s"${conf.index}: $w"))
      schema
    } finally transport.close()
  }
}

/** Everything a partition reader needs, as a small serializable value. */
private[es] final case class EsScanConfig(
    http: EsHttpConfig,
    index: String,
    query: Option[String],
    size: Int,
    scroll: String,
    slices: Int,
    sort: Seq[EsApi.Sort],
    retries: Int,
    retryBackoffMs: Long,
    tailField: Option[String] = None,
    startFrom: Long = 0L,
    maxResultWindow: Int = 10000,
    mode: String = "scroll") {
  def transportFactory: EsTransportFactory = HttpTransportFactory(http)
}

private[es] object EsScanConfig {
  /** Option names mirror the reference CLI (dump-es-parquet:372-382);
    * `slices`/`retries`/`retry_backoff_ms` are the Spark-side additions. */
  def fromOptions(opts: Map[String, String]): EsScanConfig = {
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    EsScanConfig(
      http = EsHttpConfig(
        baseUrl = o.getOrElse("es", "http://localhost:9200"),
        timeoutSec = o.get("timeout").map(_.toInt).getOrElse(60),
        cert = o.get("cert"),
        key = o.get("key"),
        caPath = o.get("capath"),
        verifyCerts = o.get("verify_certs").forall(_.toBoolean)),
      index = o.getOrElse("index",
        throw new IllegalArgumentException("graft-es requires option 'index'")),
      query = o.get("query").filter(_.nonEmpty),
      size = o.get("size").map(_.toInt).getOrElse(500),
      scroll = o.getOrElse("scroll", "1h"),
      slices = o.get("slices").map(_.toInt).getOrElse(1),
      // default sort: _doc — the efficient scroll order; pass
      // sort=@timestamp:asc for the reference CLI's default (:379-380)
      sort = EsApi.parseSort(o.getOrElse("sort", "_doc:asc")),
      retries = o.get("retries").map(_.toInt).getOrElse(5),
      retryBackoffMs = o.get("retry_backoff_ms").map(_.toLong)
        .getOrElse(Retry.ReferenceBackoffMs),
      tailField = o.get("tail_field").filter(_.nonEmpty),
      startFrom = o.get("start_from").map(_.toLong).getOrElse(0L),
      // mirrors the index.max_result_window setting: the cap on from+size
      // probes; raise it only if the index raised it too
      maxResultWindow = o.get("max_result_window").map(_.toInt).getOrElse(10000),
      // scroll = the reference's API (dump-es-parquet:259-266); pit = the
      // ES 7.10+ replacement (point-in-time + search_after) whose cursor
      // lives client-side, so a mid-dump retry re-probes from the last
      // sort key instead of restarting the walk
      mode = o.getOrElse("mode", "scroll") match {
        case m @ ("scroll" | "pit") => m
        case other => throw new IllegalArgumentException(
          s"graft-es mode must be 'scroll' or 'pit', got '$other'")
      })
  }
}

private[es] class EsTable(schema: StructType, conf: EsScanConfig)
    extends Table with SupportsRead {
  override def name(): String = s"graft_es(${conf.http.base}/${conf.index})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EsScanBuilder(schema, conf)
}

private[es] class EsScanBuilder(full: StructType, conf: EsScanConfig)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topSort: Seq[EsApi.Sort] = Nil
  private var countStar = false
  private var scrollStop: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** All filters stay residual (Spark re-checks above the scan); the
    * translatable subset additionally rides the wire as query_string. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => RowFilter.supported(f) || EsQuery.clause(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** P3+limit — the reference's probe shape (`sort` + `size` on one
    * search, dump-es-parquet:221-232): a bare `.limit(n)` becomes one
    * plain search of n hits instead of scrolling the index. Spark only
    * offers the push when no residual Filter sits between the limit and
    * the scan, so the in-reader RowFilter can't starve the limit. Bounded
    * by ES's max result window; larger limits keep the scroll path. */
  override def pushLimit(l: Int): Boolean =
    if (l > conf.maxResultWindow) {
      // too big for a from+size probe — but each scroll slice can still
      // stop paging once it has l hits (LocalLimit at the source). Spark
      // is told the push didn't happen and applies its own limit on top.
      scrollStop = Some(l)
      false
    } else { limit = Some(l); true }

  /** `.orderBy(field).limit(n)`: the sort rides the wire too, with
    * Spark's null placement mapped to ES `missing`. Partial push — Spark
    * re-sorts the ≤n returned rows. Only numeric/date/boolean keys are
    * translated: a StringType column may be `text`-mapped (ES refuses to
    * sort it — fielddata disabled) and ES/Lucene keyword order need not
    * match Spark's UTF8 collation for the SET selection to be right, so
    * strings keep the scroll path. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    if (l > conf.maxResultWindow) return false
    val translated = orders.toSeq.map(EsScanBuilder.wireSort(full, _))
    if (translated.contains(None) || translated.isEmpty) false
    else { topSort = translated.flatten; limit = Some(l); true }
  }
  override def isPartiallyPushed(): Boolean = true

  /** Global `count(*)` pushes completely: ONE size-0 search with
    * `track_total_hits` answers it without a single document leaving the
    * cluster. Spark only offers the push when no residual Filter sits
    * between the aggregate and the scan, so the count can't silently
    * ignore an un-pushed predicate; the user-level `query` option rides
    * the count body like every other request. Anything else (group-by,
    * count(col), other aggregates) is refused and planned normally. */
  private def isBareCountStar(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions().isEmpty && agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    isBareCountStar(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (isBareCountStar(agg)) { countStar = true; true } else false

  override def build(): Scan =
    if (countStar) new EsScan(EsScanBuilder.CountSchema, conf, pushed,
      countStar = true)
    else new EsScan(required, conf, pushed, limit, topSort, scrollStop)
}

private[es] object EsScanBuilder {
  /** Output schema of a completely-pushed count(*). */
  val CountSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("count(*)",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Spark SortOrder → ES wire sort, when the key is a plain top-level
    * field of a type ES sorts the way Spark does (numeric/timestamp/date/
    * boolean). Strings (text-vs-keyword ambiguity, collation), nested and
    * computed keys are not translated — push refused, scroll path keeps
    * correctness. Residual caveat shared with the reference's first-of-
    * list compromise: a scalar-mapped field that actually holds arrays
    * sorts by ES min/max-of-values but compares by first element in
    * Spark. */
  def wireSort(schema: StructType,
               o: org.apache.spark.sql.connector.expressions.SortOrder): Option[EsApi.Sort] = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    import org.apache.spark.sql.types._
    o.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        val name = nr.fieldNames()(0)
        val sortable = schema.fields.find(_.name == name).map(_.dataType).exists {
          case _: NumericType | TimestampType | DateType | BooleanType => true
          case _ => false
        }
        if (!sortable) None
        else {
          val dir = if (o.direction() == SortDirection.ASCENDING) "asc" else "desc"
          val missing =
            if (o.nullOrdering() == NullOrdering.NULLS_FIRST) "_first" else "_last"
          Some(EsApi.Sort(name, dir, Some(missing)))
        }
      case _ => None
    }
  }
}

private[es] class EsScan(required: StructType, conf: EsScanConfig,
                         pushed: Array[Filter],
                         val pushedLimit: Option[Int] = None,
                         val pushedSort: Seq[EsApi.Sort] = Nil,
                         val scrollStop: Option[Int] = None,
                         val countStar: Boolean = false)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Pushdown state in `.explain` output, like FileSourceScan's
    * PushedFilters line. */
  override def description(): String = {
    val parts = Seq(
      s"index=${conf.index}",
      s"mode=${conf.mode}",
      s"PushedFilters=[${pushed.mkString(", ")}]") ++
      pushedLimit.map(l => s"PushedLimit=$l") ++
      (if (pushedSort.nonEmpty)
        Seq(s"PushedSort=[${pushedSort.map(s => s"${s.field}:${s.order}").mkString(", ")}]")
      else Nil) ++
      (if (countStar) Seq("PushedAggregate=count(*)") else Nil)
    s"graft-es ${parts.mkString(" ")}"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val wireQuery = EsQuery.combine(conf.query, pushed.toIndexedSeq)
    // empty (count(*)-style) projection → Some(Nil) → `_source: false`:
    // hit envelopes page through, document bodies never leave the cluster
    val fields = Some(required.fieldNames.toSeq)
    if (countStar)
      // completely-pushed count(*): one size-0 request, one row back
      Array(EsPartition(conf, wireQuery, None, slice = None, countOnly = true))
    else pushedLimit match {
      case Some(l) =>
        // probe shape: ONE plain search, sort+size on the wire, no scroll
        // context, no slices — q02-shaped queries cost one round-trip
        val sort = if (pushedSort.nonEmpty) pushedSort else conf.sort
        Array(EsPartition(conf.copy(size = l, sort = sort), wireQuery,
          fields, slice = None, limit = Some(l)))
      case None =>
        // sliced scroll: each partition is an independent server-side
        // slice. slices=1 sends no slice clause (the reference's shape).
        (0 until conf.slices).map { i =>
          val slice = if (conf.slices > 1) Some((i, conf.slices)) else None
          EsPartition(conf, wireQuery, fields, slice,
            stopAfter = scrollStop): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EsReaderFactory(required, pushed)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new EsTailStream(required, conf, pushed)
}

private[es] final case class EsPartition(
    conf: EsScanConfig,
    wireQuery: Option[String],
    sourceFields: Option[Seq[String]],
    slice: Option[(Int, Int)],
    range: Option[(String, Double, Double)] = None,
    limit: Option[Int] = None,
    countOnly: Boolean = false,
    stopAfter: Option[Int] = None) extends InputPartition

private[es] class EsReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EsPartition]
    if (p.countOnly) new EsCountReader(p)
    // pushed-limit probes are a single plain search — no walk context
    // needed, so they take the scroll reader's one-shot path in any mode
    else if (p.conf.mode == "pit" && p.limit.isEmpty)
      new EsPitPartitionReader(required, pushed, p)
    else new EsScrollPartitionReader(required, pushed, p)
  }
}

/** One size-0 request answers a completely-pushed count(*). */
private[es] class EsCountReader(part: EsPartition)
    extends PartitionReader[InternalRow] {
  private val conf = part.conf
  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean =
    if (done) false
    else {
      val transport = conf.transportFactory.open()
      try {
        val p = EsApi.parsePage(
          Retry.withBackoff(conf.retries, conf.retryBackoffMs, EsHttpError.transient) {
            transport.post(s"/${conf.index}/_search",
              EsApi.countBody(part.wireQuery))
          })
        if (p.total < 0) throw new IllegalStateException(
          s"${conf.index}: server omitted hits.total on a count probe")
        row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](p.total))
      } finally transport.close()
      done = true
      true
    }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Drives one slice's search+scroll loop (reference :219-266), emitting
  * coerced rows. Memory is one page of documents; the scroll id is the
  * only cross-page state. */
private[es] class EsScrollPartitionReader(
    required: StructType, pushed: Array[Filter], part: EsPartition)
    extends PartitionReader[InternalRow] {

  private val conf = part.conf
  private val transport = conf.transportFactory.open()
  private val rowFilter = RowFilter(required, pushed.filter(RowFilter.supported))
  private val sliceTag = part.slice.map { case (i, m) => s" slice $i/$m" }.getOrElse("")

  private var scrollId: Option[String] = None
  private var page: Iterator[InternalRow] = Iterator.empty
  private var exhausted = false
  private var total = -1L
  private var readHits = 0L
  private var pagesFetched = 0
  private var current: InternalRow = _

  // the decode stays outside the retry: re-posting a scroll id is not
  // idempotent, so a body that fails to decode fails the slice
  private def fetch(op: => Array[Byte]): EsApi.Page[InternalRow] =
    EsApi.readPage(Retry.withBackoff(conf.retries, conf.retryBackoffMs,
      EsHttpError.transient,
      onRetry = (left, e) => EsScrollSource.log.warn(
        s"${conf.index}$sliceTag: transient source error " +
          s"($left attempts left): ${e.getMessage}"))(op), required)

  private def nextPage(): Unit = {
    // pushed limit = one-shot probe search: a single page is the whole
    // result; never open or follow a scroll context
    if (part.limit.isDefined && pagesFetched > 0) { exhausted = true; return }
    // un-pushed over-window limit: this slice already has enough hits for
    // any global cut — stop paging (LocalLimit at the source). Only set
    // when no filters ride the reader, so hits == emitted rows.
    if (part.stopAfter.exists(readHits >= _)) { exhausted = true; return }
    val p = scrollId match {
      case None =>
        // initial search opens the scroll context (reference :219-226)
        // — unless a limit was pushed, in which case it's a plain search
        val scrollParam =
          if (part.limit.isDefined) "" else s"?scroll=${conf.scroll}"
        val body = EsApi.searchBody(conf.size, conf.sort, part.wireQuery,
          part.sourceFields, part.slice, part.range)
        fetch(transport.postBytes(s"/${conf.index}/_search$scrollParam", body))
      case Some(id) =>
        fetch(transport.postBytes("/_search/scroll",
          EsApi.scrollBody(conf.scroll, id)))
    }
    if (pagesFetched == 0) {
      total = p.total
      if (total == 0) EsScrollSource.log.warn(
        s"${conf.index}$sliceTag: no records found") // reference :238-240
    }
    pagesFetched += 1
    if (part.limit.isEmpty) scrollId = p.scrollId.orElse(scrollId)
    if (p.hits.isEmpty) exhausted = true
    else {
      readHits += p.hits.size
      EsScrollSource.log.info(
        s"${conf.index}$sliceTag: read $readHits/$total records") // :257
      page = p.hits.iterator
    }
  }

  @annotation.tailrec
  final override def next(): Boolean =
    if (page.hasNext) {
      val row = page.next()
      if (rowFilter(row)) { current = row; true } else next()
    } else if (exhausted) false
    else { nextPage(); next() }

  override def get(): InternalRow = current

  override def close(): Unit = {
    try scrollId.foreach { id =>
      transport.delete("/_search/scroll", EsApi.clearScrollBody(id))
    } catch {
      case e: Exception => EsScrollSource.log.warn(
        s"${conf.index}$sliceTag: clear scroll failed: ${e.getMessage}")
    } finally transport.close()
  }
}

/** Drives one slice's point-in-time + `search_after` walk — the ES 7.10+
  * replacement for the scroll API the reference mirrors
  * (dump-es-parquet:259-266). Same shape as the scroll reader — one page
  * of documents in memory, a pruned `_source` list, in-reader coercion —
  * with one structural improvement: the continuation cursor (the last
  * hit's `sort` values) lives on the CLIENT. A scroll retry replays a
  * server-side context that may have expired or lost its node; a PIT
  * retry re-issues the same `search_after` request, so a mid-dump
  * cluster flap resumes from the last sort key without re-reading (or
  * double-reading) a single document.
  *
  * Ordering: `search_after` needs a total order, so the reader sorts by
  * the configured keys (minus bare `_doc`, which is scroll-specific) plus
  * the `_shard_doc` tiebreaker ES defines for exactly this purpose. Each
  * slice opens its own PIT — the same per-partition independence as
  * sliced scroll contexts, with no shared driver-side lifecycle to
  * coordinate.
  */
private[es] class EsPitPartitionReader(
    required: StructType, pushed: Array[Filter], part: EsPartition)
    extends PartitionReader[InternalRow] {

  private val conf = part.conf
  private val transport = conf.transportFactory.open()
  private val rowFilter = RowFilter(required, pushed.filter(RowFilter.supported))
  private val sliceTag = part.slice.map { case (i, m) => s" slice $i/$m" }.getOrElse("")

  // _doc is the scroll API's "index order" pseudo-field; PIT pagination
  // keys on real sort values + the per-PIT-unique _shard_doc tiebreak
  private val sort: Seq[EsApi.Sort] =
    conf.sort.filterNot(_.field == "_doc") :+ EsApi.Sort("_shard_doc", "asc")

  private var pitId: Option[String] = None
  private var cursor: Option[com.fasterxml.jackson.databind.JsonNode] = None
  private var page: Iterator[InternalRow] = Iterator.empty
  private var exhausted = false
  private var total = -1L
  private var totalExact = true
  private var readHits = 0L
  private var pagesFetched = 0
  private var current: InternalRow = _

  private def retried[T](op: => T): T =
    Retry.withBackoff(conf.retries, conf.retryBackoffMs, EsHttpError.transient,
      onRetry = (left, e) => EsScrollSource.log.warn(
        s"${conf.index}$sliceTag: transient source error " +
          s"($left attempts left): ${e.getMessage}"))(op)

  private def nextPage(): Unit = {
    if (part.stopAfter.exists(readHits >= _)) { exhausted = true; return }
    val id = pitId.getOrElse {
      val opened = EsApi.parsePitId(retried(
        transport.post(s"/${conf.index}/_pit?keep_alive=${conf.scroll}", "")))
      pitId = Some(opened)
      opened
    }
    // the retry wraps the whole page fetch: a flap mid-page re-sends the
    // SAME body — same search_after — so no document is lost or repeated.
    // Only the first page asks for track_total_hits: without it ES7+ caps
    // hits.total at 10k (relation: gte) and the progress denominator
    // would silently understate every index past 10k documents; asking on
    // every follow-up page would re-pay the exact-count traversal for a
    // number already known.
    val p = EsApi.readPage(retried(transport.postBytes("/_search",
      EsApi.searchBody(conf.size, sort, part.wireQuery, part.sourceFields,
        part.slice, pit = Some((id, conf.scroll)), searchAfter = cursor,
        trackTotal = pagesFetched == 0))), required)
    if (pagesFetched == 0) {
      total = p.total
      // defensive: a server that ignores track_total_hits still reports
      // relation != eq — log the bound as a bound, never as the total
      totalExact = p.totalRelation.forall(_ == "eq")
      if (total == 0) EsScrollSource.log.warn(
        s"${conf.index}$sliceTag: no records found")
    }
    pagesFetched += 1
    p.pitId.foreach(refreshed => pitId = Some(refreshed)) // server may rotate it
    if (p.hits.isEmpty) exhausted = true
    else {
      cursor = p.lastSort.orElse(
        throw new IllegalStateException(
          s"${conf.index}$sliceTag: PIT page carried hits but no sort values — " +
            "server does not support search_after pagination"))
      readHits += p.hits.size
      val denom = if (totalExact) s"/$total" else s"/≥$total"
      EsScrollSource.log.info(
        s"${conf.index}$sliceTag: read $readHits$denom records")
      page = p.hits.iterator
    }
  }

  @annotation.tailrec
  final override def next(): Boolean =
    if (page.hasNext) {
      val row = page.next()
      if (rowFilter(row)) { current = row; true } else next()
    } else if (exhausted) false
    else { nextPage(); next() }

  override def get(): InternalRow = current

  override def close(): Unit = {
    try pitId.foreach { id =>
      transport.delete("/_pit", EsApi.deletePitBody(id))
    } catch {
      case e: Exception => EsScrollSource.log.warn(
        s"${conf.index}$sliceTag: close PIT failed: ${e.getMessage}")
    } finally transport.close()
  }
}
