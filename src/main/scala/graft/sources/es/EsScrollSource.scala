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
  *  - one `InputPartition` per slice (`slices` option): each executor
  *    drives an independent walk with `"slice": {id, max}`, so read
  *    parallelism is horizontal across the cluster instead of the
  *    reference's single sequential scroll;
  *  - one partition reader (`EsPartitionReader`) drives every walk
  *    (`EsWalk`), chosen at planning time: `mode=scroll` (the default,
  *    the reference's `search?scroll` + `scroll` loop), `mode=pit`
  *    (point-in-time + `search_after`), and the one-search probe a pushed
  *    limit or TopN becomes in either mode; a completely pushed
  *    `count(*)` is one size-0 request (`EsCountReader`). Batch scans and
  *    the tail stream's microbatches share one planner, so every walk
  *    honours the tail window;
  *  - schema comes from the index mapping (`EsMapping`, S2) unless the
  *    caller supplies one; document→row coercion (`MapSource`, T1/T2)
  *    runs inside the partition reader against the pruned schema;
  *  - projection pushdown reaches the wire: pruned columns become the
  *    `_source` include list, so unprojected fields never leave the
  *    cluster (P2); translatable filters become a query_string clause
  *    (P1, EsQuery) and every filter stays residual for Spark to re-check;
  *  - a walk ends on the exact `hits.total` of its first page: the page
  *    that brings the hits read up to it is the last one requested, where
  *    the reference asks until a page comes back empty (:262-264) — one
  *    more round trip per slice that can only return nothing. An inexact
  *    (`gte`) or missing total keeps the reference's empty-page end, and
  *    an empty page short of an exact total fails the slice instead of
  *    ending it quietly short;
  *  - every request is retried through `EsScanConfig.retried` (S4) with
  *    the reference's transient-transport-error semantics (:227-230),
  *    except a `_search/scroll` continuation: the server advances its
  *    cursor before it answers, so that is retried only on failures the
  *    server did not act on (429, 503, connection refused) and any other
  *    fails the slice rather than skip a page. The page decode stays
  *    outside the retry, and the scroll or PIT context is closed with the
  *    reader.
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
      val resp = conf.retried(conf.index)(transport.get(s"/${conf.index}/_mapping"))
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
    mode: EsWalk = EsWalk.Scroll) {
  def transportFactory: EsTransportFactory = HttpTransportFactory(http)

  /** Every ES call's retry (S4): `retries` attempts `retryBackoffMs`
    * apart on the reference's transient transport errors (:227-230), or
    * on the narrower `retryable` of a request that must not be re-sent
    * once the server acted on it, each retry logged against `what`. */
  def retried[T](what: String, retryable: Throwable => Boolean = EsHttpError.transient)(
      op: => T): T =
    Retry.withBackoff(retries, retryBackoffMs, retryable,
      onRetry = (left, e) => EsScrollSource.log.warn(
        s"$what: transient source error ($left attempts left): ${e.getMessage}"))(op)
}

private[es] object EsScanConfig {
  /** Option names mirror the reference CLI (dump-es-parquet:372-382);
    * `slices`/`retries`/`retry_backoff_ms` are the Spark-side additions. */
  def fromOptions(opts: Map[String, String]): EsScanConfig = {
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    // 0 slices plans no partition and 0 size pages nothing: either would
    // write an empty table and report it written
    def atLeastOne(name: String, default: Int): Int = {
      val v = o.get(name).map(_.toInt).getOrElse(default)
      if (v < 1) throw new IllegalArgumentException(
        s"graft-es option '$name' must be at least 1, got $v")
      v
    }
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
      size = atLeastOne("size", 500),
      scroll = o.getOrElse("scroll", "1h"),
      slices = atLeastOne("slices", 1),
      // default sort: _doc — the efficient scroll order; pass
      // sort=@timestamp:asc for the reference CLI's default (:379-380)
      sort = EsApi.parseSort(o.getOrElse("sort", "_doc:asc")),
      retries = atLeastOne("retries", 5),
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
        case "scroll" => EsWalk.Scroll
        case "pit"    => EsWalk.Pit
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

  override def planInputPartitions(): Array[InputPartition] =
    if (countStar)
      Array(EsCountPartition(conf, EsQuery.combine(conf.query, pushed.toIndexedSeq)))
    else pushedLimit match {
      case Some(l) =>
        // probe shape: ONE plain search, sort+size on the wire, in either
        // mode — q02-shaped queries cost one round-trip
        val sort = if (pushedSort.nonEmpty) pushedSort else conf.sort
        EsPartition.plan(required, conf.copy(size = l, sort = sort), pushed, EsWalk.Probe)
      case None =>
        EsPartition.plan(required, conf, pushed, conf.mode, stopAfter = scrollStop)
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new EsReaderFactory(required, pushed)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new EsTailStream(required, conf, pushed)
}

/** Which requests a partition sends and which server context it closes,
  * chosen once at planning time. */
private[es] sealed abstract class EsWalk(override val toString: String) extends Serializable

private[es] object EsWalk {
  /** One plain search of `size` hits (a pushed limit or TopN): a single
    * page is the whole result, and no context is opened or followed. */
  case object Probe extends EsWalk("probe")

  /** `_search?scroll` opens a server-side context, `_search/scroll`
    * follows it (reference :219-266); the scroll is cleared on close. */
  case object Scroll extends EsWalk("scroll")

  /** Point-in-time + `search_after`, the ES 7.10+ replacement for scroll.
    * The continuation cursor (the last hit's `sort` values) lives on the
    * CLIENT: a scroll retry replays a server-side context that may have
    * expired or lost its node, while a PIT retry re-sends the same
    * `search_after` request, so a mid-dump cluster flap resumes from the
    * last sort key without re-reading (or double-reading) a document.
    * `search_after` needs a total order, so the walk sorts by the
    * configured keys (minus bare `_doc`, which is scroll-specific) plus
    * the `_shard_doc` tiebreaker. Each slice opens its own PIT and
    * deletes it on close. */
  case object Pit extends EsWalk("pit")
}

private[es] final case class EsPartition(
    conf: EsScanConfig,
    walk: EsWalk,
    wireQuery: Option[String],
    sourceFields: Option[Seq[String]],
    slice: Option[(Int, Int)],
    range: Option[(String, Double, Double)],
    stopAfter: Option[Int]) extends InputPartition

private[es] object EsPartition {
  /** The one planner for batch scans and tail microbatches. Pushed
    * filters join the `query` option on the wire; the pruned columns
    * become the `_source` list (an empty projection → `_source: false`:
    * hit envelopes page through, document bodies never leave the
    * cluster). A probe is one partition; a scroll or PIT walk is one
    * partition per slice, each an independent server-side slice, and
    * `slices=1` sends no slice clause (the reference's shape). */
  def plan(required: StructType, conf: EsScanConfig, pushed: Array[Filter],
           walk: EsWalk, range: Option[(String, Double, Double)] = None,
           stopAfter: Option[Int] = None): Array[InputPartition] = {
    val wireQuery = EsQuery.combine(conf.query, pushed.toIndexedSeq)
    val fields = Some(required.fieldNames.toSeq)
    val n = if (walk == EsWalk.Probe) 1 else conf.slices
    (0 until n).map { i =>
      val slice = if (n > 1) Some((i, n)) else None
      EsPartition(conf, walk, wireQuery, fields, slice, range, stopAfter): InputPartition
    }.toArray
  }
}

/** A completely-pushed count(*): one size-0 request, one row back. */
private[es] final case class EsCountPartition(conf: EsScanConfig, wireQuery: Option[String])
    extends InputPartition

private[es] class EsReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case c: EsCountPartition => new EsCountReader(c)
      case p: EsPartition      => new EsPartitionReader(required, pushed, p)
    }
}

/** One size-0 request answers a completely-pushed count(*). */
private[es] class EsCountReader(part: EsCountPartition)
    extends PartitionReader[InternalRow] {
  private val conf = part.conf
  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean =
    if (done) false
    else {
      val transport = conf.transportFactory.open()
      try {
        val p = EsApi.readPage(conf.retried(conf.index)(
          transport.postBytes(s"/${conf.index}/_search", EsApi.countBody(part.wireQuery))),
          StructType(Nil))
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

/** Drives one partition's walk (reference :219-266), emitting the coerced
  * rows that pass the pushed filters. Memory is one page of documents;
  * the walk's context id and, for PIT, the last hit's sort values are the
  * only cross-page state.
  *
  * End rule: a scroll or PIT walk stops once the hits read reach the
  * first page's exact total (`relation: eq`, or an ES6 bare int; scroll
  * searches always count exactly on ES7+, and the first PIT page asks
  * `track_total_hits`), so no empty terminal page is requested. Without
  * an exact total it reads until a page comes back empty, as the
  * reference does (:262-264). An empty page before an exact total is
  * reached throws, naming both counts. A probe is always one page.
  *
  * Retry rule: an opening search, a probe and a PIT page re-send safely,
  * so they retry on every transient error; a `_search/scroll`
  * continuation retries only where the server did not advance
  * (`EsHttpError.unadvanced`). */
private[es] class EsPartitionReader(
    required: StructType, pushed: Array[Filter], part: EsPartition)
    extends PartitionReader[InternalRow] {

  import EsScrollSource.log

  private val conf = part.conf
  private val transport = conf.transportFactory.open()
  private val rowFilter = RowFilter(required, pushed.filter(RowFilter.supported))
  private val tag = conf.index + part.slice.map { case (i, m) => s" slice $i/$m" }.getOrElse("")

  // _doc is the scroll API's "index order" pseudo-field; PIT pagination
  // keys on real sort values + the per-PIT-unique _shard_doc tiebreak
  private val sort: Seq[EsApi.Sort] =
    if (part.walk == EsWalk.Pit)
      conf.sort.filterNot(_.field == "_doc") :+ EsApi.Sort("_shard_doc", "asc")
    else conf.sort

  private var context: Option[String] = None // scroll id or PIT id
  private var cursor: Option[com.fasterxml.jackson.databind.JsonNode] = None
  private var page: Iterator[InternalRow] = Iterator.empty
  private var exhausted = false
  private var total = -1L // the first page's hits.total; -1 when it sent none
  private var totalExact = false
  private var readHits = 0L
  private var pagesFetched = 0
  private var current: InternalRow = _

  /** Every walk's search body. Only the first PIT page asks for
    * track_total_hits: without it ES7+ caps hits.total at 10k (relation:
    * gte) and the progress denominator would understate every index past
    * 10k documents; asking on every follow-up page would re-pay the
    * exact-count traversal for a number already known. */
  private def searchBody(pit: Option[String]): String =
    EsApi.searchBody(conf.size, sort, part.wireQuery, part.sourceFields, part.slice,
      part.range, pit.map((_, conf.scroll)), cursor,
      trackTotal = pit.isDefined && pagesFetched == 0)

  /** The next page's (path, body); a PIT walk opens its PIT first. */
  private def nextRequest(): (String, String) = part.walk match {
    case EsWalk.Probe => (s"/${conf.index}/_search", searchBody(None))
    case EsWalk.Scroll => context match {
      case None     => (s"/${conf.index}/_search?scroll=${conf.scroll}", searchBody(None))
      case Some(id) => ("/_search/scroll", EsApi.scrollBody(conf.scroll, id))
    }
    case EsWalk.Pit =>
      if (context.isEmpty) context = Some(EsApi.parsePitId(conf.retried(tag)(
        transport.post(s"/${conf.index}/_pit?keep_alive=${conf.scroll}", ""))))
      ("/_search", searchBody(context))
  }

  private def nextPage(): Unit = {
    // un-pushed over-window limit: this slice already has enough hits for
    // any global cut — stop paging (LocalLimit at the source). Only set
    // when no filters ride the reader, so hits == emitted rows.
    if (part.stopAfter.exists(readHits >= _)) { exhausted = true; return }
    val (path, body) = nextRequest()
    // the decode stays outside the retry: re-posting a scroll id is not
    // idempotent, so a body that fails to decode fails the slice, and so
    // does any send failure the server may have acted on. A PIT retry
    // re-sends the SAME body — same search_after — so a flap mid-walk
    // loses or repeats no document.
    val retryable =
      if (path == "/_search/scroll") EsHttpError.unadvanced _ else EsHttpError.transient _
    val p = EsApi.readPage(conf.retried(tag, retryable)(transport.postBytes(path, body)), required)
    if (pagesFetched == 0) {
      total = p.total
      // a server that ignores track_total_hits still reports relation !=
      // eq — log the bound as a bound, never as the total
      totalExact = total >= 0 && p.totalRelation.forall(_ == "eq")
      if (total == 0) log.warn(s"$tag: no records found") // reference :238-240
    }
    pagesFetched += 1
    part.walk match {
      case EsWalk.Probe  => ()
      case EsWalk.Scroll => context = p.scrollId.orElse(context)
      case EsWalk.Pit    => context = p.pitId.orElse(context) // server may rotate it
    }
    if (p.hits.isEmpty && totalExact && readHits < total && part.walk != EsWalk.Probe)
      throw new IllegalStateException(
        s"$tag: walk ended after $readHits of its $total hits")
    if (p.hits.nonEmpty) {
      if (part.walk == EsWalk.Pit) cursor = p.lastSort.orElse(
        throw new IllegalStateException(
          s"$tag: PIT page carried hits but no sort values — " +
            "server does not support search_after pagination"))
      readHits += p.hits.size
      val denom = if (total < 0) "" else if (totalExact) s"/$total" else s"/≥$total"
      log.info(s"$tag: read $readHits$denom records") // reference :257
      page = p.hits.iterator
    }
    exhausted = part.walk == EsWalk.Probe || p.hits.isEmpty || (totalExact && readHits >= total)
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
    try context.foreach { id =>
      if (part.walk == EsWalk.Pit) transport.delete("/_pit", EsApi.deletePitBody(id))
      else transport.delete("/_search/scroll", EsApi.clearScrollBody(id))
    } catch {
      case e: Exception => log.warn(s"$tag: closing the ${part.walk} context failed: ${e.getMessage}")
    } finally transport.close()
  }
}
