package graft.sources.jsonl

import java.nio.charset.StandardCharsets.UTF_8
import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 source over raw JSON-lines dumps — the Spark shape of the
  * reference's scroll reader (SURVEY §2.1 S3): each input file is one
  * input partition (the sliced-scroll analog: independent readers, no
  * coordination), each line is one `_source` document, and the
  * document→row coercion (reference `map_source`, dump-es-parquet:112-183)
  * runs INSIDE the partition reader against the fixed schema — unknown
  * fields dropped, lists scalarized to first element, lenient numeric /
  * timestamp semantics, log-and-null on failure.
  *
  * Pushdown: `SupportsPushDownRequiredColumns` prunes the coercion to the
  * projected fields, so `select(a)` never parses or coerces `b` (the
  * `_source` filter of the real ES search). File opens are wrapped in
  * Retry.withBackoff (S4) — the seam where a live scroll's transport
  * retries live.
  *
  * Usage: `spark.read.format("graft-jsonl").schema(st).load(path)`; with
  * no schema, the first document's fields are read as strings
  * (schema-on-read fallback, the reference's stdout-mode stance).
  */
class JsonlSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-jsonl"
  override def supportsExternalMetadata(): Boolean = true

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    (single ++ multi).distinct
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // schema-on-read fallback: first parseable document's top-level
    // fields as strings. Scans past blank/corrupt leading lines (the
    // partition reader's log-and-skip stance, applied to inference) and
    // uses the session's Hadoop conf so object-store credentials apply.
    val mapper = new ObjectMapper()
    val hconf = JsonlSource.sessionHadoopConf()
    val firstDoc = paths(options).iterator.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hconf)
      JsonlSource.listFiles(fs, path).iterator.flatMap { f =>
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(f), UTF_8))
        try Iterator.continually(in.readLine()).takeWhile(_ != null)
          .take(100) // bounded probe per file
          .filterNot(_.isBlank)
          .flatMap { line =>
            try Some(mapper.readTree(line)).filter(_.isObject)
            catch { case _: com.fasterxml.jackson.core.JacksonException => None }
          }
          .take(1).toList // materialize before the stream closes
        finally in.close()
      }
    }.find(_ => true)
    firstDoc match {
      case Some(node) =>
        StructType(node.properties().asScala.toSeq.map(e =>
          org.apache.spark.sql.types.StructField(e.getKey,
            org.apache.spark.sql.types.StringType)))
      case None => new StructType()
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new JsonlTable(schema,
      paths(new CaseInsensitiveStringMap(properties)))
}

object JsonlSource {
  private[jsonl] val log = org.slf4j.LoggerFactory.getLogger(classOf[JsonlSource])

  /** The active session's Hadoop conf (spark.hadoop.*, object-store
    * credentials) — a bare `new Configuration()` would silently ignore
    * all of it. Driver side only. */
  private[graft] def sessionHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  private[graft] def listStatuses(fs: FileSystem, path: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val st = fs.getFileStatus(path)
    if (st.isDirectory)
      fs.listStatus(path).toSeq.filter(_.isFile)
        .filterNot(s => s.getPath.getName.startsWith(".") ||
          s.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
    else Seq(st)
  }

  private[graft] def listFiles(fs: FileSystem, path: Path): Seq[Path] =
    listStatuses(fs, path).map(_.getPath)
}

private[jsonl] class JsonlTable(schema: StructType, paths: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = s"graft_jsonl(${paths.mkString(",")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(schema, paths)
}

private[jsonl] class JsonlScanBuilder(full: StructType, paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var limit: Option[Int] = None
  private var countStar = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Limit pushdown: each partition reader stops parsing its file after
    * `limit` emitted rows (partial push — Spark still cuts globally), so
    * `df.limit(n)` touches at most n lines per file instead of scanning
    * every dump in full. Spark only offers the push with no residual
    * Filter between limit and scan, so the in-reader RowFilter can't
    * starve it. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** P1 — the query-string analog: simple comparisons evaluate inside the
    * reader, pre-emit, so filtered documents never cross the source
    * boundary. Conservative contract: every filter is ALSO returned as
    * residual, so Spark re-checks semantics (null ordering, collation)
    * above the scan — the pushdown prunes IO/CPU, not correctness. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(RowFilter.supported)
    filters // all residual: Spark re-evaluates above the scan
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** P3's count analog for files (the ES source pushes `count(*)` as a
    * size-0 search): a bare `df.count()` never parses a document into a
    * row — each partition reader counts its file's emittable lines
    * (same blank/corrupt skip semantics as the row path) and returns
    * ONE partial-count row; Spark sums the partials. PARTIAL pushdown
    * on purpose: per-file counts keep the merge distributed and the
    * contract simple. Refused whenever in-reader filters or a pushed
    * limit are present — those rows' semantics live above the scan. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = pushed.isEmpty && limit.isEmpty &&
      agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions().head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) {
      countStar = true
      required = StructType(Seq(org.apache.spark.sql.types.StructField(
        "count(*)", org.apache.spark.sql.types.LongType, nullable = false)))
    }
    ok
  }

  override def build(): Scan =
    new JsonlScan(required, paths, pushed, limit, countStar)
}

private[sources] class JsonlScan(required: StructType, paths: Seq[String],
                               pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                               val pushedLimit: Option[Int] = None,
                               val pushedCountStar: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"graft-jsonl PushedFilters=[${pushed.mkString(", ")}]" +
      pushedLimit.map(l => s" PushedLimit=$l").getOrElse("") +
      (if (pushedCountStar) " PushedAggregation=[COUNT(*)]" else "")

  /** Real byte sizes from the filesystem, so joining a small dump
    * against a big table broadcasts instead of shuffling — without
    * stats a DSv2 scan defaults to spark.sql.defaultSizeInBytes
    * (Long.Max-ish) and can never be the broadcast side. One listing
    * (whose statuses already carry the lengths), cached — Catalyst may
    * probe stats several times while optimizing, and on object stores a
    * per-file getFileStatus is a HEAD request each. */
  private lazy val totalBytes: Long =
    try {
      val conf = JsonlSource.sessionHadoopConf()
      paths.map { p =>
        val path = new Path(p)
        JsonlSource.listStatuses(path.getFileSystem(conf), path).map(_.getLen).sum
      }.sum
    } catch { case _: Exception => Long.MaxValue } // unknown -> pessimistic

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(totalBytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // one partition per file: the sliced-scroll analog — slices scale
    // with the number of dump files, each reader independent. The
    // session Hadoop conf ships with each partition so executor-side
    // opens see the same credentials the driver listing used.
    val conf = JsonlSource.sessionHadoopConf()
    val sconf = new SerializableHadoopConf(conf)
    paths.flatMap { p =>
      val path = new Path(p)
      JsonlSource.listFiles(path.getFileSystem(conf), path)
    }.map(f => JsonlPartition(f.toString, sconf): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(required, pushed, pushedLimit, pushedCountStar)
}

/** Hadoop Configuration is not java-serializable; ship it by its
  * writable form. */
private[graft] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[jsonl] case class JsonlPartition(file: String,
                                         conf: SerializableHadoopConf) extends InputPartition

private[jsonl] class JsonlReaderFactory(required: StructType,
                                        pushed: Array[org.apache.spark.sql.sources.Filter],
                                        limit: Option[Int] = None,
                                        countStar: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[JsonlPartition]
    if (countStar) new JsonlCountReader(p.file, p.conf.value)
    else new JsonlPartitionReader(required, p.file, pushed, p.conf.value, limit)
  }
}

/** Pushed-count(*) reader: one partial-count row per file, with the row
  * path's exact emit semantics (blank and corrupt lines skipped, any
  * parse-success counts) but no per-document coercion or row
  * materialization. */
private[jsonl] class JsonlCountReader(file: String, hconf: Configuration)
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    val in = graft.sources.Retry.withBackoff(attempts = 3, backoffMs = 100) {
      val path = new Path(file)
      val fs = path.getFileSystem(hconf)
      new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(path), UTF_8))
    }
    var n = 0L
    var corrupt = 0L
    try {
      var line = in.readLine()
      while (line != null) {
        if (!line.isBlank) {
          try { if (!mapper.readTree(line).isMissingNode) n += 1 else corrupt += 1 }
          catch { case _: com.fasterxml.jackson.core.JacksonException => corrupt += 1 }
        }
        line = in.readLine()
      }
    } finally in.close()
    if (corrupt > 0)
      JsonlSource.log.warn(s"$file: skipped $corrupt corrupt JSON line(s)")
    row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n))
    done = true
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

private[jsonl] class JsonlPartitionReader(required: StructType, file: String,
                                          pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                                          hconf: Configuration = new Configuration(),
                                          limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {

  // S4: the open is the reader's network-ish call; a live scroll source
  // would wrap every page fetch the same way
  private val in = graft.sources.Retry.withBackoff(attempts = 3, backoffMs = 100) {
    val path = new Path(file)
    val fs = path.getFileSystem(hconf)
    new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(path), UTF_8))
  }
  private var current: InternalRow = _
  private val rowFilter = RowFilter(required, pushed)
  private var corruptLines = 0L
  private var emitted = 0L

  @annotation.tailrec
  final override def next(): Boolean = {
    if (limit.exists(emitted >= _)) return false // pushed limit: stop reading
    val line = in.readLine()
    if (line == null) {
      if (corruptLines > 0)
        JsonlSource.log.warn(s"$file: skipped $corruptLines corrupt JSON line(s)")
      false
    } else if (line.isBlank) next() // whitespace only: no document
    else {
      // log-and-skip on corrupt lines — the document-level form of the
      // reference's "survive problematic data" stance (field-level
      // failures already null inside MapSource). The kernel reads the
      // line's tokens straight into the row.
      val row = try {
        val p = MapSource.json.createParser(line)
        try if (p.nextToken() == null) null else MapSource.read(p, required)
        finally p.close()
      } catch {
        case _: com.fasterxml.jackson.core.JacksonException => null
      }
      if (row == null) { corruptLines += 1; next() }
      else if (rowFilter(row)) { current = row; emitted += 1; true }
      else next()
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
