package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.StructType

import graft.{Dump, DumpJob, SparkEntry}
import graft.operators.Flatten
import graft.sinks.Sink
import graft.sources.{EsMapping, Retry}
import graft.sources.es.{EsApi, EsCatalog, EsHttpConfig, EsHttpError, HttpTransport}
import graft.sources.jsonl.MapSource
import Main.{Ctx, Opts, say}

/** What a workload does at each step of a run. Operations are named; a
  * pass runs them in [[order]]; [[check]] verifies one after it ran. */
trait Workload extends AutoCloseable {
  var attempted = 0L
  var failed = 0L
  /** Set-up steps and their seconds, for the report. */
  val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  protected def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Work that can start before the Spark session exists. */
  def prepare(): Unit = ()
  /** Fixtures plus one untimed, checked warm pass. */
  def setup(spark: SparkSession): Unit
  def describe: String
  /** Seconds of one warm pass on a 4-core host; sets the pass count. */
  def nominalPassS: Double
  /** Untimed passes after the checked warm pass of [[setup]]. */
  def warmPasses: Int
  def order(pass: Int): Seq[String]
  def run(spark: SparkSession, op: String, ctx: Option[Ctx]): Unit
  def check(spark: SparkSession, op: String): Boolean = true
  /** Cumulative counters; a pass reports its difference. */
  def passStats(): Map[String, Double] = Map.empty
  /** Bytes the workload's output takes on disk per byte of its source. */
  def outPerSrcByte(passes: Seq[Pass]): Double
  /** Workload-specific end-to-end figures for the report. */
  def report(passes: Seq[Pass]): Seq[(String, Double, String)] = Nil
  def microruns(spark: SparkSession, tracing: Tracing): Map[String, Double] = Map.empty
  def oracleJson: String = "null"
  override def close(): Unit = ()

  /** Operations of a pass in a seeded order. */
  protected def shuffled(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(Gen.mix(seed * 7919 + pass)).shuffle(names)
}

object DataFiles {
  /** The data files of a dataset directory, without markers and checksums. */
  def apply(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }.toSeq
    finally s.close()
  }

  def bytes(dir: Path): Long = apply(dir).map(Files.size).sum
}

/** Order-insensitive content hash of a frame: row count and the sum of
  * per-row xxhash64 over the columns in name order. */
object RowHash {
  def apply(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

object DumpWorkload {
  /** sf0.03: 255 k documents, about 73 MB of pages. */
  val Sf = 0.03
  val PageSize = 500
  /** `--max-partition-rows`: a lineitem slice holds 45 k documents on 4
    * cores (22.5 k on 8), so every lineitem slice rotates its file. */
  val RowCap = 20000L
  /** Share of documents rendered in the lenient shapes. A choice, not a
    * measurement: no sample of real index documents gives one. At 500
    * documents a page it puts about a hundred lenient documents on every
    * page, so every coercion path runs on every page, while strict
    * documents stay the common case. */
  val LenientPct = 20

  /** Present, non-null source values that coerced to null. */
  def nulled(doc: JsonNode, row: InternalRow, schema: StructType): Long =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val v = doc.get(f.name)
      if (v == null || v.isNull) 0L
      else if (row.isNullAt(i)) 1L
      else f.dataType match {
        case st: StructType if v.isObject => nulled(v, row.getStruct(i, st.length), st)
        case _ => 0L
      }
    }.sum
}

/** `es-dump`: the paper's job. `graft.Dump.execute` scrolls each index of
  * the benchmark's own ES responder (a separate process) with sliced
  * scrolls, coerces, flattens and writes zstd parquet rotated at a row
  * cap. Every dump is read back and checked. */
final class DumpWorkload(o: Opts) extends Workload {
  import DumpWorkload._

  private val sf = Sf
  private val slices = o.cores
  private val out = o.work.resolve("out")
  private val mapper = new ObjectMapper()
  private var responder: Process = _
  private var url: String = _
  private var expected = Map.empty[String, ((Long, java.math.BigDecimal), StructType)]
  private val outBytes = new LongAdder

  private val docs = EsResponder.indices.map(Gen.count(_, sf)).sum

  override def prepare(): Unit = {
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val heapMb = math.max(512, (sf * 6000).toInt)
    responder = new ProcessBuilder(javaBin, s"-Xmx${heapMb}m", "-cp",
        System.getProperty("java.class.path"), "perfbench.EsResponder",
        o.seed.toString, sf.toString, slices.toString, PageSize.toString,
        LenientPct.toString, o.cores.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  }

  override def setup(spark: SparkSession): Unit = {
    expected = phase("expected hashes") {
      EsResponder.indices.map { t =>
        val df = Gen.frame(spark, t, o.seed, sf, fixture = false, o.cores)
        t -> (RowHash(df), df.schema)
      }.toMap
    }
    val line = phase("wait for responder pages") {
      new BufferedReader(new InputStreamReader(responder.getInputStream)).readLine()
    }
    require(line != null && line.startsWith("READY "), s"responder did not start: $line")
    url = s"http://127.0.0.1:${line.stripPrefix("READY ")}"
    phase("warm pass") { EsResponder.indices.foreach { t =>
      attempted += 1
      val ok = try { run(spark, t, None); check(spark, t) }
      catch { case e: Throwable => say(s"FAILED warm dump of $t: ${e.getMessage}"); false }
      if (!ok) failed += 1
    } }
  }

  def nominalPassS: Double = 1.9
  def warmPasses: Int = 1

  def describe: String =
    f"sf=$sf docs=$docs slices=$slices size=$PageSize lenient=$LenientPct%%"

  def order(pass: Int): Seq[String] = shuffled(EsResponder.indices, o.seed, pass)

  def run(spark: SparkSession, table: String, ctx: Option[Ctx]): Unit =
    Dump.execute(spark, Array(table, "--es", url, "--out", out.toString,
      "--slices", slices.toString, "--size", PageSize.toString, "--flatten",
      "--max-partition-rows", RowCap.toString, "--compression", "zstd", "--quiet"))
      .foreach {
        case DumpJob.Failed(t, e) => throw new IllegalStateException(s"dump of $t failed", e)
        case _ => ()
      }

  /** Row count, order-insensitive row hash, schema and file count of the
    * files read back, against the generated table. */
  override def check(spark: SparkSession, table: String): Boolean = {
    val dir = out.resolve(table)
    try {
      val files = DataFiles(dir)
      outBytes.add(files.map(Files.size).sum)
      val total = Gen.count(table, sf)
      val wantFiles = (0 until slices).map { s =>
        (EsResponder.sliceCount(total, slices, s) + RowCap - 1) / RowCap
      }.sum
      val back = spark.read.parquet(dir.toString)
      val ((wantRows, wantHash), wantSchema) = expected(table)
      val (rows, hash) = RowHash(back)
      val problems = Seq(
        (rows != wantRows) -> s"rows $rows != $wantRows",
        (hash != wantHash) -> "row hash differs from the generated table",
        (back.schema.map(f => f.name -> f.dataType) != wantSchema.map(f => f.name -> f.dataType)) ->
          s"schema ${back.schema.simpleString} != ${wantSchema.simpleString}",
        (files.size != wantFiles) -> s"${files.size} files, expected $wantFiles at cap $RowCap")
        .collect { case (true, msg) => msg }
      problems.foreach(p => say(s"CHECK FAILED es-dump $table: $p"))
      problems.isEmpty
    } finally Main.deleteTree(dir)
  }

  private def stats(): JsonNode = {
    val t = new HttpTransport(EsHttpConfig(url))
    try mapper.readTree(t.get("/_bench/stats")) finally t.close()
  }

  override def passStats(): Map[String, Double] = {
    val s = stats()
    Map("serve_s" -> s.get("busy_ns").asDouble / 1e9, "served_bytes" -> s.get("bytes").asDouble,
      "out_bytes" -> outBytes.sum.toDouble)
  }

  /** Parquet bytes written per byte of pages served. */
  def outPerSrcByte(passes: Seq[Pass]): Double =
    Main.median(passes.map(p => p.stats("out_bytes") / p.stats("served_bytes")))

  override def report(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val wall = Main.median(passes.map(_.wall))
    val served = Main.median(passes.map(_.stats("served_bytes")))
    val serve = Main.median(passes.map(_.stats("serve_s")))
    Seq(("docs_per_s", docs / wall, "1/s"),
      ("src_mb_per_s", served / 1e6 / wall, "MB/s"),
      ("source.serve_share", serve / wall, "ratio"))
  }

  /** The layers of the dump, each driven from outside through its public
    * functions over the same pages: an HTTP walk, page decoding, document
    * coercion, then Spark scans, flatten and write over a pinned frame. */
  override def microruns(spark: SparkSession, tracing: Tracing): Map[String, Double] = {
    val pool = Executors.newFixedThreadPool(slices)
    def parallel[T](tasks: Seq[() => T]): Seq[T] =
      tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() })).map(_.get())
    val requests, retries, bytes, nulled = new LongAdder
    def timed[T](layer: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tracing.unit(0, "micro", layer, s"micro:$layer")(_ => body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val http = EsHttpConfig(url)
    val fields = EsResponder.indices.map(t => t -> EsResponder.sourceFields(t)).toMap
    val ScrollId = "\"_scroll_id\":\"([^\"]+)\"".r.unanchored
    try {
      val (bodies, fetchS) = timed("sources.es.fetch") {
        EsResponder.indices.map { t =>
          t -> parallel((0 until slices).map { s => () =>
            val transport = new HttpTransport(http)
            def post(path: String, body: String): String = {
              requests.increment()
              val r = Retry.withBackoff(5, 100, EsHttpError.transient,
                onRetry = (_, _) => retries.increment())(transport.post(path, body))
              bytes.add(r.length.toLong)
              r
            }
            try {
              val pages = Seq.newBuilder[String]
              var page = post(s"/$t/_search?scroll=1h", EsApi.searchBody(PageSize,
                Seq(EsApi.Sort("_doc", "asc")), None, Some(fields(t)),
                if (slices > 1) Some((s, slices)) else None))
              pages += page
              while (!page.contains("\"hits\":[]")) {
                val ScrollId(id) = page.take(400): @unchecked
                page = post("/_search/scroll", EsApi.scrollBody("1h", id))
                pages += page
              }
              val ScrollId(id) = page.take(400): @unchecked
              requests.increment()
              transport.delete("/_search/scroll", EsApi.clearScrollBody(id))
              pages.result()
            } finally transport.close()
          })
        }
      }
      val (decoded, decodeS) = timed("sources.es.decode") {
        bodies.map { case (t, perSlice) =>
          t -> parallel(perSlice.map(ps => () => ps.flatMap(b => EsApi.parsePage(b).hits)))
        }
      }
      val schemas = EsResponder.indices.map { t =>
        val resp = new HttpTransport(http)
        try t -> EsMapping.fromMappingResponse(resp.get(s"/$t/_mapping"), t)._1
        finally resp.close()
      }.toMap
      val (_, coerceS) = timed("sources.jsonl.coerce") {
        decoded.foreach { case (t, perSlice) =>
          parallel(perSlice.map(hits => () => hits.foreach { h =>
            nulled.add(DumpWorkload.nulled(h, MapSource.coerce(h, schemas(t)), schemas(t)))
          }))
        }
      }
      val catalog = EsCatalog(http, Map("slices" -> slices.toString, "size" -> PageSize.toString))
      val (_, scanS) = timed("sources.es.scan") {
        EsResponder.indices.foreach(t =>
          catalog.load(spark, t).write.format("noop").mode("overwrite").save())
      }
      val pinned = EsResponder.indices.map(t => t -> catalog.load(spark, t).localCheckpoint(true)).toMap
      val (_, flattenS) = timed("operators.flatten") {
        pinned.values.foreach(df => Flatten(df).write.format("noop").mode("overwrite").save())
      }
      val sinkDir = o.work.resolve("micro-sink")
      val (files, writeS) = timed("sinks.write") {
        pinned.toSeq.flatMap { case (t, df) =>
          Sink.write(Flatten(df), sinkDir.resolve(t).toString, t,
            Sink.Config(format = "parquet", compression = Some("zstd"), maxRecordsPerFile = RowCap))
        }
      }
      val sinkBytes = EsResponder.indices.map(t => DataFiles.bytes(sinkDir.resolve(t))).sum
      Main.deleteTree(sinkDir)
      Map("sources.es.fetch_s" -> fetchS, "sources.es.fetch_bytes" -> bytes.sum.toDouble,
        "sources.es.requests" -> requests.sum.toDouble, "sources.es.retries" -> retries.sum.toDouble,
        "sources.es.decode_s" -> decodeS, "sources.es.scan_s" -> scanS,
        "sources.jsonl.coerce_s" -> coerceS, "sources.jsonl.coerce_nulled" -> nulled.sum.toDouble,
        "operators.flatten_s" -> flattenS, "sinks.write_s" -> writeS,
        "sinks.files" -> files.size.toDouble, "sinks.bytes" -> sinkBytes.toDouble)
    } finally pool.shutdownNow()
  }

  override def close(): Unit = if (responder != null) {
    responder.getOutputStream.close()
    if (!responder.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
      responder.destroyForcibly()
      responder.waitFor()
    }
  }
}

object MixWorkload {
  /** sf0.01 fixtures, generated once per checkout from a fixed data seed. */
  val Sf = 0.01
  val DataSeed = 42L
  val llmMix: Seq[String] = Seq("q188", "q172", "q209", "q120")
}

/** `llm-mix`: registered LLM-data operators over parquet fixtures, each
  * run to a `noop` sink. The fixtures do not depend on the run's seed
  * (the seed shuffles the order of each pass), so the first run of a
  * checkout writes them and later runs load them. The warm pass writes
  * every result for the DuckDB oracle check. */
final class MixWorkload(o: Opts) extends Workload {
  private val sf = MixWorkload.Sf
  private val dir = o.work.getParent.resolve(s"fixtures-sf$sf")
  private val checkDir = o.work.resolve("check")
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = MixWorkload.llmMix.map { s =>
    SparkEntry.queries.find(_._1.startsWith(s + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $s"))
  }
  private val fn = queries.toMap
  private val oracle = SparkEntry.oracleSql
  private var checked = Seq.empty[String]

  override def setup(spark: SparkSession): Unit = {
    if (!Files.exists(dir.resolve("_READY"))) phase("fixtures (first run of the checkout)") {
      // written aside and renamed, so an interrupted run leaves no half set;
      // one writer thread per core: the tables are small, the jobs overlap
      val tmp = o.work.resolve("fixtures-new")
      val pool = Executors.newFixedThreadPool(o.cores)
      try Gen.tables.map { t =>
        pool.submit(new Callable[Unit] {
          def call(): Unit =
            Gen.frame(spark, t, MixWorkload.DataSeed, sf, fixture = true, o.cores).coalesce(1)
              .write.mode("overwrite").parquet(tmp.resolve(s"$t.parquet").toString)
        })
      }.foreach(_.get())
      finally pool.shutdown()
      Files.createFile(tmp.resolve("_READY"))
      Main.deleteTree(dir)
      Files.move(tmp, dir)
    }
    checked = phase("warm pass, results kept for the oracle") { order(-1).filter { q =>
      attempted += 1
      try {
        fn(q)(spark, dir.toString).coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(q).toString)
        true
      } catch { case e: Throwable =>
        say(s"FAILED $q in the check pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed += 1
        false
      }
    } }
  }

  def nominalPassS: Double = 3.4
  /** The JIT compiles these queries for a minute (C2 busy on two threads
    * throughout a run), and each pass is a little faster than the one
    * before: about 4.3 s falling to 3.3 s on 4 cores over the first ten.
    * Four untimed passes move the steepest part of that slope into set-up. */
  def warmPasses: Int = 4

  def describe: String = s"sf=$sf queries=${queries.size}"

  /** Parquet bytes of the warm pass's results per byte of the fixture
    * files. The results are written with the session's default codec;
    * the ratio moves when a query's result or the writer changes. */
  def outPerSrcByte(passes: Seq[Pass]): Double =
    checked.map(q => DataFiles.bytes(checkDir.resolve(q))).sum.toDouble /
      Gen.tables.map(t => DataFiles.bytes(dir.resolve(s"$t.parquet"))).sum

  def order(pass: Int): Seq[String] = shuffled(queries.map(_._1), o.seed, pass)

  def run(spark: SparkSession, q: String, ctx: Option[Ctx]): Unit = ctx match {
    case None => fn(q)(spark, dir.toString).write.format("noop").mode("overwrite").save()
    case Some(c) =>
      def step[T](name: String)(body: => T): T = c.trace.span(c.parent, c.pass, s"$name:$q")(_ => body)
      val df = step("queries.build")(fn(q)(spark, dir.toString))
      step("queries.exec")(df.write.format("noop").mode("overwrite").save())
  }

  /** For `run.py`: where the fixtures and results are, and each checked
    * query's oracle SQL (null when it has none). */
  override def oracleJson: String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("fixtures", dir.toString)
    node.put("results", checkDir.toString)
    val qs = node.putObject("queries")
    checked.foreach(q => oracle.get(q) match {
      case Some(sql) => qs.put(q, sql)
      case None      => qs.putNull(q)
    })
    m.writeValueAsString(node)
  }
}
