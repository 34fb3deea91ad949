package graft

import org.apache.spark.sql.SparkSession
import graft.sinks.Sink

/** CLI entry point mirroring the reference's flag surface
  * (dump-es-parquet:356-433) so a user of the reference can switch with
  * the same invocation shape:
  *
  *   runMain graft.Dump <index-pattern> --src <dir> --out <dir>
  *     [--es URL [--size N] [--scroll 1h] [--timeout SEC] [--slices N]
  *      [--mode scroll|pit] [--retries N] [--retry-backoff-ms MS]
  *      [--cert F] [--key F] [--capath F] [--no-verify-certs]]
  *     [--query EXPR] [--fields a,b*,c] [--sort field:asc,...]
  *     [--output parquet|ndjson|csv|jsonl|stdout] [--compression gzip|zstd|uncompressed]
  *     [--flatten] [--max-partition-rows N] [--max-partition-mb N]
  *     [--no-partition] [--partition-by a,b] [--quiet] [--debug]
  *
  * Two source modes. `--es URL` is the reference's own mode
  * (dump-es-parquet:372-382): the live-cluster catalog resolves the index
  * pattern, scroll knobs (--size/--scroll/--timeout/--slices) and TLS
  * client certs (--cert/--key/--capath/--no-verify-certs) ride to the
  * DSv2 scroll source, and `--query` is a Lucene query string pushed on
  * the wire verbatim (the reference's `q=`). `--src <dir>` is the
  * zero-egress stand-in over parquet fixtures, where `--query` is a
  * Spark SQL expression filtered locally instead.
  *
  * `--max-partition-mb` maps onto the row cap only (Spark task writers
  * stream to disk, so in-memory partition size is not a failure mode the
  * way accumulate-then-flush was). stdout mode streams jsonl lines
  * record-at-a-time.
  *
  * Interrupt semantics, a deliberate deviation: the reference flushes
  * the partial in-memory partition on Ctrl-C (dump-es-parquet:300-308)
  * because anything unflushed would be lost. Spark's committer inverts
  * the failure model — output files appear atomically per task commit,
  * so an interrupted dump leaves no partial artifacts and is simply
  * rerun; rerunnable-idempotent replaces flush-on-interrupt.
  */
object Dump {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try {
      val results = execute(spark, args)
      if (results.exists(_.isInstanceOf[DumpJob.Failed])) sys.exit(1)
    } finally spark.stop()
  }

  def execute(spark: SparkSession, args: Array[String]): Seq[DumpJob.Result] = {
    val (flags, positional) = parse(args.toList)
    require(positional.nonEmpty, "usage: graft.Dump <index-pattern> --src <dir> --out <dir> [flags]")
    val pattern = positional.head
    val srcDir = flags.getOrElse("src", "/root/testdata/sf0.001")
    // lazy: stdout mode never writes files, so the temp-dir default must
    // not create a stray directory per invocation
    lazy val outDir = flags.getOrElse("out",
      java.nio.file.Files.createTempDirectory("graft_dump").toString)
    val output = flags.getOrElse("output", "parquet")

    // --es selects the live-cluster catalog (the reference's actual mode,
    // dump-es-parquet:372-382): scroll knobs ride to the source, and
    // --query is a Lucene query string pushed on the wire verbatim
    // (reference `q=`), not a local Spark filter.
    val esMode = flags.contains("es")
    val catalog: graft.sources.SourceCatalog = flags.get("es") match {
      case Some(url) =>
        val http = graft.sources.es.EsHttpConfig(
          baseUrl = url,
          timeoutSec = flags.get("timeout").map(_.toInt).getOrElse(60),
          cert = flags.get("cert"),
          key = flags.get("key"),
          caPath = flags.get("capath"),
          verifyCerts = !flags.contains("no-verify-certs"))
        val readOptions = Seq(
          "size" -> flags.get("size"),
          "scroll" -> flags.get("scroll"),
          "slices" -> flags.get("slices"),
          "sort" -> flags.get("sort"),
          "query" -> flags.get("query"),
          // --mode pit selects point-in-time + search_after pagination
          // (the scroll API's modern replacement; default stays scroll,
          // the reference's own wire shape)
          "mode" -> flags.get("mode"),
          "retries" -> flags.get("retries"),
          "retry_backoff_ms" -> flags.get("retry-backoff-ms"))
          .collect { case (k, Some(v)) => k -> v }.toMap
        graft.sources.es.EsCatalog(http, readOptions)
      case None => graft.sources.ParquetDirCatalog(srcDir)
    }

    val config = DumpJob.Config(
      pattern = pattern,
      query = flags.get("query").filterNot(_ => esMode),
      fields = flags.get("fields").map(_.split(",").toSeq).getOrElse(Nil),
      // in ES mode the sort rides the wire only (the reference's
      // source-side semantics; it may also name pseudo-fields like _doc
      // that no local column backs — a local orderBy would fail on them
      // and re-sort the entire dump besides)
      sort = flags.get("sort").filterNot(_ => esMode)
        .map(_.split(",").toSeq).getOrElse(Nil),
      flatten = flags.contains("flatten"),
      maxPartitionBytes =
        if (flags.contains("no-partition")) None
        else flags.get("max-partition-mb").map(_.toLong * 1024 * 1024),
      sink = Sink.Config(
        format = output match {
          case "ndjson"            => "json"
          case "jsonl" | "stdout"  => "text"
          case f                   => f
        },
        compression = flags.get("compression").filter(_ != "uncompressed"),
        maxRecordsPerFile =
          if (flags.contains("no-partition")) Long.MaxValue
          else flags.get("max-partition-rows").map(_.toLong).getOrElse(1000000L),
        partitionBy = flags.get("partition-by").map(_.split(",").toSeq).getOrElse(Nil)))

    // reference log-level flags (:403-410): --debug wins over --quiet
    if (flags.contains("debug")) spark.sparkContext.setLogLevel("DEBUG")
    else if (flags.contains("quiet")) spark.sparkContext.setLogLevel("ERROR")
    val results =
      if (output == "stdout")
        // true streaming: lines reach stdout as partitions arrive, no
        // temp files (reference dump-es-parquet:250-253)
        DumpJob.streamJson(spark, catalog, config,
          msg => if (!flags.contains("quiet")) System.err.println(msg))(println)
      else DumpJob.run(spark, catalog, outDir, config)
    results.foreach {
      case DumpJob.Written(table, files, warnings) =>
        warnings.foreach { case (msg, n) => System.err.println(s"$table: $msg [$n documents]") }
        if (output != "stdout") System.err.println(s"$table: wrote ${files.length} file(s)")
      case DumpJob.Failed(table, e) =>
        System.err.println(s"$table: FAILED ${e.getMessage}")
    }
    results
  }

  /** Every flag `execute` reads, and whether it takes a value. */
  private val takesValue: Map[String, Boolean] =
    (Seq("src", "out", "output", "es", "timeout", "cert", "key", "capath",
      "size", "scroll", "slices", "sort", "query", "mode", "retries",
      "retry-backoff-ms", "fields", "max-partition-mb", "max-partition-rows",
      "compression", "partition-by").map(_ -> true) ++
      Seq("flatten", "no-partition", "quiet", "debug", "no-verify-certs")
        .map(_ -> false)).toMap

  /** Minimal GNU-ish flag parser: `--name value`, `--bool-flag`, free
    * args. An unknown `--name` fails rather than swallowing the next
    * argument as its value. */
  def parse(args: List[String], flags: Map[String, String] = Map.empty,
            positional: List[String] = Nil): (Map[String, String], List[String]) =
    args match {
      case Nil => (flags, positional.reverse)
      case flag :: rest if flag.startsWith("--") =>
        val name = flag.drop(2)
        takesValue.get(name) match {
          case Some(false) => parse(rest, flags + (name -> "true"), positional)
          case Some(true) => rest match {
            case v :: more => parse(more, flags + (name -> v), positional)
            case Nil => throw new IllegalArgumentException(s"missing value for --$name")
          }
          case None => throw new IllegalArgumentException(s"unknown flag --$name")
        }
      case p :: rest => parse(rest, flags, p :: positional)
    }
}
