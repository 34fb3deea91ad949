package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** CLI surface: the reference's invocation shape drives the same pipeline. */
class DumpSpec extends SparkSpec {

  private def files(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .toSeq.sorted

  test("flag parser: values, booleans, positionals") {
    val (flags, pos) = Dump.parse(List(
      "nation", "--src", "/x", "--flatten", "--fields", "n_*", "--max-partition-rows", "7"))
    assert(pos == List("nation"))
    assert(flags == Map("src" -> "/x", "flatten" -> "true",
      "fields" -> "n_*", "max-partition-rows" -> "7"))
  }

  test("flag parser: an unknown flag fails instead of swallowing the next argument") {
    val slice = intercept[IllegalArgumentException](
      Dump.parse(List("idx", "--slice", "4")))
    assert(slice.getMessage.contains("--slice"), slice.getMessage)
    val typo = intercept[IllegalArgumentException](
      Dump.parse(List("idx", "--no-partiton", "--out", "/x")))
    assert(typo.getMessage.contains("--no-partiton"), typo.getMessage)
  }

  test("reference-shaped invocation dumps with rotation, format, and pushdowns") {
    val out = Files.createTempDirectory("dump_cli").toString
    val results = Dump.execute(spark, Array(
      "nation",
      "--src", sf(), "--out", out,
      "--output", "ndjson",
      "--query", "n_regionkey < 2",
      "--fields", "n_nationkey,n_name",
      "--sort", "n_nationkey:asc",
      "--max-partition-rows", "4"))
    assert(results.forall(_.isInstanceOf[DumpJob.Written]))
    // 10 rows at 4/file -> 3 ndjson files named {table}-NNNN.ndjson
    assert(files(s"$out/nation") ==
      Seq("nation-0000.ndjson", "nation-0001.ndjson", "nation-0002.ndjson"))
    val back = spark.read.json(s"$out/nation")
    assert(back.columns.sorted.toSeq == Seq("n_name", "n_nationkey"))
    assert(back.count() ==
      Tables.load(spark, sf(), "nation").filter("n_regionkey < 2").count())
  }

  test("stdout mode streams sorted JSON lines without writing any files") {
    val out = Files.createTempDirectory("dump_stdout").toString
    val buf = new java.io.ByteArrayOutputStream()
    val results = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Dump.execute(spark, Array(
        "nation",
        "--src", sf(), "--out", out,
        "--output", "stdout",
        "--sort", "n_nationkey:desc",
        "--quiet"))
    }
    assert(results.forall(_.isInstanceOf[DumpJob.Written]))
    // no files materialized — the lines went straight to stdout
    assert(files(out).isEmpty)
    val lines = buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    assert(lines.size == Tables.load(spark, sf(), "nation").count())
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // --sort is honored in the emitted order (reference P3 contract)
    val keys = lines.map(l => "\"n_nationkey\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt)
    assert(keys == keys.sortBy(-_), s"expected descending n_nationkey, got $keys")
  }

  test("--es mode: the reference's own invocation runs cluster -> parquet") {
    val stub = new graft.sources.es.StubEsServer(
      initialIndices = Map(
        "logs-a" -> (1 to 7).map(i => s"""{"seq":$i,"msg":"a$i"}"""),
        "logs-b" -> (1 to 3).map(i => s"""{"seq":$i,"msg":"b$i"}""")),
      mappings = Map(
        "logs-a" -> """{"seq":{"type":"long"},"msg":{"type":"keyword"}}""",
        "logs-b" -> """{"seq":{"type":"long"},"msg":{"type":"keyword"}}"""))
    try {
      val out = Files.createTempDirectory("dump_es_cli").toString
      val results = Dump.execute(spark, Array(
        "logs-*",
        "--es", stub.url, "--out", out,
        "--size", "3", "--slices", "2",
        "--quiet"))
      assert(results.map(_.table).sorted == Seq("logs-a", "logs-b"))
      assert(results.forall(_.isInstanceOf[DumpJob.Written]))
      val a = spark.read.parquet(s"$out/logs-a")
      assert(a.count() == 7)
      assert(a.columns.sorted.toSeq == Seq("msg", "seq"))
      assert(spark.read.parquet(s"$out/logs-b").count() == 3)
      // the scroll knobs reached the wire: paged search with slice clauses
      assert(stub.searchRequests.exists(_._3.contains("\"slice\"")))
      assert(stub.searchRequests.exists(_._3.contains("\"size\":3")))
    } finally stub.close()
  }

  test("--es --mode pit: CLI selects PIT + search_after pagination") {
    val stub = new graft.sources.es.StubEsServer(
      initialIndices = Map(
        "logs-p" -> (1 to 9).map(i => s"""{"seq":$i,"msg":"p$i"}""")),
      mappings = Map(
        "logs-p" -> """{"seq":{"type":"long"},"msg":{"type":"keyword"}}"""))
    try {
      val out = Files.createTempDirectory("dump_es_pit").toString
      val results = Dump.execute(spark, Array(
        "logs-p",
        "--es", stub.url, "--out", out,
        "--size", "4", "--mode", "pit",
        "--quiet"))
      assert(results.forall(_.isInstanceOf[DumpJob.Written]))
      assert(spark.read.parquet(s"$out/logs-p").count() == 9)
      // the mode reached the wire: PIT opened, no scroll context
      assert(stub.searchRequests.exists(_._3.contains("\"pit\"")),
        "expected PIT search bodies")
      assert(!stub.searchRequests.exists(_._1.contains("scroll=")),
        "PIT mode must not open scroll contexts")
    } finally stub.close()
  }

  test("glob pattern fans out to multiple tables, isolated per table") {
    val out = Files.createTempDirectory("dump_cli2").toString
    val results = Dump.execute(spark, Array(
      "*ion", "--src", sf(), "--out", out)) // region + nation
    assert(results.map(_.table).sorted == Seq("nation", "region"))
    assert(results.forall(_.isInstanceOf[DumpJob.Written]))
  }

  test("--output jsonl with --max-partition-mb rotates raw JSON lines") {
    // the byte probe writes what the sink writes: serialized JSON lines,
    // never the typed frame the text writer cannot take
    val out = Files.createTempDirectory("dump_jsonl_mb").toString
    val results = Dump.execute(spark, Array(
      "lineitem", "--src", sf(), "--out", out,
      "--output", "jsonl", "--max-partition-mb", "1", "--quiet"))
    assert(results.forall(_.isInstanceOf[DumpJob.Written]), results)
    val names = files(s"$out/lineitem")
    assert(names.length > 1 && names.forall(_.endsWith(".jsonl")), names)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = names.flatMap(n =>
      Files.readAllLines(java.nio.file.Paths.get(s"$out/lineitem/$n")).asScala)
    assert(lines.forall(l => mapper.readTree(l).isObject))
    assert(lines.size == Tables.load(spark, sf(), "lineitem").count())
  }
}
