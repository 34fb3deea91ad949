package graft.sources

import graft.{DumpJob, SparkSpec, Tables}
import graft.sinks.Sink
import graft.sources.jsonl.MapSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files

class JsonlSourceSpec extends SparkSpec {

  import spark.implicits._

  private val mapper = new ObjectMapper()

  test("DSv2 round-trip: raw dump read back typed through in-reader coercion") {
    val out = Files.createTempDirectory("jsonl_src").toString
    DumpJob.run(spark, sf(), out, DumpJob.Config(
      pattern = "nation", sink = Sink.Config(format = "text")))
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    val back = spark.read.format("graft-jsonl").schema(schema).load(s"$out/nation")
    val expected = Tables.load(spark, sf(), "nation")
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    assert(back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty)
  }

  test("column pruning reaches the reader (only projected fields coerced)") {
    val out = Files.createTempDirectory("jsonl_prune").toString
    DumpJob.run(spark, sf(), out, DumpJob.Config(
      pattern = "region", sink = Sink.Config(format = "text")))
    val schema = StructType(Seq(
      StructField("r_regionkey", LongType), StructField("r_name", StringType)))
    val df = spark.read.format("graft-jsonl").schema(schema).load(s"$out/region")
      .select($"r_name")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.head.scan.readSchema().fieldNames.toSeq == Seq("r_name"))
    assert(df.as[String].collect().sorted.length == 5)
  }

  test("count(*) pushdown: partial counts per file, corrupt/blank skip, filters refuse") {
    val dir = Files.createTempDirectory("jsonl_cnt").toString
    // two files, with blank + corrupt lines the row path also skips, and
    // non-object documents the row path emits as all-null rows
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      """{"k": 1}
        |
        |not json at all
        |{"k": 2}
        |123
        |null
        |"s"
        |[1]
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.jsonl"),
      """{"k": 3}
        |{"k": 4}
        |{"k": 5}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("k", LongType)))
    val df = spark.read.format("graft-jsonl").schema(schema).load(dir)

    val counted = df.groupBy().count()
    val scans = collectPlan(counted.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty &&
      scans.head.scan.description().contains("PushedAggregation=[COUNT(*)]"),
      scans.map(_.scan.description()).mkString("\n"))
    assert(counted.as[Long].head() == 9L, "pushed count == row-path count")
    assert(df.count() == 9L)
    assert(df.collect().length == 9, "the row path emits the same rows")

    // a filter above the scan must refuse the push and stay exact
    val filtered = df.filter($"k" > 2).groupBy().count()
    val fscans = collectPlan(filtered.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(fscans.forall(!_.scan.description().contains("PushedAggregation")),
      "filtered count must not push the aggregate")
    assert(filtered.as[Long].head() == 3L)
  }

  test("limit pushdown: reader stops after n rows per file; global cut stays exact") {
    val dir = Files.createTempDirectory("jsonl_limit")
    Files.writeString(dir.resolve("a.jsonl"),
      (1 to 1000).map(i => s"""{"k": $i}""").mkString("\n"))
    Files.writeString(dir.resolve("b.jsonl"),
      (1001 to 2000).map(i => s"""{"k": $i}""").mkString("\n"))
    val schema = StructType(Seq(StructField("k", LongType)))
    val df = spark.read.format("graft-jsonl").schema(schema).load(dir.toString).limit(3)
    // plan pin: the scan carries the pushed limit
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.jsonl.JsonlScan]
    }.head
    assert(scan.pushedLimit.contains(3), "limit must reach the jsonl scan")
    assert(df.count() == 3) // partial push: Spark's global limit still cuts
    // a filtered query must NOT starve through the pushed limit: Spark
    // keeps the Filter between limit and scan, so no push happens
    val filtered = spark.read.format("graft-jsonl").schema(schema)
      .load(dir.toString).filter($"k" > 1990).limit(5)
    val fScan = filtered.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.jsonl.JsonlScan]
    }.head
    assert(fScan.pushedLimit.isEmpty, "limit must not jump a residual filter")
    assert(filtered.count() == 5)
  }

  test("statistics: real file bytes reported; small dump broadcasts in a join") {
    val dir = Files.createTempDirectory("jsonl_stats")
    Files.writeString(dir.resolve("small.jsonl"),
      (1 to 20).map(i => s"""{"k": $i}""").mkString("\n"))
    val schema = StructType(Seq(StructField("k", LongType)))
    val small = spark.read.format("graft-jsonl").schema(schema).load(dir.toString)
    val scan = small.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.jsonl.JsonlScan]
    }.head
    val reported = scan.estimateStatistics().sizeInBytes()
    assert(reported.isPresent && reported.getAsLong > 0 &&
      reported.getAsLong < 10000, s"expected real file bytes, got $reported")
    val big = spark.range(100000).toDF("k")
    val joined = big.join(small, "k")
    val hasBroadcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBroadcast, "a tiny dump must be the broadcast side:\n" +
      joined.queryExecution.executedPlan)
  }

  test("schema-on-read fallback infers string fields from the first document") {
    val out = Files.createTempDirectory("jsonl_infer").toString
    DumpJob.run(spark, sf(), out, DumpJob.Config(
      pattern = "region", sink = Sink.Config(format = "text")))
    val df = spark.read.format("graft-jsonl").load(s"$out/region")
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.columns.contains("r_name") && df.count() == 5)
  }

  test("corrupt JSON lines are skipped, valid lines survive") {
    val dir = Files.createTempDirectory("jsonl_corrupt")
    Files.writeString(dir.resolve("t.jsonl"),
      """{"k": 1}
        |not json at all {{{
        |{"k": 3}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("k", LongType)))
    val out = spark.read.format("graft-jsonl").schema(schema)
      .load(dir.toString).as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("blank lines never become rows; inference skips corrupt lead lines") {
    val dir = Files.createTempDirectory("jsonl_blank")
    // whitespace-only lines parse to Jackson's MissingNode, which would
    // otherwise coerce into spurious all-null rows; a corrupt FIRST line
    // must not abort schema-on-read either
    Files.writeString(dir.resolve("t.jsonl"),
      "not json {{{\n \n\t\n{\"k\": 1}\n   \n{\"k\": 2}\n")
    val schema = StructType(Seq(StructField("k", LongType)))
    val typed = spark.read.format("graft-jsonl").schema(schema)
      .load(dir.toString).as[Long].collect().sorted
    assert(typed.toSeq == Seq(1L, 2L))
    // inference scans past the corrupt and blank lead lines to {"k": 1}
    val inferred = spark.read.format("graft-jsonl").load(dir.toString)
    assert(inferred.columns.toSeq == Seq("k"))
    assert(inferred.count() == 2)
  }

  test("JSONL reads as UTF-8 whatever the JVM's default charset") {
    val dir = Files.createTempDirectory("jsonl_utf8")
    Files.write(dir.resolve("a.jsonl"),
      "{\"name\": \"naïve 東京\", \"été\": 1}\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val typed = spark.read.format("graft-jsonl")
      .schema(StructType(Seq(StructField("name", StringType))))
      .load(dir.toString).as[String].collect()
    assert(typed.toSeq == Seq("naïve 東京"))
    // schema inference opens the file too
    val inferred = spark.read.format("graft-jsonl").load(dir.toString)
    assert(inferred.columns.toSeq == Seq("name", "été"))
    assert(inferred.select($"name").as[String].collect().toSeq == Seq("naïve 東京"))
  }

  test("map_source semantics: first-of-list, int(float), epoch heuristic, log-and-null") {
    def c(json: String, dt: DataType): Any =
      MapSource.coerceValue(mapper.readTree(json), dt)
    assert(c("[7, 8]", LongType) == 7L)                        // first of list
    assert(c("[]", LongType) == null)                          // empty -> null
    assert(c("\"3.7\"", LongType) == 3L)                       // int(float("3.7"))
    assert(c("\"-3.7\"", LongType) == -3L)                     // trunc toward zero
    assert(c("\"x\"", LongType) == null)                       // unparseable
    assert(c("19999999999", TimestampType) == 19999999999L * 1000000L) // seconds
    assert(c("20000000001", TimestampType) == 20000000001L * 1000L)    // millis
    assert(c("\"2024-03-01T12:30:00\"", TimestampType) ==
      java.time.Instant.parse("2024-03-01T12:30:00Z").getEpochSecond * 1000000L)
    assert(c("\"not a time\"", TimestampType) == null)
    assert(c("""{"a": 1}""", StringType).toString == """{"a":1}""") // object -> raw JSON
    assert(c("true", BooleanType) == true)
    assert(c("\"true\"", BooleanType) == true)                 // textual, like cast(string)
    assert(c("\" Yes \"", BooleanType) == true)                // trimmed, case-insensitive
    assert(c("\"0\"", BooleanType) == false)
    assert(c("\"maybe\"", BooleanType) == null)
  }

  test("differential: boolean coercion agrees with the Column-based Coerce stage") {
    val samples = Seq("true", "false", "t", "F", "yes", "No", "1", "0",
      " true ", "TRUE", "2", "maybe", "")
    val viaColumns = samples.toDF("v")
      .select(graft.operators.Coerce.coerceColumn($"v", StringType, BooleanType).as("b"))
      .collect().map(r => Option(r.get(0)))
    val viaReader = samples.map { s =>
      Option(MapSource.coerceValue(mapper.readTree(mapper.writeValueAsString(s)), BooleanType))
    }
    viaColumns.zip(viaReader).zip(samples).foreach { case ((a, b), s) =>
      assert(a == b, s"mismatch for '$s': columns=$a reader=$b")
    }
    // numeric JSON values through both paths (long 1 -> "1" -> true; 1.0 -> "1.0" -> null)
    val numCols = Seq(1L, 0L, 2L).toDF("v")
      .select(graft.operators.Coerce.coerceColumn($"v", LongType, BooleanType).as("b"))
      .collect().map(r => Option(r.get(0)))
    val numReader = Seq("1", "0", "2").map(j =>
      Option(MapSource.coerceValue(mapper.readTree(j), BooleanType)))
    assert(numCols.toSeq == numReader)
    assert(MapSource.coerceValue(mapper.readTree("1.0"), BooleanType) == null)
  }

  test("ISO-8601 variants: offset, space separator, date-only, fractional seconds") {
    def us(json: String): Any =
      MapSource.coerceValue(mapper.readTree(json), TimestampType)
    def instant(s: String) = java.time.Instant.parse(s)
    def micros(s: String) = instant(s).getEpochSecond * 1000000L + instant(s).getNano / 1000L
    assert(us("\"2024-03-01T12:30:00+02:00\"") == micros("2024-03-01T10:30:00Z"))
    assert(us("\"2024-03-01 12:30:00\"") == micros("2024-03-01T12:30:00Z"))
    assert(us("\"2024-03-01\"") == micros("2024-03-01T00:00:00Z"))
    assert(us("\"2024-03-01T12:30:00.250\"") == micros("2024-03-01T12:30:00.250Z"))
    assert(us("\"2024-03-01T12:30:00Z\"") == micros("2024-03-01T12:30:00Z"))
  }

  test("differential: in-reader coercion agrees with the Column-based Lenient stage") {
    // the same digit strings through both implementations
    val samples = Seq("0", "3", "-3", "3.7", "-3.7", "x", "19999999999",
      "20000000000", "2024", "2024-03-01T12:30:00", "not a time", "9" * 30)
    val viaColumns = samples.toDF("v")
      .select(graft.functions.Lenient.lenientLong($"v").as("l"),
        graft.functions.Lenient.lenientTimestamp($"v").as("t"))
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)).map(_.toString)))
    val viaReader = samples.map { s =>
      val n = mapper.readTree(mapper.writeValueAsString(s)) // as JSON string node
      val l = Option(MapSource.coerceValue(n, LongType))
      val t = Option(MapSource.coerceValue(n, TimestampType)).map { micros =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          micros.asInstanceOf[Long] / 1000000L,
          (micros.asInstanceOf[Long] % 1000000L) * 1000L)).toString
      }
      (l, t)
    }
    viaColumns.zip(viaReader).zip(samples).foreach { case ((a, b), s) =>
      assert(a == b, s"mismatch for '$s': columns=$a reader=$b")
    }
  }
}
