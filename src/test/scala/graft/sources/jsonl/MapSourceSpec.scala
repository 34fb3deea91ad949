package graft.sources.jsonl

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant

import graft.SparkSpec
import graft.operators.Coerce
import graft.sources.es.EsApi
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._

/** Parity of the streaming kernel (`MapSource.read` over document bytes)
  * with the Column-based Coerce stage — the independent implementation
  * of the same rules — and with fixed expected values, over the corpus of
  * shapes the reader has to get right. The oracle frame is the document
  * read by Spark's own JSON reader, then coerced column-wise. Where the
  * two implementations disagree by design, the field is named in
  * `notOracle` with the reason, and only the fixed value pins it. */
class MapSourceSpec extends SparkSpec {

  import spark.implicits._

  private def ts(iso: String): Timestamp = Timestamp.from(Instant.parse(iso))

  private def bytePath(doc: String, schema: StructType): Row = {
    val p = MapSource.json.createParser(doc.getBytes(UTF_8))
    try {
      p.nextToken()
      CatalystTypeConverters.createToScalaConverter(schema)(MapSource.read(p, schema))
        .asInstanceOf[Row]
    } finally p.close()
  }

  private def columnPath(doc: String, schema: StructType): Row =
    Coerce(schema)(spark.read.json(Seq(doc).toDS())).collect().head

  private case class Case(name: String, doc: String, schema: StructType,
                          expected: Seq[Any], notOracle: Map[String, String] = Map.empty)

  private def check(c: Case): Unit = {
    val got = bytePath(c.doc, c.schema)
    assert(got == Row.fromSeq(c.expected), s"${c.name}: fixed values, doc ${c.doc}")
    val checked = c.schema.fieldNames.zipWithIndex.filterNot(f => c.notOracle.contains(f._1))
    if (checked.nonEmpty) {
      val oracle = columnPath(c.doc, c.schema)
      checked.foreach { case (f, i) =>
        assert(got.get(i) == oracle.get(i),
          s"${c.name}: field $f reader=${got.get(i)} columns=${oracle.get(i)}, doc ${c.doc}")
      }
    }
  }

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val inner = schema("x" -> LongType, "y" -> StringType)

  private val corpus = Seq(
    Case("scalars wrapped in lists keep the first element",
      """{"l":[7,8],"d":["2.5","x"],"s":["a","b"],"b":[true,false],"t":[1700000000]}""",
      schema("l" -> LongType, "d" -> DoubleType, "s" -> StringType, "b" -> BooleanType,
        "t" -> TimestampType),
      Seq(7L, 2.5, "a", true, ts("2023-11-14T22:13:20Z"))),
    Case("empty lists are null, or empty into an array column",
      """{"l":[],"s":[],"a":[]}""",
      schema("l" -> LongType, "s" -> StringType, "a" -> ArrayType(LongType)),
      Seq(null, null, Seq.empty)),
    Case("nested lists and objects into struct and string columns",
      """{"o":{"x":"5","y":{"z":1}},"so":{"b":1,"a":[1,2]},"sl":[[1,2],3],"al":[[1],[2,3]]}""",
      schema("o" -> inner, "so" -> StringType, "sl" -> StringType,
        "al" -> ArrayType(ArrayType(LongType))),
      Seq(Row(5L, """{"z":1}"""), """{"b":1,"a":[1,2]}""", "[1,2]", Seq(Seq(1L), Seq(2L, 3L))),
      notOracle = Map("so" ->
        "to_json prints an inferred struct's keys sorted; the reader keeps document order")),
    Case("numbers into string columns print as a JSON tree prints them",
      """{"a":1.50,"b":1E3,"c":1e400,"d":-0,"e":12}""",
      schema("a" -> StringType, "b" -> StringType, "c" -> StringType, "d" -> StringType,
        "e" -> StringType),
      Seq("1.5", "1000.0", "\"Infinity\"", "0", "12"),
      notOracle = Map("c" ->
        "a JSON tree quotes a non-finite double; a string cast prints it bare")),
    Case("duplicate keys: the last one wins",
      """{"a":1,"a":2,"o":{"x":1,"x":3}}""",
      schema("a" -> LongType, "o" -> inner),
      Seq(2L, Row(3L, null)),
      notOracle = Seq("a", "o").map(_ -> ("Spark's JSON reader infers a column per copy of " +
        "the key, which the Coerce stage cannot resolve")).toMap),
    Case("integers beyond the Long range read as int(float(v))",
      """{"l":123456789012345678901234567890,"n":-123456789012345678901234567890,""" +
        """"d":123456789012345678901234567890,"s":123456789012345678901234567890,""" +
        """"t":123456789012345678901234567890}""",
      schema("l" -> LongType, "n" -> LongType, "d" -> DoubleType, "s" -> StringType,
        "t" -> TimestampType),
      Seq(Long.MaxValue, Long.MinValue, 1.2345678901234568e29,
        "123456789012345678901234567890", null)),
    Case("escaped and non-ASCII strings",
      "{\"s\":\"q\\\"b\\\\s\\n\\u00e9\\ud83d\\ude00 naïve 東京\"}",
      schema("s" -> StringType),
      Seq("q\"b\\s\né😀 naïve 東京")),
    Case("timestamps",
      """{"z":"2024-03-01T12:30:00Z","zf":"2024-03-01T12:30:00.123456Z",""" +
        """"off":"2024-03-01T12:30:00+02:00","sp":"2024-03-01 12:30:00","d":"2024-03-01",""" +
        """"leap":"2016-12-31T23:59:60Z","feb":"2024-02-30T00:00:00Z",""" +
        """"pad":"  2024-03-01T12:30:00Z ","sec":19999999999,"ms":20000000001,""" +
        """"secs":"19999999999"}""",
      schema("z" -> TimestampType, "zf" -> TimestampType, "off" -> TimestampType,
        "sp" -> TimestampType, "d" -> TimestampType, "leap" -> TimestampType,
        "feb" -> TimestampType, "pad" -> TimestampType, "sec" -> TimestampType,
        "ms" -> TimestampType, "secs" -> TimestampType),
      Seq(ts("2024-03-01T12:30:00Z"), ts("2024-03-01T12:30:00.123456Z"),
        ts("2024-03-01T10:30:00Z"), ts("2024-03-01T12:30:00Z"), ts("2024-03-01T00:00:00Z"),
        null, null, ts("2024-03-01T12:30:00Z"), ts("2603-10-11T11:33:19Z"),
        ts("1970-08-20T11:33:20.001Z"), ts("2603-10-11T11:33:19Z"))))

  corpus.foreach(c => test(s"byte path: ${c.name}")(check(c)))

  test("the JsonNode layers decode like the byte path") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    corpus.foreach { c =>
      val viaTree = CatalystTypeConverters.createToScalaConverter(c.schema)(
        MapSource.coerce(mapper.readTree(c.doc), c.schema))
      assert(viaTree == bytePath(c.doc, c.schema), c.name)
    }
  }

  private val page = schema("a" -> LongType)

  test("pages: missing, false or non-object _source gives a row of nulls") {
    val body = """{"hits":{"hits":[{"_id":"1"},{"_source":false},{"_source":[1]},""" +
      """{"_source":"x"},{"_source":null},{"_source":{"a":"4"}}]}}"""
    val rows = EsApi.readPage(body.getBytes(UTF_8), page).hits
    assert(rows.map(r => if (r.isNullAt(0)) null else r.getLong(0)) ==
      Seq(null, null, null, null, null, 4L))
    val trees = EsApi.parsePage(body).hits.map(MapSource.coerce(_, page))
    assert(trees.map(r => if (r.isNullAt(0)) null else r.getLong(0)) ==
      Seq(null, null, null, null, null, 4L))
  }

  test("pages: ES6 and ES7 total shapes; _scroll_id after hits; last hit's sort") {
    val es6 = EsApi.readPage(
      """{"hits":{"total":9,"hits":[{"_source":{"a":1}}]},"_scroll_id":"s1"}"""
        .getBytes(UTF_8), page)
    assert(es6.total == 9 && es6.totalRelation.isEmpty && es6.scrollId.contains("s1"))
    assert(es6.hits.map(_.getLong(0)) == Seq(1L))
    val es7 = EsApi.readPage(
      ("""{"pit_id":"p2","hits":{"hits":[{"_source":{"a":1},"sort":[1]},""" +
        """{"sort":[5,"k"],"_source":{"a":2}}],"total":{"relation":"gte","value":10000}}}""")
        .getBytes(UTF_8), page)
    assert(es7.total == 10000 && es7.totalRelation.contains("gte"))
    assert(es7.pitId.contains("p2") && es7.scrollId.isEmpty)
    assert(es7.lastSort.map(_.toString).contains("""[5,"k"]"""))
    assert(es7.hits.map(_.getLong(0)) == Seq(1L, 2L))
  }

  test("pages: every cut of a body throws; none passes for the end of hits") {
    val body = """{"_scroll_id":"s","hits":{"total":{"value":2,"relation":"eq"},""" +
      """"hits":[{"_source":{"a":1,"s":"x"}},{"_source":{"a":[2,3]},"sort":[1]}]}}"""
    val bytes = body.getBytes(UTF_8)
    (0 until bytes.length).foreach { n =>
      intercept[Exception](EsApi.readPage(java.util.Arrays.copyOf(bytes, n), page))
    }
    assert(EsApi.readPage(bytes, page).hits.size == 2)
  }
}
