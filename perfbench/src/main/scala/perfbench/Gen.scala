package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Seeded generator of the fixture tables (the TPC-H-ish star schema plus
  * `events`, `documents` and `embeddings`, with the shapes and value
  * ranges the query suite was written against).
  *
  * Every value is a pure function of (seed, table, row index), so the
  * Spark side (typed parquet fixtures, expected dump hashes) and the ES
  * responder process (pre-rendered `_source` pages) produce the same
  * documents without exchanging data. Timestamps are epoch micros here
  * and become TIMESTAMP columns in [[frame]].
  */
object Gen {

  /** Column kinds, named after the ES mapping types they are served as. */
  final case class Col(name: String, kind: String)

  val specs: Map[String, Seq[Col]] = Map(
    "region" -> Seq(Col("r_regionkey", "integer"), Col("r_name", "keyword")),
    "nation" -> Seq(Col("n_nationkey", "integer"), Col("n_name", "keyword"),
      Col("n_regionkey", "integer")),
    "customer" -> Seq(Col("c_custkey", "long"), Col("c_name", "keyword"),
      Col("c_nationkey", "integer"), Col("c_acctbal", "double"),
      Col("c_mktsegment", "keyword")),
    "supplier" -> Seq(Col("s_suppkey", "long"), Col("s_name", "keyword"),
      Col("s_nationkey", "integer"), Col("s_acctbal", "double")),
    "part" -> Seq(Col("p_partkey", "long"), Col("p_name", "keyword"),
      Col("p_brand", "keyword"), Col("p_type", "keyword"), Col("p_size", "integer"),
      Col("p_retailprice", "double")),
    "orders" -> Seq(Col("o_orderkey", "long"), Col("o_custkey", "long"),
      Col("o_orderstatus", "keyword"), Col("o_totalprice", "double"),
      Col("o_orderdate", "date"), Col("o_orderpriority", "keyword")),
    "lineitem" -> Seq(Col("l_orderkey", "long"), Col("l_partkey", "long"),
      Col("l_suppkey", "long"), Col("l_linenumber", "integer"),
      Col("l_quantity", "double"), Col("l_extendedprice", "double"),
      Col("l_discount", "double"), Col("l_tax", "double"),
      Col("l_returnflag", "keyword"), Col("l_linestatus", "keyword"),
      Col("l_shipdate", "date")),
    // props is one JSON object {"k": n}; `props_k` carries n
    "events" -> Seq(Col("event_id", "long"), Col("ts", "date"), Col("user_id", "long"),
      Col("event_type", "keyword"), Col("value", "double"), Col("props_k", "long")),
    "documents" -> Seq(Col("doc_id", "long"), Col("text", "keyword"),
      Col("lang", "keyword"), Col("source", "keyword"), Col("n_chars", "long")),
    "embeddings" -> Seq(Col("vec_id", "long"), Col("embedding", "vector"),
      Col("label", "integer")))

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def count(table: String, sf: Double): Long = {
    def scaled(base: Double) = math.max(1L, math.round(base * sf))
    table match {
      case "region"     => 5
      case "nation"     => 25
      case "customer"   => scaled(150000)
      case "supplier"   => scaled(10000)
      case "part"       => scaled(200000)
      case "orders"     => scaled(1500000)
      case "lineitem"   => scaled(6000000)
      case "events"     => scaled(1000000)
      case "documents"  => math.max(500L, scaled(50000))
      case "embeddings" => math.min(2000L, math.max(500L, scaled(20000)))
    }
  }

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The random stream of one row: a pure function of its coordinates. */
  final class Rng(seed: Long, stream: Long, i: Long) {
    private var s = mix(mix(seed) ^ mix(stream * 0x100000001B3L + i))
    def next(): Long = { s = mix(s); s }
    def uniform(): Double = (next() >>> 11) * (1.0 / (1L << 53))
    def below(n: Int): Int = ((next() >>> 1) % n).toInt
    def belowL(n: Long): Long = (next() >>> 1) % n
    def gaussian(): Double =
      math.sqrt(-2 * math.log(1 - uniform())) * math.cos(2 * math.Pi * uniform())
  }

  private def stream(table: String): Long = tables.indexOf(table).toLong + 1

  private val Day = 86400L * 1000000L
  private val Y1995 = 789004800L * 1000000L   // 1995-01-01T00:00:00Z
  private val Y2024 = 1704067200L * 1000000L  // 2024-01-01T00:00:00Z
  private def round2(d: Double) = math.round(d * 100) / 100.0

  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatuses = Array("F", "O")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Array("small", "red", "blue", "hot", "cold", "old")
  private val nouns = Array("widget", "plate", "ring", "gizmo", "bolt")
  private val ptypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val vocab = Array("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "window", "order", "data", "column",
    "join", "small", "line", "customer", "query", "filter", "sort", "group", "big",
    "stream", "vector")

  private def baseText(seed: Long, i: Long): String = {
    val r = new Rng(seed, 101, i)
    val n = 8 + r.below(85)
    val sb = new StringBuilder
    var k = 0
    while (k < n) { if (k > 0) sb += ' '; sb ++= vocab(r.below(vocab.length)); k += 1 }
    sb.toString
  }

  /** One row's values in spec order. */
  def row(table: String, seed: Long, sf: Double, i: Long): Array[Any] = {
    val r = new Rng(seed, stream(table), i)
    table match {
      case "region" =>
        Array(i.toInt, regions(i.toInt))
      case "nation" => Array(i.toInt, s"NATION_$i", (i % 5).toInt)
      case "customer" =>
        Array(i, f"Customer#$i%09d", r.below(25), round2(-999.99 + r.uniform() * 10999.98),
          segments(r.below(segments.length)))
      case "supplier" =>
        Array(i, f"Supplier#$i%09d", r.below(25), round2(-999.99 + r.uniform() * 10999.98))
      case "part" =>
        Array(i, s"${adjectives(r.below(adjectives.length))} ${nouns(r.below(nouns.length))}",
          s"Brand#${1 + r.below(25)}", ptypes(r.below(ptypes.length)), 1 + r.below(50),
          900.0 + (i % 1000) / 10.0)
      case "orders" =>
        Array(i, r.belowL(count("customer", sf)), statuses(r.below(3)),
          round2(1000 + r.uniform() * 500000), Y1995 + r.below(2404) * Day,
          priorities(r.below(priorities.length)))
      case "lineitem" =>
        val qty = 1 + r.uniform() * 49
        Array(r.belowL(count("orders", sf)), r.belowL(count("part", sf)),
          r.belowL(count("supplier", sf)), 1 + r.below(7), qty,
          qty * (900 + r.uniform() * 100), r.uniform() * 0.1, r.below(9) / 100.0,
          returnFlags(r.below(3)), lineStatuses(r.below(2)),
          Y1995 + (1 + r.below(2500)) * Day)
      case "events" =>
        // one event per ~26 s over 30 days at sf0.01; ts at millisecond
        // precision so the epoch-millis lenient shape is lossless
        val n = count("events", sf)
        val span = 30 * Day
        val ts = Y2024 + (i * span / n / 1000 + r.belowL(span / n / 1000 + 1)) * 1000
        Array(i, ts, r.belowL(math.max(1L, math.round(15000 * sf))),
          eventTypes(r.below(eventTypes.length)),
          math.max(0.01, round2(-50 * math.log(1 - r.uniform()))), r.below(100).toLong)
      case "documents" =>
        // every 20th document is a near-duplicate: another one's text + " dup"
        val text =
          if (i % 20 == 8) baseText(seed, r.belowL(count("documents", sf))) + " dup"
          else baseText(seed, i)
        Array(i, text, langs(r.below(langs.length)), s"src${i % 20}", text.length.toLong)
      case "embeddings" =>
        val v = Array.fill(64)(r.gaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Array(i, v.map(x => (x / norm).toFloat), r.below(10))
    }
  }

  private def sparkType(kind: String): DataType = kind match {
    case "long"    => LongType
    case "integer" => IntegerType
    case "double"  => DoubleType
    case "keyword" => StringType
    case "date"    => LongType // micros; converted in [[frame]]
    case "vector"  => ArrayType(FloatType, containsNull = false)
  }

  /** The table as a typed DataFrame. As a query fixture (`fixture`),
    * timestamps are TIMESTAMP_NTZ (parquet isAdjustedToUTC=false, like the
    * fixtures the query suite was written against) and `events.props` is
    * its JSON string; otherwise the frame has the dump's output shape:
    * session TIMESTAMPs and the flattened `props_k`. */
  def frame(spark: SparkSession, table: String, seed: Long, sf: Double,
            fixture: Boolean, parts: Int): DataFrame = {
    val spec = specs(table)
    val schema = StructType(spec.map(c => StructField(c.name, sparkType(c.kind))))
    val n = count(table, sf)
    val rows = spark.sparkContext.range(0, n, 1, math.max(1, math.min(parts, (n / 1000).toInt)))
      .map(i => Row.fromSeq(row(table, seed, sf, i).toSeq.map {
        case a: Array[Float] => a.toSeq
        case v => v
      }))
    val raw = spark.createDataFrame(rows, schema)
    raw.select(spec.map { c =>
      if (c.kind == "date") {
        val ts = expr(s"timestamp_micros(`${c.name}`)")
        (if (fixture) ts.cast(TimestampNTZType) else ts).alias(c.name)
      } else if (fixture && c.name == "props_k") expr("concat('{\"k\": ', props_k, '}')").alias("props")
      else col(c.name)
    }: _*)
  }
}
