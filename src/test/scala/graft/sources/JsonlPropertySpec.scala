package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.SparkSpec
import graft.sources.jsonl.MapSource
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property coverage for the reader path: arbitrary JSON documents
  * through MapSource.coerce and the byte path the readers take
  * (totality + well-typedness + agreement with the Column-side Lenient
  * stage) and through RowFilter (pushdown must never change results vs
  * filtering above the scan). Seeded batches, so failures reproduce. */
class JsonlPropertySpec extends SparkSpec {

  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** Scalars spanning every coercion edge: huge ints, E-notation, epoch
    * candidates, ISO-ish dates, boolean words, unicode, empties. */
  private val scalarGen: Gen[Any] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue),
    Gen.choose(-1e300, 1e300),
    Gen.choose(-3.0, 3.0),
    Gen.oneOf(true, false),
    Gen.alphaNumStr,
    Gen.oneOf("3.7", "-3.7", "1e18", "2.5E3", "2e10", "9" * 30, "-" + "7" * 25,
      "2024-03-01", "2024-03-01T12:30:00", "2024-03-01 12:30:00+02:00",
      " yes ", "No", "t", "0", "1", "null", "", "   ", "é世\"\\\nx", "NaN", "Inf"),
    Gen.choose(-30000000000L, 40000000000L), // straddles the epoch boundary
    Gen.oneOf(BigInt("1" + "0" * 20), BigInt("-" + "9" * 25)), // beyond the Long range
    Gen.const(null))

  private val valueGen: Gen[Any] = Gen.frequency(
    6 -> scalarGen,
    1 -> Gen.listOf(scalarGen).map(l => l: Any), // arrays, incl. empty
    1 -> scalarGen.map(v => Map("x" -> v): Any),
    1 -> Gen.const(Map.empty[String, Any]: Any))

  private val fieldNames =
    Seq("k_long", "k_int", "k_short", "k_byte", "k_double", "k_float",
      "k_bool", "k_str", "k_ts", "k_arr", "k_obj")

  private val docGen: Gen[Map[String, Any]] = for {
    present <- Gen.someOf(fieldNames) // missing fields are part of the space
    vals <- Gen.sequence[List[Any], Any](present.map(_ => valueGen).toList)
  } yield present.zip(vals).toMap

  private def toNode(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
    case null => mapper.nullNode()
    case l: Long => mapper.getNodeFactory.numberNode(l)
    case d: Double => mapper.getNodeFactory.numberNode(d)
    case b: BigInt => mapper.getNodeFactory.numberNode(b.bigInteger)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case s: String => mapper.getNodeFactory.textNode(s)
    case l: List[_] =>
      val a: ArrayNode = mapper.createArrayNode()
      l.foreach(e => a.add(toNode(e)))
      a
    case m: Map[_, _] =>
      val o: ObjectNode = mapper.createObjectNode()
      m.foreach { case (k, e) => o.set[ObjectNode](k.toString, toNode(e)) }
      o
  }

  private val schema = StructType(Seq(
    StructField("k_long", LongType), StructField("k_int", IntegerType),
    StructField("k_short", ShortType), StructField("k_byte", ByteType),
    StructField("k_double", DoubleType), StructField("k_float", FloatType),
    StructField("k_bool", BooleanType), StructField("k_str", StringType),
    StructField("k_ts", TimestampType),
    StructField("k_arr", ArrayType(LongType)),
    StructField("k_obj", StructType(Seq(StructField("x", LongType))))))

  private def docs(n: Int, seed: Long): Seq[Map[String, Any]] =
    Gen.listOfN(n, docGen).pureApply(Gen.Parameters.default, Seed(seed))

  private def wellTyped(v: Any, dt: DataType): Boolean = v == null || (dt match {
    case LongType | TimestampType => v.isInstanceOf[java.lang.Long]
    case IntegerType => v.isInstanceOf[java.lang.Integer]
    case ShortType => v.isInstanceOf[java.lang.Short]
    case ByteType => v.isInstanceOf[java.lang.Byte]
    case DoubleType => v.isInstanceOf[java.lang.Double]
    case FloatType => v.isInstanceOf[java.lang.Float]
    case BooleanType => v.isInstanceOf[java.lang.Boolean]
    case StringType => v.isInstanceOf[UTF8String]
    case ArrayType(et, _) => v match {
      case a: ArrayData =>
        (0 until a.numElements()).forall { i =>
          a.isNullAt(i) || wellTyped(a.get(i, et), et)
        }
      case _ => false
    }
    case st: StructType => v match {
      case r: InternalRow =>
        st.fields.zipWithIndex.forall { case (f, i) =>
          r.isNullAt(i) || wellTyped(r.get(i, f.dataType), f.dataType)
        }
      case _ => false
    }
    case _ => false
  })

  test("property: coerce is total and well-typed over arbitrary documents") {
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(schema)
    docs(600, seed = 1L).foreach { doc =>
      val node = toNode(doc)
      val row = MapSource.coerce(node, schema) // must never throw
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = if (row.isNullAt(i)) null else row.get(i, f.dataType)
        assert(wellTyped(v, f.dataType),
          s"field ${f.name} ill-typed for doc ${mapper.writeValueAsString(node)}: $v")
      }
      // the reader's byte path: the document's JSON bytes, no tree
      val p = MapSource.json.createParser(mapper.writeValueAsBytes(node))
      p.nextToken()
      assert(toRow(MapSource.read(p, schema)) == toRow(row),
        s"byte path differs for doc ${mapper.writeValueAsString(node)}")
    }
  }

  test("property: reader-side scalar coercion agrees with the Column-side Lenient stage") {
    // arbitrary STRINGS through both implementations — the invariant that
    // was twice fixed by hand (E-notation epochs, boolean words)
    val strGen = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.numStr, Gen.numStr.map("-" + _),
      Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
      Gen.choose(-1e19, 1e19).map(_.toString),
      Gen.choose(-30000000000L, 40000000000L).map(_.toString),
      Gen.oneOf("3.7", "-3.7", "1e18", "2.5E3", "2e10", "9" * 30,
        "2024-03-01", "2024-03-01T12:30:00", "x", "", " 42 "))
    val samples = Gen.listOfN(400, strGen).pureApply(Gen.Parameters.default, Seed(7L))
    val viaColumns = samples.toDF("v")
      .select(graft.functions.Lenient.lenientLong($"v").as("l"),
        graft.functions.Lenient.lenientTimestamp($"v").cast("long").as("t"),
        graft.operators.Coerce.coerceColumn($"v", StringType, BooleanType).as("b"),
        graft.functions.Lenient.lenientDouble($"v").as("d"))
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    val viaReader = samples.map { s =>
      val n = mapper.getNodeFactory.textNode(s)
      (Option(MapSource.coerceValue(n, LongType)),
        // timestamp compared at seconds granularity, like cast-to-long
        Option(MapSource.coerceValue(n, TimestampType))
          .map(m => Math.floorDiv(m.asInstanceOf[Long], 1000000L)),
        Option(MapSource.coerceValue(n, BooleanType)),
        Option(MapSource.coerceValue(n, DoubleType)))
    }
    viaColumns.zip(viaReader).zip(samples).foreach { case ((a, b), s) =>
      assert(a == b, s"mismatch for input '$s': columns=$a reader=$b")
    }
  }

  test("property: pushed filters never change results vs filtering above the scan") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_prop")
    val lines = docs(400, seed = 13L)
      .map(d => mapper.writeValueAsString(toNode(d))).mkString("\n")
    java.nio.file.Files.writeString(dir.resolve("docs.jsonl"), lines)
    val src = spark.read.format("graft-jsonl").schema(schema).load(dir.toString)
    // baseline frame is materialized so its filters CANNOT push down
    val all = src.collect()
    val baseline = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(all: _*)), schema)
    val preds = Seq(
      $"k_long" > 0L, $"k_long" === 42L, $"k_long".isNull, $"k_long".isNotNull,
      $"k_str" < "m", $"k_double" <= 0.0, $"k_double" === 0.0,
      $"k_ts".isNotNull, $"k_bool" === true,
      $"k_long" > 0L && $"k_str".isNotNull)
    preds.foreach { p =>
      val pushed = src.filter(p).collect().map(_.toString).sorted.toSeq
      val direct = baseline.filter(p).collect().map(_.toString).sorted.toSeq
      assert(pushed == direct, s"pushdown changed results for predicate $p")
    }
  }
}
