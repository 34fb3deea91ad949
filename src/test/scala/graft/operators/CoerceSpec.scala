package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** T1 assembled coercion stage + T6 observability
  * (reference dump-es-parquet:112-183, :85,304-305,352-353). */
class CoerceSpec extends SparkSpec {

  import spark.implicits._

  test("unknown source fields dropped; missing target fields null-filled") {
    val df = Seq(("1", "junk")).toDF("keep", "extra")
    val target = StructType(Seq(
      StructField("keep", LongType), StructField("absent", StringType)))
    val out = Coerce(target)(df)
    assert(out.schema == target)
    assert(out.collect().head.toSeq == Seq(1L, null))
  }

  test("lenient scalar rules apply per field type") {
    val df = Seq(("3.7", "2.5", "20000000001", "anything")).toDF("i", "f", "ts", "s")
    val target = StructType(Seq(
      StructField("i", LongType), StructField("f", DoubleType),
      StructField("ts", TimestampType), StructField("s", StringType)))
    val r = Coerce(target)(df).collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 2.5)
    assert(r.getTimestamp(2).toInstant.toString == "1970-08-20T11:33:20.001Z")
    assert(r.getString(3) == "anything")
  }

  test("array source scalarizes to coerced first element; empty -> null (T2)") {
    val df = Seq((Seq("7", "8"), Seq.empty[String])).toDF("a", "b")
    val target = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    assert(Coerce(target)(df).collect().head.toSeq == Seq(7L, null))
  }

  test("array target passes through natively (embeddings shape)") {
    val df = Seq(Seq(1f, 2f)).toDF("e")
    val target = StructType(Seq(StructField("e", ArrayType(DoubleType))))
    assert(Coerce(target)(df).collect().head.getSeq[Double](0) == Seq(1.0, 2.0))
  }

  test("nested struct recursion: field-wise coercion, null struct stays null") {
    val df = Seq((Some(("5.5", "x")), None: Option[(String, String)]))
      .toDF("a", "b")
    val inner = StructType(Seq(
      StructField("_1", LongType), StructField("_2", StringType)))
    val target = StructType(Seq(
      StructField("a", inner), StructField("b", inner)))
    val r = Coerce(target)(df).collect().head
    assert(r.getStruct(0).toSeq == Seq(5L, "x"))
    assert(r.isNullAt(1))
  }

  test("struct -> string preserves raw JSON (object semantics)") {
    val df = Seq(Tuple1(("v", 1))).toDF("o")
    val target = StructType(Seq(StructField("o", StringType)))
    assert(Coerce(target)(df).collect().head.getString(0) == """{"_1":"v","_2":1}""")
  }

  test("property: coercion is total over random string inputs x random target types") {
    import org.scalacheck.{Gen, rng}
    val targets = Seq(ByteType, ShortType, IntegerType, LongType, FloatType,
      DoubleType, BooleanType, StringType, TimestampType)
    val junk = Gen.oneOf(
      Gen.alphaNumStr, Gen.numStr, Gen.const(""), Gen.const("  "),
      Gen.const("{\"k\": 1}"), Gen.const("[1,2]"), Gen.const("NaN"),
      Gen.const("1e308"), Gen.const("-1e308"), Gen.const("\u0000"),
      Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString))
    val rows = Gen.listOfN(200, junk).pureApply(Gen.Parameters.default, rng.Seed(11L))
    val df = rows.toDF("v")
    targets.foreach { dt =>
      val target = StructType(Seq(StructField("v", dt)))
      val out = Coerce(target)(df).collect() // must never throw
      assert(out.length == rows.length)
    }
  }

  test("counted counts rows lost per field (T6 warning counters)") {
    val df = Seq("1", "x", "y", "4").toDF("v")
    val target = StructType(Seq(StructField("v", LongType)))
    val (observed, obs) = Coerce.counted(target, "t6_test")(df)
    val seen = mutable.Map.empty[String, Long]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get("t6_test").foreach(row => seen("null_v") = row.getAs[Long]("null_v"))
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      observed.collect()
      val deadline = System.currentTimeMillis() + 10000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(seen.get("null_v").contains(2L)) // "x" and "y" nulled
      // the same counters, read through the returned Observation
      assert(obs.map(_.get("null_v")).contains(2L))
    } finally spark.listenerManager.unregister(listener)
    // no field in common: nothing to count, so no Observation to wait on
    val other = StructType(Seq(StructField("w", LongType)))
    assert(Coerce.counted(other, "t6_none")(df)._2.isEmpty)
  }
}
