package graft.sources.jsonl

import graft.{DumpJob, SparkSpec}
import graft.sinks.Sink
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.Files

class RowFilterSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))
  private def row(k: Any, s: String): GenericInternalRow =
    new GenericInternalRow(Array[Any](k, if (s == null) null else UTF8String.fromString(s)))

  test("drops only definitely-false rows; nulls pass through for Spark's 3VL") {
    val f = RowFilter(schema, Array(GreaterThan("k", 10L), EqualTo("s", "x")))
    assert(!f(row(5L, "x")))      // k fails
    assert(!f(row(20L, "y")))     // s fails
    assert(f(row(20L, "x")))      // both pass
    assert(f(row(null, "x")))     // null comparison -> keep, Spark decides
  }

  test("-0.0 equals 0.0, matching SQL semantics (never unsoundly dropped)") {
    val dschema = StructType(Seq(StructField("d", DoubleType)))
    def drow(d: Double) = new GenericInternalRow(Array[Any](d))
    assert(RowFilter(dschema, Array(EqualTo("d", 0.0)))(drow(-0.0)))
    assert(RowFilter(dschema, Array(GreaterThanOrEqual("d", 0.0)))(drow(-0.0)))
    assert(RowFilter(dschema, Array(EqualTo("d", -0.0)))(drow(0.0)))
  }

  test("IsNull / IsNotNull evaluate exactly") {
    assert(RowFilter(schema, Array(IsNotNull("k")))(row(1L, "a")))
    assert(!RowFilter(schema, Array(IsNotNull("k")))(row(null, "a")))
    assert(RowFilter(schema, Array(IsNull("k")))(row(null, "a")))
  }

  test("unsupported or unknown-field filters are ignored (never drop)") {
    val f = RowFilter(schema, Array(
      StringContains("s", "z"), EqualTo("missing", 1)))
    assert(f(row(1L, "abc")))
  }

  test("end-to-end: pushed filter prunes inside the reader, result unchanged") {
    import spark.implicits._
    val out = Files.createTempDirectory("jsonl_filter").toString
    DumpJob.run(spark, sf(), out, DumpJob.Config(
      pattern = "nation", sink = Sink.Config(format = "text")))
    val st = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_regionkey", LongType)))

    // the ScanBuilder claims the comparison and keeps it as residual
    val sb = new JsonlScanBuilder(st, Seq(s"$out/nation"))
    val residual = sb.pushFilters(Array(GreaterThan("n_regionkey", 2L)))
    assert(sb.pushedFilters().toSeq == Seq(GreaterThan("n_regionkey", 2L)))
    assert(residual.toSeq == Seq(GreaterThan("n_regionkey", 2L)))

    // reader-level: the partition emits only matching documents
    val scan = sb.build().toBatch
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    val emitted = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = collection.mutable.Buffer.empty[Long]
      while (r.next()) buf += r.get().getLong(1)
      r.close()
      buf
    }
    assert(emitted.nonEmpty && emitted.forall(_ > 2))

    // query-level: results identical to the parquet truth
    val viaSource = spark.read.format("graft-jsonl").schema(st)
      .load(s"$out/nation").filter($"n_regionkey" > 2)
    val truth = graft.Tables.load(spark, sf(), "nation")
      .select($"n_nationkey", $"n_regionkey").filter($"n_regionkey" > 2)
    assert(viaSource.exceptAll(truth).isEmpty && truth.exceptAll(viaSource).isEmpty)
  }
}
