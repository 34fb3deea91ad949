package graft.streaming

import graft.{DumpJob, SparkSpec}
import graft.sinks.Sink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.Files

class StreamDumpSpec extends SparkSpec {

  import spark.implicits._

  test("AvailableNow drains existing files through coerce+flatten and stops") {
    val src = Files.createTempDirectory("sd_src").toString
    val out = Files.createTempDirectory("sd_out").toString
    val ckpt = Files.createTempDirectory("sd_ckpt").toString

    // source: string-typed ids that the coercion stage must turn into longs
    spark.range(100).select($"id".cast("string").as("id_str"))
      .write.mode("overwrite").parquet(src)

    val target = StructType(Seq(StructField("id_str", LongType)))
    val q = StreamDump.start(spark, src, out, ckpt, StreamDump.Config(
      schema = spark.read.parquet(src).schema,
      dump = DumpJob.Config(schema = Some(target))))
    q.awaitTermination(60000)
    assert(!q.isActive) // AvailableNow terminates after draining

    val back = spark.read.parquet(out)
    assert(back.schema("id_str").dataType == LongType)
    assert(back.count() == 100)

    // incremental: new file appears, a second AvailableNow run picks up
    // ONLY the new rows (checkpoint bookkeeping)
    spark.range(100, 130).select($"id".cast("string").as("id_str"))
      .write.mode("append").parquet(src)
    val q2 = StreamDump.start(spark, src, out, ckpt, StreamDump.Config(
      schema = spark.read.parquet(src).schema,
      dump = DumpJob.Config(schema = Some(target))))
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 130)
  }

  test("named coercion counters reach StreamingQueryProgress.observedMetrics") {
    val src = Files.createTempDirectory("sd_src3").toString
    val out = Files.createTempDirectory("sd_out3").toString
    val ckpt = Files.createTempDirectory("sd_ckpt3").toString
    Seq("1", "x", "3", "y", "z").toDF("v").write.mode("overwrite").parquet(src)

    val q = StreamDump.start(spark, src, out, ckpt, StreamDump.Config(
      schema = spark.read.parquet(src).schema,
      dump = DumpJob.Config(schema = Some(StructType(Seq(StructField("v", LongType)))))))
    q.awaitTermination(60000)
    val lost = q.recentProgress.toSeq.flatMap(p =>
      Option(p.observedMetrics.get("graft_coerce")).map(_.getAs[Long]("null_v")))
    assert(lost.sum == 3L, s"per-batch lost counts: $lost") // x, y, z
    assert(spark.read.parquet(out).count() == 5)
  }

  test("raw JSON passthrough mode streams schema-free lines (K3 shape)") {
    val src = Files.createTempDirectory("sd_src2").toString
    val out = Files.createTempDirectory("sd_out2").toString
    val ckpt = Files.createTempDirectory("sd_ckpt2").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(src)

    val q = StreamDump.start(spark, src, out, ckpt, StreamDump.Config(
      schema = spark.read.parquet(src).schema,
      dump = DumpJob.Config(sink = Sink.Config(format = "text"))))
    q.awaitTermination(60000)

    val lines = spark.read.text(out).as[String].collect().sorted
    assert(lines.toSeq == Seq("""{"k":1,"v":"a"}""", """{"k":2,"v":"b"}"""))
  }
}
