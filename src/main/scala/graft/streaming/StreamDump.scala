package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.DumpJob
import graft.sinks.Sink

/** Continuous-ingest variant of the dump pipeline (Structured Streaming).
  *
  * The reference's scroll loop is a bounded batch read over a pinned
  * snapshot (SURVEY.md §2.2: "the closest thing to streaming is K3's
  * record-at-a-time passthrough and K1's incremental flush, which
  * together are exactly the shape of foreachBatch"). This exposes the
  * same transform chain (coerce -> flatten, `DumpJob.transform`) as a
  * file stream: new files landing under `srcDir` are picked up
  * incrementally, transformed, and appended to `outDir` with exactly-once
  * bookkeeping via the checkpoint. Coercion counters are the named
  * `observe` "graft_coerce" in `StreamingQueryProgress.observedMetrics`;
  * output is serialized and optioned by `Sink`, as in a batch dump; the
  * batch-only byte cap (`DumpJob.Config.maxPartitionBytes`) is ignored.
  *
  * Trigger.AvailableNow drains everything currently present and stops —
  * the scroll-until-empty-page semantics of the reference (:259-266) —
  * while a `Trigger.ProcessingTime` caller gets true continuous tailing.
  * The schema is required up front, mirroring the reference's
  * fixed-after-inference rule (§1.3): a file stream cannot widen its
  * schema mid-run, which is the same "can't stack frames of different
  * widths" constraint the reference documents at :120-127.
  */
object StreamDump {

  case class Config(
      schema: StructType,                       // fixed up front (S2)
      dump: DumpJob.Config = DumpJob.Config(),
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None)   // micro-batch size knob

  def start(spark: SparkSession, srcDir: String, outDir: String,
            checkpointDir: String, config: Config): StreamingQuery = {
    val reader = spark.readStream.schema(config.schema)
    val src = config.maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    val (transformed, _) = DumpJob.transform(src, config.dump, Some("graft_coerce"))
    Sink.serialize(transformed, config.dump.sink).writeStream
      .format(config.dump.sink.format)
      .options(Sink.options(config.dump.sink))
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(config.trigger)
      .start()
  }
}
