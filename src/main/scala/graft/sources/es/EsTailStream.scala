package graft.sources.es

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Continuous tail-ingest over a live index — the streaming counterpart
  * of the batch scroll source, for the pipeline the reference runs as a
  * periodic re-dump cron (its scroll is a point-in-time snapshot; this is
  * the unbounded form).
  *
  * Offsets are values of a caller-named monotonically-increasing numeric
  * field (`tail_field`: an ingest sequence number or epoch-millis
  * timestamp). Each trigger:
  *
  *   - `latestOffset` asks the cluster for `max(tail_field)` with a
  *     size-0 aggregation — one tiny request, no documents move;
  *   - the microbatch reads the window `(start, end]` as a structured
  *     range filter, planned and read like a batch scan in the configured
  *     `mode` (scroll or PIT; all pushdowns, coercion, and retry behavior
  *     included);
  *   - offsets checkpoint as the plain numeric value, so a restarted
  *     query resumes from the committed watermark.
  *
  * Delivery contract: exactly-once per field value — a document is read
  * in precisely the microbatch whose window covers its `tail_field`
  * value. A document that becomes visible AFTER `max(tail_field)` was
  * probed but with a value ≤ that max (out-of-order ingest) is missed,
  * the standard caveat of value-tailing any external store; use an
  * ingest-time sequence field where that matters.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft-es")
  *   .option("es", url).option("index", "logs")
  *   .option("tail_field", "seq")        // required for streaming reads
  *   .option("start_from", 0)            // first window starts after this
  *   .load()
  * }}}
  */
private[es] class EsTailStream(required: StructType, conf: EsScanConfig,
                               pushed: Array[Filter]) extends MicroBatchStream {

  private val field = conf.tailField.getOrElse(throw new IllegalArgumentException(
    "graft-es streaming reads require option 'tail_field' " +
      "(a monotonically increasing numeric field, e.g. an ingest seq or epoch millis)"))

  // one driver-side transport for the life of the stream (latestOffset
  // fires every trigger — opening a client per probe is wasted setup)
  private lazy val transport = conf.transportFactory.open()

  private def fetchMax(): Option[Double] = EsApi.parseMaxAgg(conf.retried(conf.index)(
    transport.post(s"/${conf.index}/_search", EsApi.maxAggBody(field))))

  override def initialOffset(): Offset = EsTailOffset(conf.startFrom.toDouble)

  override def latestOffset(): Offset =
    EsTailOffset(fetchMax().getOrElse(conf.startFrom.toDouble) max conf.startFrom.toDouble)

  override def deserializeOffset(json: String): Offset = EsTailOffset(json.toDouble)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[EsTailOffset].value
    val e = end.asInstanceOf[EsTailOffset].value
    if (e <= s) Array.empty
    else EsPartition.plan(required, conf, pushed, conf.mode, range = Some((field, s, e)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EsReaderFactory(required, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = transport.close()
}

/** The committed watermark: the highest `tail_field` value read, kept in
  * the field's own (double) domain — ES's max agg returns a double, and
  * rounding it to a long either withholds or skips fractional-valued
  * documents. Double.toString round-trips exactly. */
private[es] final case class EsTailOffset(value: Double) extends Offset {
  override def json(): String = value.toString
}
