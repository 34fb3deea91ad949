package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType
import graft.operators.{Coerce, Flatten}
import graft.sinks.Sink

/** The reference's end-to-end pipeline as a library job (SURVEY.md §3.1):
  * resolve tables from a pattern (S1), read each (S3 stand-in: parquet),
  * optionally coerce to a fixed schema (T1) and flatten (T3), write with
  * rotation/format/compression (K1-K4) — with per-table error isolation
  * (reference dump-es-parquet:87-95: one bad table must not abort the run).
  *
  * One site each: [[transform]] is the only code that filters, projects,
  * coerces and flattens (batch, stdout and `StreamDump` alike); [[run]]
  * reads the T6 counters and resolves the byte cap; `Sink.write`
  * serializes and writes.
  */
object DumpJob {

  case class Config(
      pattern: String = "*",
      query: Option[String] = None,      // P1, reference --query (SQL expr
                                         // here; a live ES source would
                                         // push a Lucene query string)
      fields: Seq[String] = Nil,         // P2, reference --fields (globs)
      sort: Seq[String] = Nil,           // P3, reference --sort field:dir
      schema: Option[StructType] = None, // None = schema-on-read passthrough
      flatten: Boolean = false,          // reference --flatten
      maxPartitionBytes: Option[Long] = None, // reference --max-partition-mb,
                                         // a per-table row cap (see run)
      sink: Sink.Config = Sink.Config()) // format "text": K3 raw JSON lines

  /** P2 — expand field globs against actual columns, preserving table
    * column order (the reference's `_source` wildcard filter,
    * dump-es-parquet:69,386-387). */
  def expandFields(all: Seq[String], globs: Seq[String]): Seq[String] = {
    val rxs = globs.map(g => ("^" + java.util.regex.Pattern.quote(g)
      .replace("*", "\\E.*\\Q") + "$").r)
    all.filter(c => rxs.exists(_.findFirstIn(c).isDefined))
  }

  private def sortCols(sort: Seq[String]): Seq[org.apache.spark.sql.Column] =
    sort.map { s =>
      s.split(":", 2) match {
        case Array(f, d) if d.equalsIgnoreCase("desc") => col(f).desc
        case Array(f, _)                               => col(f).asc
        case Array(f)                                  => col(f).asc
      }
    }

  sealed trait Result { def table: String }

  /** `warnings` is the reference's per-index "msg [N documents]" flush
    * (dump-es-parquet:304-305): per target field, how many present input
    * values the lenient coercion nulled. Empty when no schema was applied
    * or nothing was lost. */
  case class Written(table: String, files: Seq[String],
                     warnings: Map[String, Long] = Map.empty) extends Result
  case class Failed(table: String, error: Throwable) extends Result

  /** The source-side pushdowns + transform chain (P1/P2 then T1/T3).
    * Filter and projection sit directly over the scan, so Catalyst pushes
    * them into the parquet reader (PushedFilters / ReadSchema); a live ES
    * DSv2 source would translate them to query-string and _source params.
    * Sort (P3) is applied at write time in [[run]], not here — a global
    * orderBy is illegal in a streaming plan (StreamDump reuses this).
    *
    * `counters` names the T6 counters (`Coerce.counted`), returned as an
    * Observation in batch; without it the coercion is uncounted. */
  def transform(df: DataFrame, config: Config,
                counters: Option[String] = None): (DataFrame, Option[Observation]) = {
    val filtered = config.query.fold(df)(q => df.filter(expr(q)))
    val projected =
      if (config.fields.isEmpty) filtered
      else {
        val keep = expandFields(filtered.columns.toSeq, config.fields)
        filtered.select(keep.map(c => col(s"`$c`")): _*)
      }
    val (coerced, obs) = (config.schema, counters) match {
      case (Some(s), Some(name)) => Coerce.counted(s, name)(projected)
      case (Some(s), None)       => (Coerce(s)(projected), None)
      case (None, _)             => (projected, None)
    }
    (if (config.flatten) Flatten(coerced) else coerced, obs)
  }

  /** Entry point B — the reference's stdout mode (dump-es-parquet:250-253):
    * record-at-a-time JSON lines to `consume`, no files, no fixed schema
    * (the reference skips the DataFrame entirely in this mode, :58,215 —
    * which is why it survives inconsistent types, README.md:56-58).
    * `toLocalIterator` pulls ONE partition at a time to the driver, so
    * driver memory stays bounded by a single partition while executors
    * compute ahead — the Spark analog of printing each scroll page as it
    * arrives, rather than materializing files first. `progress` mirrors
    * the reference's per-batch "read N" log (:257,266). */
  def streamJson(spark: SparkSession, catalog: graft.sources.SourceCatalog,
                 config: Config, progress: String => Unit = _ => ())
                (consume: String => Unit): Seq[Result] =
    catalog.listTables(config.pattern).map { table =>
      try {
        // no schema coercion in passthrough mode (reference :58,215), but
        // --flatten still applies — it reshapes, it doesn't coerce
        val (raw, _) = transform(catalog.load(spark, table),
          config.copy(schema = None))
        val df = if (config.sort.isEmpty) raw
                 else raw.orderBy(sortCols(config.sort): _*)
        val it = df.toJSON.toLocalIterator()
        var n = 0L
        while (it.hasNext) {
          consume(it.next())
          n += 1
          if (n % 10000 == 0) progress(s"$table: read $n records")
        }
        progress(s"$table: read $n records (done)")
        Written(table, Nil)
      } catch {
        case e: Throwable => Failed(table, e)
      }
    }

  /** Run the per-table loop; errors are isolated per table and reported in
    * the results rather than thrown. */
  def run(spark: SparkSession, srcDir: String, outDir: String, config: Config): Seq[Result] =
    run(spark, graft.sources.ParquetDirCatalog(srcDir), outDir, config)

  /** Catalog-generic form of the loop — pass [[graft.sources.es.EsCatalog]]
    * to run the reference's actual job (live cluster → files) end to end. */
  def run(spark: SparkSession, catalog: graft.sources.SourceCatalog,
          outDir: String, config: Config): Seq[Result] =
    catalog.listTables(config.pattern).map { table =>
      try {
        val src = catalog.load(spark, table)
        val (flat, obs) = transform(src, config, Some(s"graft_coerce_$table"))
        // P3: output order is part of the dump contract (reference sorts
        // source-side so scroll order is deterministic)
        val df = if (config.sort.isEmpty) flat else flat.orderBy(sortCols(config.sort): _*)
        // Resolve the byte-size cap on an UNCOUNTED twin of the written
        // frame: the size probe is an action, and an Observation completes
        // at the FIRST action on its plan — probing the counted frame
        // would silently turn the per-table warning counts into counts
        // over the 2000-row sample instead of the real write.
        val sink = config.maxPartitionBytes.fold(config.sink) { b =>
          val cap = Sink.rowsForTargetBytes(transform(src, config)._1, b, config.sink)
          config.sink.copy(maxRecordsPerFile = math.min(config.sink.maxRecordsPerFile, cap))
        }
        val files = Sink.write(df, s"$outDir/$table", table, sink)
        // the write was the observed action, so get() returns immediately
        val warnings = obs.map(_.get.collect {
          case (k, v: Long) if v > 0 => k -> v
        }).getOrElse(Map.empty)
        Written(table, files, warnings)
      } catch {
        case e: Throwable => Failed(table, e)
      }
    }
}
