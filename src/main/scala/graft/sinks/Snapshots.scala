package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** A minimal SNAPSHOT LOG over a plain parquet directory — the one
  * piece of the lakehouse table formats (Iceberg/Delta) this library
  * actually needs, built from two primitives: atomic single-file
  * exclusive publication and immutable data files.
  *
  * Layout:
  * {{{
  *   dir/<uuid>-NNNNN.parquet        immutable data files (never reused)
  *   dir/_graft_log/v00001.json      snapshot 1: file list + op + schema
  *   dir/_graft_log/v00002.json      snapshot 2: ...
  * }}}
  *
  * Entries are DELTAS with periodic CHECKPOINTS (r18 — the Delta
  * log's shape, built from scratch): each commit writes only its
  * add/remove lists plus the merged table schema — O(batch) bytes
  * whatever the table file count (MEASURED, SnapBench `entrycost`:
  * one-row-append entry bytes flat at ~0.6 KB from 10^2 through 10^4
  * base files, vs ~118 bytes/file — 1.18 MB at 10^4 — for the pre-r18
  * full-state entries). Every `checkpointInterval` commits (default
  * 10) the winning committer also publishes the full state as a
  * `vNNNNN.ckpt.json` SIDECAR, so reconstructing any version costs
  * one checkpoint read + ≤ interval small delta reads — flat in both
  * total commit count and (between checkpoints) in file count. There
  * is deliberately NO `_last_checkpoint` pointer file: every reader
  * already pays exactly one log-dir listing to learn the newest
  * version, and the same listing names the nearest checkpoint for
  * free — one less file to race on. Checkpoint publication is
  * best-effort (the commit already succeeded; a missed checkpoint
  * costs the next reader a longer walk-back, never correctness) and
  * idempotent (racing writers produce identical content; the
  * exclusive-publish loser just drops its temp). Entries written
  * before r18 carry the complete file list and still read: a
  * full-state entry is its own base, terminating the walk-back —
  * migration is automatic and per-table. [[vacuum]] publishes a
  * checkpoint at the oldest retained version before dropping older
  * entries, so the horizon is always reconstructable. At a 100 TB
  * estate (10^5–10^6 files) this is the difference between every
  * one-row commit writing 12–118 MB of JSON and writing ~1 KB with an
  * O(table)/interval amortized checkpoint.
  *
  * Concurrency — the commit protocol. A commit publishes the next
  * `vNNNNN.json` through an ATOMIC-EXCLUSIVE primitive (hard-link
  * creation on POSIX `file:` schemes, rename-without-overwrite on
  * HDFS-like filesystems; see below for object stores), so exactly one
  * writer wins a given version. The loser retries WITH ITS INTENT, the
  * Delta conflict rules:
  *
  *  - an APPEND ([[writeAppend]], [[writeAppendBatch]]) carries only
  *    its DELTA (the files it landed) and REBASES on retry: the new
  *    file list is recomputed as the fresh latest's list plus the
  *    delta, so two concurrent appenders both land and the final
  *    version contains BOTH deltas — never a lost update;
  *  - a REWRITE ([[deleteWhere]], [[upsert]], [[compact]],
  *    [[optimizeZorder]], [[writeOverwrite]], [[restore]]) derives its
  *    file list from a pinned base version; if the base is no longer
  *    latest at publish time the result would silently drop the
  *    concurrent winner's rows, so it FAILS with
  *    `java.util.ConcurrentModificationException` naming both versions
  *    — the caller re-reads and re-applies (the Delta shape: appends
  *    always rebase, rewrites conflict).
  *
  * Filesystem scope: exclusive publication requires an atomic
  * refuse-existing-destination primitive, abstracted behind the
  * [[LogPublisher]] seam (the Delta LogStore idea). POSIX `file:`
  * (link(2)) and HDFS/viewfs (rename refuses an existing destination)
  * have built-ins; S3A-style object stores do NOT have one behind the
  * rename API — a deployment supplies a conditional-write publisher
  * (`spark.graft.snapshots.logPublisher=<class>` over S3
  * If-None-Match / GCS ifGenerationMatch=0 / ABFS ETag) for full
  * multi-writer safety, or accepts single-writer-only operation with
  * `spark.graft.snapshots.allowNonAtomicPublish=true`; with neither,
  * commits fail fast naming both options.
  *
  * Schema — validated at COMMIT, carried in the log. An append/upsert
  * whose schema TYPE-conflicts with the table (same column, different
  * type) fails at write time naming the column and both types — not at
  * some later read with a parquet merge error naming neither (the
  * Delta/Iceberg rationale). Pure WIDENING (new columns) commits fine
  * and the entry logs the merged schema; readers take the schema from
  * the entry, so a snapshot scan plans WITHOUT the distributed footer
  * pass `mergeSchema` costs — at 100 TB the schema-from-log read is
  * the entire point of a table format's metadata layer. Entries
  * written before schemas were logged fall back to footer-union reads.
  *
  * What this buys at 100 TB:
  *  - readers pin a VERSION: a long analytics job reads one immutable
  *    file set while writers keep committing — no torn reads, ever;
  *  - [[compact]] is SAFE under concurrency: new bin-packed files land
  *    beside the old ones and a commit flips the pointer — and a
  *    concurrent row-level write makes the compact CONFLICT rather
  *    than resurrect deleted rows;
  *  - time travel ([[read]] at an old version) and incremental
  *    processing ([[addedSince]]: only files NEW since a version) fall
  *    out for free;
  *  - [[vacuum]] deletes files no retained version references — space
  *    reclamation is decoupled from correctness, and reads/cursors
  *    behind the horizon fail AT PLAN TIME naming the retained range.
  *
  * Row-level writes are COPY-ON-WRITE ([[deleteWhere]], [[upsert]]):
  * only files containing affected rows rewrite, the commit splices the
  * rest through by name.
  *
  * Hive-style partition directories are DELIBERATELY absent from this
  * log: clustering the data ([[optimizeZorder]]) plus footer-manifest
  * file skipping ([[prunedRead]]) subsumes what partitioning buys —
  * selective scans — without its failure modes (cardinality cliffs,
  * small files per partition, unskippable non-partition predicates,
  * repartitioning migrations). This is the direction the table formats
  * themselves are moving (clustering over partitioning); a workload
  * that truly needs physical partition boundaries uses the plain
  * [[Layout.compact]]/hive path outside the log.
  *
  * NOT implemented (and documented rather than faked): merge-on-read
  * deletion vectors, type-changing schema evolution, and cross-table
  * transactions — the full table formats exist for those.
  */
object Snapshots {

  private val LogDir = "_graft_log"

  /** Cap on the per-row expansion array in the CDC multiplicity
    * rebuild — bounds memory per generated array; multiplicities above
    * it expand across multiple chunk rows instead. */
  private val RepChunk = 1L << 20
  private val VersionRe = "v(\\d{5})\\.json".r

  /** Per-file column bounds AS LOGGED — what moves pruning from
    * O(files) footer round-trips per operation to zero IO (the Delta
    * per-file `stats` JSON idea, the sizes-in-the-log precedent
    * extended). Bounds are always VALID bounds, never exact values:
    * a [[StrStat]] max of a truncated string is the truncation
    * prefix with its last code point incremented (the Iceberg
    * `truncate`-transform upper-bound trick), so `max < lo` remains a
    * sound exclusion test. `nulls` is the column's null count when
    * the footer states one (None = unknown, never 0-by-default);
    * [[NullStat]] carries a null count for columns with no usable
    * bounds (all-NULL, unprunable type) — with the file's row count
    * it still prunes `IS NULL` / `IS NOT NULL` / comparisons. */
  sealed trait ColStat { def nulls: Option[Long] }
  final case class NumStat(min: Double, max: Double,
                           nulls: Option[Long] = None) extends ColStat
  final case class StrStat(min: String, max: String,
                           nulls: Option[Long] = None) extends ColStat
  final case class NullStat(count: Long) extends ColStat {
    def nulls: Option[Long] = Some(count)
  }

  /** Everything the log knows about one file's contents: row count
    * (−1 = unlogged) and per-column stats. The Delta per-file stats
    * quartet — numRecords, min, max, nullCount. */
  final case class FileStats(rows: Long = -1L,
                             cols: Map[String, ColStat] = Map.empty) {
    def isEmpty: Boolean = rows < 0 && cols.isEmpty
  }
  object FileStats { val empty: FileStats = FileStats() }

  /** One data file as the log knows it. `size` -1 = unknown (an entry
    * written before sizes were logged, or a hand-authored one);
    * `stats` empty = nothing logged (pre-r17 entry, ineligible
    * columns, or a stats-disabled writer) — pruning keeps the file. */
  final case class DataFile(name: String, size: Long = -1L,
                            stats: FileStats = FileStats.empty)

  final case class Snapshot(version: Int, op: String, files: Seq[String],
                            schema: Option[StructType] = None,
                            sizes: Option[Seq[Long]] = None,
                            stats: Option[Seq[FileStats]] = None) {
    /** files with their logged sizes (−1 where unknown) and stats
      * (empty where unknown). */
    def dataFiles: Seq[DataFile] = {
      val sz = sizes.filter(_.size == files.size)
        .getOrElse(files.map(_ => -1L))
      val st = stats.filter(_.size == files.size)
        .getOrElse(files.map(_ => FileStats.empty))
      files.lazyZip(sz).lazyZip(st).map(DataFile(_, _, _))
    }
  }

  /** Commit intent — what a loser of the optimistic race does decides
    * correctness: appends rebase their delta, rewrites conflict. */
  private sealed trait Intent
  private final case class Append(delta: Seq[DataFile], incoming: StructType)
    extends Intent
  private final case class Rewrite(files: Seq[DataFile], baseVersion: Int,
                                   schema: Option[StructType]) extends Intent

  /** One log entry AS WRITTEN — the Delta-shaped log (r18): commit
    * entries are DELTAS (the files this commit added and the names it
    * removed, plus the merged schema), so commit bytes are O(batch),
    * not O(table); the full state at a version is reconstructed from
    * the nearest BASE at or below it — a `vNNNNN.ckpt.json` checkpoint
    * sidecar (written every [[checkpointInterval]] commits) or a
    * legacy full-state entry — plus the deltas above it (≤ interval
    * small reads). Entries written before r18 carry the complete file
    * list (no `"kind":"delta"` marker) and parse as [[FullEntry]]:
    * they are their own base, so old logs read unchanged and a legacy
    * entry mid-chain simply terminates the walk-back early. */
  private[sinks] sealed trait RawEntry {
    def version: Int; def op: String; def schema: Option[StructType]
  }
  private[sinks] final case class FullEntry(snap: Snapshot) extends RawEntry {
    def version: Int = snap.version
    def op: String = snap.op
    def schema: Option[StructType] = snap.schema
  }
  private[sinks] final case class DeltaEntry(version: Int, op: String,
      add: Seq[DataFile], remove: Seq[String],
      schema: Option[StructType]) extends RawEntry

  /** The state reconstructed at a version, plus how many delta entries
    * sit between it and its base — the commit loop's checkpoint-due
    * meter. */
  private final case class Resolved(snap: Snapshot, deltasSinceBase: Int)

  /** Test seam: invoked between writing the temp entry and attempting
    * exclusive publication, with the attempt number. Lets a spec land a
    * competing commit deterministically INSIDE the race window — the
    * only way to pin the rebase/conflict semantics without sleeps. */
  private[sinks] var racePoint: Int => Unit = _ => ()

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  // ---------------------------------------------------------------- codec

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Read one log entry, every field by name. A `"kind":"delta"` entry
    * is a [[DeltaEntry]]: its files/sizes/stats arrays are the ADDED
    * files and `remove` names the dropped ones; without the marker the
    * entry is full-state ([[FullEntry]] — every pre-r18 entry, every
    * checkpoint). `sizes` whose count differs from `files` read as
    * None, and a malformed `stats` block reads as no stats (pruning
    * then keeps every file), never as a wrong bound. */
  private def parseEntry(bytes: Array[Byte]): RawEntry = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.JsonNode
    def bad(n: JsonNode): Nothing =
      throw new IllegalArgumentException(s"snapshot log entry: unexpected $n")
    def items(n: JsonNode) = if (n.isArray) n.elements.asScala.toSeq else bad(n)
    def text(n: JsonNode) = if (n.isTextual) n.textValue else bad(n)
    def long(n: JsonNode) =
      if (n.isIntegralNumber && n.canConvertToLong) n.longValue else bad(n)
    def pair[T](n: JsonNode)(f: JsonNode => T): (T, T) = items(n) match {
      case Seq(lo, hi) => (f(lo), f(hi))
      case _ => bad(n)
    }
    // "#" = the file's row count (not a legal column name — the
    // statColumns eligibility rule keeps the namespaces disjoint)
    def fileStats(n: JsonNode): FileStats = {
      if (!n.isObject) bad(n)
      val kv = n.properties.asScala.map(p => p.getKey -> p.getValue).toMap
      FileStats(kv.get("#").map(long).getOrElse(-1L), (kv - "#").map {
        case (c, k) =>
          val nulls = Option(k.get("z")).map(long)
          c -> (if (k.has("n")) {
            val (lo, hi) = pair(k.get("n"))(x =>
              if (x.isNumber) x.doubleValue else bad(x))
            NumStat(lo, hi, nulls)
          } else if (k.has("s")) {
            val (lo, hi) = pair(k.get("s"))(x =>
              new String(java.util.Base64.getDecoder.decode(text(x)), UTF_8))
            StrStat(lo, hi, nulls)
          } else NullStat(nulls.getOrElse(bad(k))))
      })
    }
    val e = Json.readTree(bytes)
    if (e == null || !e.isObject) bad(e)
    def field(name: String): JsonNode = Option(e.get(name)).getOrElse(
      throw new IllegalArgumentException(s"snapshot log entry missing '$name'"))
    val files = items(field("files")).map(text)
    def optional[T](name: String)(f: JsonNode => Seq[T]): Option[Seq[T]] =
      Option(e.get(name)).flatMap(n => scala.util.Try(f(n)).toOption)
        .filter(_.size == files.size)
    val schema = Option(e.get("schema")).map(n =>
      DataType.fromJson(n.toString) match {
        case st: StructType => st
        case other => throw new IllegalArgumentException(
          s"snapshot log entry schema is not a struct: $other")
      })
    val snap = Snapshot(Math.toIntExact(long(field("version"))),
      text(field("op")), files, schema,
      optional("sizes")(items(_).map(long)),
      optional("stats")(items(_).map(fileStats)))
    if (e.path("kind").asText == "delta")
      DeltaEntry(snap.version, snap.op, snap.dataFiles,
        items(field("remove")).map(text), schema)
    else FullEntry(snap)
  }

  /** Write one log entry — commit deltas (`remove` given) and
    * full-state checkpoints alike, fields in the order the log has
    * always used: version, kind, op, files, sizes, stats, remove,
    * schema. `sizes` is all-or-nothing (written only when every file's
    * size is known), `stats` is written when any file has some, one
    * object per file; numbers print as `Double.toString`, string bounds
    * as base64 of their UTF-8 bytes, and the schema as Spark's own
    * JSON. */
  private[graft] def renderEntry(version: Int, op: String,
                                 files: Seq[DataFile],
                                 remove: Option[Seq[String]],
                                 schema: Option[StructType]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val g = Json.getFactory.createGenerator(buf)
    def array[T](name: String, xs: Seq[T])(f: T => Unit): Unit = {
      g.writeArrayFieldStart(name); xs.foreach(f); g.writeEndArray()
    }
    g.writeStartObject()
    g.writeNumberField("version", version)
    if (remove.isDefined) g.writeStringField("kind", "delta")
    g.writeStringField("op", op)
    array("files", files)(f => g.writeString(f.name))
    if (files.nonEmpty && files.forall(_.size >= 0))
      array("sizes", files)(f => g.writeNumber(f.size))
    if (files.exists(!_.stats.isEmpty)) array("stats", files) { f =>
      g.writeStartObject()
      if (f.stats.rows >= 0) g.writeNumberField("#", f.stats.rows)
      f.stats.cols.toSeq.sortBy(_._1).foreach { case (c, st) =>
        g.writeObjectFieldStart(c)
        st match {
          case NumStat(lo, hi, _) =>
            array("n", Seq(lo, hi))(g.writeNumber(_: Double))
          case StrStat(lo, hi, _) =>
            array("s", Seq(lo, hi))(x => g.writeString(
              java.util.Base64.getEncoder.encodeToString(x.getBytes(UTF_8))))
          case NullStat(_) =>
        }
        st.nulls.foreach(g.writeNumberField("z", _))
        g.writeEndObject()
      }
      g.writeEndObject()
    }
    remove.foreach(array("remove", _)(g.writeString(_: String)))
    schema.foreach { st => g.writeFieldName("schema"); g.writeRawValue(st.json) }
    g.writeEndObject()
    g.close()
    buf.toByteArray
  }

  /** Apply one delta on top of a base file list. */
  private def applyDelta(base: Seq[DataFile], d: DeltaEntry): Seq[DataFile] = {
    val rm = d.remove.toSet
    base.filterNot(f => rm(f.name)) ++ d.add
  }

  /** A [[Snapshot]] from a reconstructed file list — same
    * all-or-nothing sizes rule and per-file-optional stats rule
    * [[renderEntry]] uses. */
  private def snapFrom(version: Int, op: String, dfs: Seq[DataFile],
                       schema: Option[StructType]): Snapshot = {
    val sorted = dfs.sortBy(_.name)
    Snapshot(version, op, sorted.map(_.name), schema,
      Option(sorted.map(_.size)).filter(sz => sz.nonEmpty && sz.forall(_ >= 0)),
      Option(sorted.map(_.stats)).filter(_.exists(!_.isEmpty)))
  }

  private val CkptRe = "v(\\d{5})\\.ckpt\\.json".r
  private def entryPath(log: Path, v: Int) = new Path(log, f"v$v%05d.json")
  private def ckptPath(log: Path, v: Int) =
    new Path(log, f"v$v%05d.ckpt.json")

  /** One listing of the log dir: which commit entries and which
    * checkpoint sidecars exist. The listing IS the `_last_checkpoint`
    * pointer: every reader already pays exactly one listing (to learn
    * the newest version), and the same listing names the nearest
    * checkpoint for free — no extra pointer file to read or to race
    * on. */
  private final case class LogListing(entries: Set[Int], ckpts: Set[Int]) {
    def range: Option[(Int, Int)] =
      if (entries.isEmpty) None else Some(entries.min -> entries.max)
  }

  private def listLog(fs: FileSystem, log: Path): LogListing =
    if (!fs.exists(log)) LogListing(Set.empty, Set.empty)
    else {
      val names = fs.listStatus(log).map(_.getPath.getName)
      LogListing(
        names.collect { case VersionRe(n) => n.toInt }.toSet,
        names.collect { case CkptRe(n) => n.toInt }.toSet)
    }

  private def readRaw(fs: FileSystem, p: Path): RawEntry = {
    val in = fs.open(p)
    try parseEntry(in.readAllBytes())
    finally in.close()
  }

  private def readCkpt(fs: FileSystem, p: Path): Snapshot =
    readRaw(fs, p) match {
      case f: FullEntry => f.snap
      case _: DeltaEntry => throw new IllegalStateException(
        s"checkpoint $p is not a full-state entry — was the log dir " +
          "manually edited?")
    }

  /** Reconstruct the full state at `version`: walk back to the nearest
    * BASE (checkpoint sidecar, or a legacy/imported full-state entry),
    * then fold the deltas above it forward. Cost: one listing (the
    * caller's, passed in) + ≤ [[checkpointInterval]] small entry reads
    * + one base read — flat in both total commit count AND table file
    * count between checkpoints. None = `version` is not a retained
    * entry (caller horizon-errors); a gap BELOW a retained version is
    * log corruption and fails loudly (vacuum always leaves a base at
    * the oldest retained version). */
  private def resolveState(fs: FileSystem, log: Path, listing: LogListing,
                           version: Int): Option[Resolved] = {
    if (!listing.entries.contains(version)) return None
    val deltas = scala.collection.mutable.ListBuffer.empty[DeltaEntry]
    var base: Option[Snapshot] = None
    var v0 = version
    while (base.isEmpty && v0 >= 1) {
      if (listing.ckpts.contains(v0)) base = Some(readCkpt(fs, ckptPath(log, v0)))
      else if (!listing.entries.contains(v0))
        throw new IllegalStateException(
          s"snapshot log $log is missing entry v$v0 needed to " +
            s"reconstruct v$version and has no checkpoint above it — " +
            "was the log dir manually edited? (vacuum leaves a " +
            "checkpoint at the oldest retained version)")
      else readRaw(fs, entryPath(log, v0)) match {
        case f: FullEntry => base = Some(f.snap)
        case d: DeltaEntry => d +=: deltas; v0 -= 1
      }
    }
    val b = base.getOrElse(Snapshot(0, "none", Seq.empty))
    val snap = deltas.foldLeft(b)((s, d) =>
      snapFrom(d.version, d.op, applyDelta(s.dataFiles, d), d.schema))
    Some(Resolved(snap, version - v0))
  }

  /** All committed snapshots, ascending: reconstruct the oldest
    * retained version, then fold each entry forward — O(retained)
    * entry reads, one state application each. Vacuum and
    * operator-facing listings; the point reads address versions
    * directly through [[resolveState]]. */
  def versions(spark: SparkSession, dir: String): Seq[Snapshot] = {
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    val listing = listLog(fs, log)
    listing.range match {
      case None => Seq.empty
      case Some((lo, hi)) =>
        var cur = resolveState(fs, log, listing, lo).get.snap
        cur +: (lo + 1 to hi).map { v =>
          cur = readRaw(fs, entryPath(log, v)) match {
            case f: FullEntry => f.snap
            case d: DeltaEntry =>
              snapFrom(v, d.op, applyDelta(cur.dataFiles, d), d.schema)
          }
          cur
        }
    }
  }

  /** Every committed op string — the replay-token scan
    * ([[writeAppendBatch]]/[[applyChanges]]): raw entry reads only, no
    * state reconstruction. */
  private def committedOps(spark: SparkSession, dir: String): Set[String] = {
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    val listing = listLog(fs, log)
    listing.entries.map(v => readRaw(fs, entryPath(log, v)).op)
  }

  /** The full state at one version — one listing + the walk-back. */
  private def stateAt(spark: SparkSession, dir: String,
                      version: Int): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    resolveState(fs, log, listLog(fs, log), version).map(_.snap)
  }

  /** (oldest retained, newest) version numbers from ONE listing, no
    * entry parse — the vacuum-horizon bounds for fail-loud errors. */
  private def retainedRange(spark: SparkSession,
                            dir: String): Option[(Int, Int)] = {
    val (fs, root) = fsOf(spark, dir)
    listLog(fs, new Path(root, LogDir)).range
  }

  /** Newest committed version number, or None for an empty table. One
    * directory listing — the streaming CDC source polls this. */
  def latestVersion(spark: SparkSession, dir: String): Option[Int] =
    retainedRange(spark, dir).map(_._2)

  /** The newest snapshot: one listing + one base read + ≤ interval
    * delta reads. */
  private def latest(spark: SparkSession, dir: String): Option[Snapshot] =
    latestResolved(spark, dir).map(_.snap)

  private def latestResolved(spark: SparkSession,
                             dir: String): Option[Resolved] = {
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    val listing = listLog(fs, log)
    listing.range.flatMap { case (_, hi) =>
      resolveState(fs, log, listing, hi)
    }
  }

  // ---------------------------------------------------------------- schema

  /** Everything nullable, recursively: files that predate a widening
    * lack the new columns entirely, so the logged schema must admit
    * NULL everywhere (the parquet read fills them). */
  private def asNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(f.name, asNullable(f.dataType), nullable = true, f.metadata)))
    case at: ArrayType => ArrayType(asNullable(at.elementType), containsNull = true)
    case mt: MapType =>
      MapType(asNullable(mt.keyType), asNullable(mt.valueType), valueContainsNull = true)
    case other => other
  }

  // ------------------------------------------------- column mapping

  /** Logical→physical name indirection (r18, the Delta columnMapping
    * idea in its name-based form): a renamed column keeps its files'
    * PHYSICAL name in `graft.physical` field metadata of the logged
    * schema, so [[renameColumn]] is a METADATA commit — zero files
    * rewrite — and every read maps physical→logical with one
    * projection. Top-level columns only (nested renames still mean a
    * rewrite); a later widening may not reuse a physical name that is
    * still mapped (refused at the write, the poison-at-read gate); the
    * SQL catalog refuses mapped tables loudly (the stock parquet DSv2
    * scan has no alias hook) — the Scala read/write surface is the
    * supported door after a rename. */
  private[sinks] val PhysicalKey = "graft.physical"

  private def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** logical → physical, only where they differ. */
  private def physicalRenames(schema: StructType): Map[String, String] =
    schema.fields.iterator
      .filter(f => physicalName(f) != f.name)
      .map(f => f.name -> physicalName(f)).toMap

  private def toPhysicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      StructField(physicalName(f), f.dataType, f.nullable, f.metadata)))

  /** RENAME a top-level column — one metadata commit (`op = rename`),
    * no data file touched: the new logical name carries the old
    * physical name in the logged schema, and reads of every snapshot
    * (old and new) stay correct — old snapshots read under their own
    * logged schema, the new one maps the physical column back to the
    * new name. Type changes remain rejected ([[mergeSchemas]]);
    * conflicts like every rewrite. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String): Int = {
    require(to.nonEmpty && !to.exists(c => c < ' ' || "\",[]".contains(c)),
      s"renameColumn: target name not representable in the log: '$to'")
    val snap = resolve(spark, dir, None)
    val schema = snap.schema.getOrElse(throw new IllegalArgumentException(
      s"renameColumn on $dir: the current entry logs no schema (legacy " +
        "log) — commit any write first, then rename"))
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val idx = schema.fields.indexWhere(f => key(f.name) == key(from))
    require(idx >= 0, s"renameColumn on $dir: no column '$from' " +
      s"(has: ${schema.fieldNames.sorted.mkString(", ")})")
    require(!schema.fields.exists(f => key(f.name) == key(to)),
      s"renameColumn on $dir: target '$to' already exists")
    val old = schema.fields(idx)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(old.metadata)
      .putString(PhysicalKey, physicalName(old)).build()
    val renamed = StructType(schema.fields.updated(idx,
      StructField(to, old.dataType, old.nullable, md)))
    commit(spark, dir, "rename",
      Rewrite(snap.dataFiles, snap.version, Some(renamed)))
  }

  /** ADD COLUMNS as a metadata commit (`op = add-columns`) — pure
    * widening without landing a byte: the merged schema logs, existing
    * files NULL-fill the new columns at read (exactly as a widening
    * append would, minus the append). Type conflicts and reserved
    * physical names fail like any write. */
  def addColumns(spark: SparkSession, dir: String,
                 cols: StructType): Int = {
    require(cols.nonEmpty, "addColumns: no columns given")
    val snap = resolve(spark, dir, None)
    val table = schemaOf(spark, dir, snap).getOrElse(StructType(Nil))
    cols.fieldNames.foreach { n =>
      require(table.fields.forall(f => !f.name.equalsIgnoreCase(n)),
        s"addColumns on $dir: column '$n' already exists")
    }
    commit(spark, dir, "add-columns",
      Rewrite(snap.dataFiles, snap.version,
        Some(mergeSchemas(table, cols, dir))))
  }

  /** Merge an incoming write's schema onto the table's: same-name
    * columns must have the SAME type (recursively; nullability
    * ignored), new columns append — pure widening passes, a type
    * conflict fails naming the column path and both types. Stricter
    * than parquet's own footer merge on purpose: a type change commits
    * once and then poisons every later read far from the fault.
    *
    * Name resolution is CASE-INSENSITIVE, matching Spark's default
    * (`spark.sql.caseSensitive=false`) analyzer resolution: an append
    * carrying `ID` onto a table with `id` is the SAME column (the
    * table's casing wins in the merged schema; the parquet reader's
    * own case-insensitive field matching then fills it from either
    * physical spelling). Treating the variant as a new column would
    * commit a merged schema with two same-name-modulo-case fields —
    * a duplicate-column error on every later read, the exact
    * poison-at-read failure this gate exists to prevent (Delta merges
    * case-insensitively for the same reason). */
  private[sinks] def mergeSchemas(table: StructType, incoming: StructType,
                                  where: String, path: String = ""): StructType = {
    def conflict(p: String, a: DataType, b: DataType): Nothing =
      throw new IllegalArgumentException(
        s"snapshot commit to $where: column '$p' type conflicts with the " +
          s"table: table=${a.catalogString}, write=${b.catalogString} " +
          "(widening by NEW columns is allowed; type changes are not — " +
          "writeOverwrite replaces the table schema)")
    def mergeType(p: String, a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (x: StructType, y: StructType) => mergeSchemas(x, y, where, p + ".")
      case (x: ArrayType, y: ArrayType) =>
        ArrayType(mergeType(p + ".element", x.elementType, y.elementType), containsNull = true)
      case (x: MapType, y: MapType) =>
        MapType(mergeType(p + ".key", x.keyType, y.keyType),
          mergeType(p + ".value", x.valueType, y.valueType), valueContainsNull = true)
      case (x, y) => conflict(p.stripSuffix("."), x, y)
    }
    def key(n: String): String = n.toLowerCase(java.util.Locale.ROOT)
    // an incoming frame carrying BOTH spellings ('id' and 'ID') can
    // never read back under case-insensitive resolution — refuse it
    // here, where the write is, not at the eventual read
    incoming.fields.groupBy(f => key(f.name)).find(_._2.length > 1)
      .foreach { case (_, fs) =>
        throw new IllegalArgumentException(
          s"snapshot commit to $where: incoming schema has case-duplicate " +
            s"columns ${fs.map(f => s"'$path${f.name}'").mkString(", ")} — " +
            "unreadable under Spark's default case-insensitive resolution")
      }
    val byName = table.fields.map(f => key(f.name) -> f).toMap
    val merged = table.fields.map { f =>
      incoming.fields.find(g => key(g.name) == key(f.name)) match {
        case Some(g) =>
          StructField(f.name, mergeType(path + f.name, f.dataType, g.dataType),
            nullable = true, f.metadata)
        case None => StructField(f.name, f.dataType, nullable = true, f.metadata)
      }
    }
    // NEW columns never inherit a physical mapping from the incoming
    // frame's metadata (a frame read off a mapped table carries
    // graft.physical along through selects/aliases): a fresh column's
    // physical name IS its logical name — only [[renameColumn]] mints
    // mappings. This is also what makes writeOverwrite drop the
    // mapping: its freshSchema merge lands every field here.
    def stripPhysical(md: org.apache.spark.sql.types.Metadata) =
      if (!md.contains(PhysicalKey)) md
      else new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(md).remove(PhysicalKey).build()
    val added = incoming.fields.filterNot(g => byName.contains(key(g.name)))
      .map(g => StructField(g.name, g.dataType, nullable = true,
        stripPhysical(g.metadata)))
    val out = asNullable(StructType(merged ++ added)).asInstanceOf[StructType]
    // column-mapping guard (top-level merge only): a NEW column may
    // not take a physical name an existing mapped column still owns —
    // files written after would carry one physical column claimed by
    // two logical ones, the exact poison-at-read this gate exists for
    if (path.isEmpty)
      out.fields.groupBy(f => key(physicalName(f)))
        .find(_._2.length > 1).foreach { case (_, fs) =>
          throw new IllegalArgumentException(
            s"snapshot commit to $where: columns " +
              fs.map(f => s"'${f.name}'").mkString(", ") +
              s" would share the physical column '${physicalName(fs.head)}'" +
              " — a renamed column's ORIGINAL name stays reserved; pick " +
              "another name or rewrite the table (writeOverwrite) to " +
              "drop the mapping")
        }
    out
  }

  /** Bootstrap schema for a table's FIRST write (and overwrite's
    * schema reset): the degenerate merge onto an empty table —
    * all-nullable like every logged schema, and the case-duplicate
    * guard fires here too (a first write carrying both 'id' and 'ID'
    * must be refused at the write, same as a later one). */
  private def freshSchema(incoming: StructType, where: String): StructType =
    mergeSchemas(StructType(Nil), incoming, where)

  /** A snapshot's table schema: from its entry, or (legacy entries
    * written before schemas were logged) one footer-union read. */
  private def schemaOf(spark: SparkSession, dir: String,
                       snap: Snapshot): Option[StructType] =
    snap.schema.orElse {
      if (snap.files.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(snap.files.map(f => s"$dir/$f"): _*).schema)
    }

  // ---------------------------------------------------------------- commit

  /** Resolve the [[LogPublisher]] for this commit — the LogStore seam:
    * an explicitly configured publisher wins on EVERY scheme (a
    * deployment with a conditional-write store, or a spec injecting a
    * race), then the built-in scheme defaults, then the documented
    * single-writer escape, then fail-fast NAMING the config key — the
    * realistic 100 TB substrate is an object store, and "supply a
    * conditional-write publisher" is a deployment choice, not a dead
    * end. */
  private def publisherFor(spark: SparkSession, fs: FileSystem): LogPublisher =
    spark.conf.getOption("spark.graft.snapshots.logPublisher") match {
      case Some(cls) => LogPublisher.forName(cls)
      case None => fs.getScheme match {
        case "file" => LogPublisher.PosixLink
        case "hdfs" | "viewfs" => LogPublisher.ExclusiveRename
        case other =>
          require(spark.conf.getOption(
            "spark.graft.snapshots.allowNonAtomicPublish").contains("true"),
            s"snapshot commit on scheme '$other' has no built-in " +
              "atomic-exclusive publish primitive (object-store rename is " +
              "copy+delete, two committers can both win one version — the " +
              "hole Delta plugs with a conditional-write LogStore). Either " +
              "set spark.graft.snapshots.logPublisher=<class implementing " +
              "graft.sinks.LogPublisher> over this store's conditional " +
              "write (S3 If-None-Match, GCS ifGenerationMatch=0, ABFS " +
              "ETag) for full multi-writer safety, or set " +
              "spark.graft.snapshots.allowNonAtomicPublish=true to accept " +
              "SINGLE-WRITER-ONLY operation.")
          LogPublisher.NonAtomic
      }
    }

  /** Publish the next version under optimistic concurrency. Appends
    * REBASE: the file list is recomputed from the fresh latest inside
    * the retry loop, so losing a race never drops the winner's files.
    * Rewrites CONFLICT: if the pinned base version is no longer latest,
    * the rewrite's output is stale and committing it would be a silent
    * lost update — fail with the versions named. Returns the committed
    * version. */
  /** Commits between checkpoints, `spark.graft.snapshots
    * .checkpointInterval` (≥ 1; default 10 — the Delta default): every
    * Nth commit ALSO publishes its full state as a `vNNNNN.ckpt.json`
    * sidecar, bounding every reader's walk-back. Smaller = cheaper
    * reads, more frequent O(table-files) checkpoint writes; the
    * amortized write cost per commit is O(table/N + batch). */
  private def checkpointInterval(spark: SparkSession): Int = {
    val n = spark.conf.getOption("spark.graft.snapshots.checkpointInterval")
      .map(_.trim.toInt).getOrElse(10)
    require(n >= 1, s"spark.graft.snapshots.checkpointInterval must be >= 1: $n")
    n
  }

  /** Publish the full state at `v` as a checkpoint sidecar — through
    * the same exclusive seam as commits (a torn checkpoint must never
    * be visible; two writers racing the same version's checkpoint
    * write identical content, so the loser just drops its temp).
    * Best-effort by design, Delta's stance: the COMMIT already
    * succeeded, and a missed checkpoint costs the next reader a longer
    * walk-back, never correctness — so failures are swallowed after
    * cleanup rather than failing a committed write. */
  private def writeCheckpoint(spark: SparkSession, fs: FileSystem, log: Path,
                              snap: Snapshot): Unit = {
    val tmp = new Path(log,
      s".tmp-ckpt-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val out = fs.create(tmp, false)
      try out.write(renderEntry(snap.version, snap.op, snap.dataFiles, None,
        snap.schema))
      finally out.close()
      publisherFor(spark, fs).publishExclusive(fs, tmp, ckptPath(log, snap.version))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }
    finally scala.util.Try(fs.delete(tmp, false))
  }

  private def commit(spark: SparkSession, dir: String, op: String,
                     intent: Intent): Int = {
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    fs.mkdirs(log)
    var attempt = 0
    while (attempt < 50) {
      val listing = listLog(fs, log)
      val resolved = listing.range.flatMap { case (_, hi) =>
        resolveState(fs, log, listing, hi)
      }
      val cur = resolved.map(_.snap)
      val v = cur.map(_.version).getOrElse(0) + 1
      // the entry is a DELTA: add + remove relative to cur; the full
      // list is still computed — the rewrite conflict check, the
      // checkpoint, and the returned state all need it
      val (files, schema, add, remove) = intent match {
        case Append(delta, incoming) =>
          // REBASE: base files and schema re-read every attempt
          val tableSchema = cur.flatMap(schemaOf(spark, dir, _))
          val merged = tableSchema match {
            case Some(t) => mergeSchemas(t, incoming, dir)
            case None => freshSchema(incoming, dir)
          }
          (cur.map(_.dataFiles).getOrElse(Seq.empty) ++ delta,
            Some(merged), delta, Seq.empty[String])
        case Rewrite(fl, base, sch) =>
          val curV = cur.map(_.version).getOrElse(0)
          if (curV != base) throw new java.util.ConcurrentModificationException(
            s"snapshot $op on $dir: base version $base is no longer " +
              s"latest (now $curV) — a concurrent commit landed; re-read " +
              "and re-apply (appends rebase automatically; rewrites must " +
              "recompute from the new state)")
          val prev = cur.map(_.dataFiles).getOrElse(Seq.empty)
          val flNames = fl.map(_.name).toSet
          val prevNames = prev.map(_.name).toSet
          (fl, sch, fl.filterNot(f => prevNames(f.name)),
            prev.map(_.name).filterNot(flNames))
      }
      // landed names are uuid-safe by construction, but importDir
      // adopts ARBITRARY names: a quote, comma, bracket, or control
      // char is refused at the door (rename before adopting) — the
      // codec would escape it, but readers of earlier releases split
      // the file list on exactly these characters, so a log that
      // carried one would misread there
      files.map(_.name).find(f => f.exists(c => c < ' ' || "\",[]".contains(c)))
        .foreach(f => throw new IllegalArgumentException(
          s"snapshot commit to $dir: file name not representable in the " +
            s"log (quote/comma/bracket/control char): '$f' — rename it " +
            "before importDir"))
      val tmp = new Path(log,
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(renderEntry(v, op, add.sortBy(_.name), Some(remove.sorted),
        schema))
      finally out.close()
      val dest = entryPath(log, v)
      racePoint(attempt)
      // exclusive publication IS the commit: exactly one writer wins a
      // given version; the loser's temp is removed and it re-enters the
      // loop (where Append rebases and Rewrite detects the conflict).
      // The primitive is the [[LogPublisher]] seam — built-ins for
      // file:/HDFS, a configured conditional-write implementation for
      // object stores, fail-fast otherwise.
      val won = publisherFor(spark, fs).publishExclusive(fs, tmp, dest)
      fs.delete(tmp, false) // the link published a second name; drop ours
      if (won) {
        // checkpoint due? the walk-back we just did measured the
        // distance to the nearest base; our entry adds one more delta
        val distance = resolved.map(_.deltasSinceBase).getOrElse(0) + 1
        if (distance >= checkpointInterval(spark))
          writeCheckpoint(spark, fs, log,
            snapFrom(v, op, files, schema))
        return v
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"snapshot commit lost ${50} optimistic races under $dir/$LogDir")
  }

  /** Land `df` as immutable data files beside the existing ones (no
    * commit yet); returns the new files' relative names, sizes, and
    * per-file column bounds. Files write to a `_`-prefixed staging dir
    * and rename in under fresh uuid names, so a crash strands invisible
    * garbage, never a half-landed file ([[vacuum]] sweeps strays). */
  /** `phys`: the table's logical→physical renames ([[physicalRenames]]
    * of the schema the commit will log) — landed files always store
    * PHYSICAL column names, so every file of a mapped table agrees
    * with every other regardless of when its column was renamed.
    * Stats are consequently logged under physical names too, which is
    * what the pruning lookups resolve against. */
  private def land(df: DataFrame, dir: String,
                   phys: Map[String, String] = Map.empty): Seq[DataFile] = {
    val framed =
      if (phys.isEmpty) df
      else {
        val lower = phys.map { case (k, v) =>
          k.toLowerCase(java.util.Locale.ROOT) -> v }
        df.select(df.columns.map { c =>
          val p = lower.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c)
          col("`" + c.replace("`", "``") + "`").as(p)
        }: _*)
      }
    val spark = framed.sparkSession
    val (fs, root) = fsOf(spark, dir)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(root, s"_staging_$tag")
    framed.write.mode("overwrite").parquet(staging.toString)
    val parts = fs.listStatus(staging).toSeq.filter(s => !s.isDirectory &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val names = parts.sortBy(_.getPath.getName).zipWithIndex.map {
      case (st, i) =>
        val name = f"$tag-$i%05d.parquet"
        require(fs.rename(st.getPath, new Path(root, name)),
          s"rename failed: ${st.getPath}")
        DataFile(name, st.getLen) // sizes ride into the log: zero-stat reads
    }
    fs.delete(staging, true)
    attachStats(spark, dir, framed.schema, names)
  }

  /** The current renames of an optional logged schema — what every
    * land() call site passes through. */
  private def renamesOf(schema: Option[StructType]): Map[String, String] =
    schema.map(physicalRenames).getOrElse(Map.empty)

  // --------------------------------------------------------- file stats

  /** Cap on logged string bounds: longer values truncate (min: plain
    * prefix — a valid lower bound; max: prefix with the last code
    * point incremented — a valid upper bound, the Iceberg truncate
    * transform). Bounds entry size without giving up pruning on the
    * id/UUID/URL key shapes that matter. */
  private val StatStrCap = 64

  /** How many columns ride bounds into each entry by default —
    * first-N in schema order, the Delta `dataSkippingNumIndexedCols`
    * idea at a size-conscious default (entry bytes are O(files ×
    * statted columns); `spark.graft.snapshots.statsColumns` pins the
    * exact set when the defaults miss the clustered key). */
  private val StatsColsCap = 16

  private val ReservedStatNames =
    Set("version", "op", "files", "sizes", "stats", "schema")

  /** Columns whose per-file bounds are logged: the configured list
    * (`spark.graft.snapshots.statsColumns`, comma-separated; empty
    * string disables stats entirely), else the first [[StatsColsCap]]
    * top-level numeric/string columns. Eligibility is structural:
    * token-safe ASCII names only, no collision with the entry's own
    * field names (readers of earlier releases locate those fields by
    * their first quoted occurrence in the entry text), no
    * timestamps/dates (their footer stats are in physical units —
    * micros/days — while the key-range prune compares logical casts;
    * refusing them is how a unit mismatch never mis-prunes). */
  private def statColumns(spark: SparkSession,
                          schema: StructType): Seq[String] = {
    def eligible(f: StructField): Boolean =
      (f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        f.dataType == org.apache.spark.sql.types.StringType) &&
        f.name.nonEmpty &&
        f.name.forall(c => (c.isLetterOrDigit && c < 128) || c == '_') &&
        !ReservedStatNames(f.name)
    spark.conf.getOption("spark.graft.snapshots.statsColumns") match {
      case Some(csv) =>
        // case-INSENSITIVE like every other resolution in the stats
        // system (schema gate, pruneCandidates, StatsPruning): a config
        // naming 'ID' on a table written as 'id' must select the
        // column, not silently log nothing and degrade every prune to
        // a full scan
        val want = csv.split(',')
          .map(_.trim.toLowerCase(java.util.Locale.ROOT))
          .filter(_.nonEmpty).toSet
        schema.fields.filter(f =>
            want(f.name.toLowerCase(java.util.Locale.ROOT)) && eligible(f))
          .map(_.name).toSeq
      case None =>
        schema.fields.filter(eligible).take(StatsColsCap).map(_.name).toSeq
    }
  }

  /** Per-file column bounds for freshly landed files — ONE distributed
    * footer pass over the NEW files only, at write time (the Delta
    * stats-on-write shape): each file pays its footer read once in its
    * lifetime, and every later pruning op ([[upsert]]/[[deleteKeys]]/
    * [[deleteRange]]/[[prunedRead]]) reads bounds from the entry with
    * ZERO filesystem calls — vs the per-OPERATION O(table-files)
    * footer manifest the legacy path pays. */
  /** `uniformSchema`: true only when every file is KNOWN to carry
    * every statted column (land() wrote them all from one frame) —
    * that is what licenses reading "no manifest rows" as "zero row
    * groups, an empty file". Adopted files ([[importDir]]) are
    * heterogeneous (a legacy file may predate a statted column
    * entirely), so there absence means UNKNOWN, never empty —
    * inferring rows=0 there would let pruning silently skip real
    * rows. */
  private def attachStats(spark: SparkSession, dir: String,
                          schema: StructType,
                          files: Seq[DataFile],
                          uniformSchema: Boolean = true): Seq[DataFile] = {
    val cols = statColumns(spark, schema)
    if (cols.isEmpty || files.isEmpty) files
    else {
      // a handful of fresh footers read on the driver (no job-launch
      // overhead per micro-commit); bulk landings (compact/zorder of a
      // big table) go through the distributed manifest pass
      val rows: Seq[org.apache.spark.sql.Row] =
        if (files.size <= 16) {
          val hconf = spark.sessionState.newHadoopConf()
          // footer reads are independent IO — overlap them instead of
          // paying files × latency sequentially on the driver (the
          // Configuration is shared read-only, the documented-safe use)
          import scala.concurrent.{Await, Future, blocking}
          import scala.concurrent.ExecutionContext.Implicits.global
          // blocking{}: these are filesystem reads on the shared
          // fork-join pool — mark them so the pool grows instead of
          // starving other driver tasks behind ≤16 blocked workers
          Await.result(
            Future.sequence(files.map(f => Future(blocking(
              Layout.readFooterStats(s"$dir/${f.name}", hconf, cols.toSet))))),
            scala.concurrent.duration.Duration(600, "s")).flatten
        } else Layout.statsManifestFiles(spark,
          files.map(f => s"$dir/${f.name}"), cols).collect().toSeq
      val byFile = rows.groupBy(_.getString(0))
      files.map { f =>
        val fileRows = byFile.getOrElse(s"$dir/${f.name}",
          Seq.empty[org.apache.spark.sql.Row])
        val cols = fileRows.flatMap { r =>
          val nulls = if (r.isNullAt(7)) None else Some(r.getLong(7))
          val stat: Option[ColStat] =
            if (!r.isNullAt(3) && !r.isNullAt(4)) {
              val (lo, hi) = (r.getDouble(3), r.getDouble(4))
              // NaN: parquet's documented unreliable-stats case;
              // Infinity: JSON has no number for it, so the entry could
              // not log it as a bound — both degrade to a bound-less
              // null count, never a wrong (or poisonous) bound
              if (lo.isNaN || hi.isNaN || lo.isInfinite || hi.isInfinite)
                nulls.map(NullStat(_))
              else Some(NumStat(lo, hi, nulls))
            } else if (!r.isNullAt(5) && !r.isNullAt(6))
              strStat(r.getString(5), r.getString(6), nulls)
            else nulls.map(NullStat(_)) // no bounds, known null count:
              // still prunes IS (NOT) NULL and, when all-null, ranges
          stat.map(r.getString(2) -> _)
        }.toMap
        // under a uniform schema a parquet file ALWAYS carries chunks
        // for every wanted column in every row group, so "no manifest
        // rows" ⇔ "no row groups" ⇔ an EMPTY file (the
        // delete-everything / empty-partition shape) — record rows = 0,
        // which pruning may then skip freely; for heterogeneous
        // adopted files absence means UNKNOWN (-1), never empty
        val nRows = fileRows.headOption.map(_.getLong(1))
          .getOrElse(if (uniformSchema) 0L else -1L)
        f.copy(stats = FileStats(nRows, cols))
      }
    }
  }

  /** String bounds for the log, if representable: BMP-only (parquet
    * orders strings by UTF-8 bytes, the JVM by UTF-16 code units —
    * the two agree on every BMP code point and diverge only past it,
    * so supplementary-plane bounds are dropped rather than compared
    * wrongly), capped at [[StatStrCap]] with a sound truncated upper
    * bound. None = this file-column is unprunable; never a lie. */
  private def strStat(lo: String, hi: String,
                      nulls: Option[Long]): Option[ColStat] = {
    def bmp(x: String) = x.forall(c => c < '\ud800' || c > '\udfff')
    if (!bmp(lo) || !bmp(hi)) nulls.map(NullStat(_))
    else truncatedUpper(hi).map(h => StrStat(lo.take(StatStrCap), h, nulls))
      .orElse(nulls.map(NullStat(_)))
  }

  /** A valid UPPER bound for `s` within [[StatStrCap]] chars: `s`
    * itself when short enough, else the truncation prefix with its
    * rightmost incrementable char bumped (skipping increments that
    * would land in the surrogate range). None when no char can bump —
    * the caller drops the stat. */
  private def truncatedUpper(s: String): Option[String] =
    if (s.length <= StatStrCap) Some(s)
    else {
      val p = s.substring(0, StatStrCap).toCharArray
      var i = p.length - 1
      var out: Option[String] = None
      while (out.isEmpty && i >= 0) {
        val n = p(i) + 1
        if (n <= 0xFFFF && (n < 0xD800 || n > 0xDFFF)) {
          p(i) = n.toChar
          out = Some(new String(p, 0, i + 1))
        }
        i -= 1
      }
      out
    }

  /** Files of `snap` that MAY hold `column` ∈ [lo, hi] — the pruning
    * router: LOGGED stats prune with zero IO (attached at land time);
    * files WITHOUT logged stats (legacy entries, pre-r17 commits mixed
    * under newer ones) prune through the distributed footer manifest —
    * over exactly that subset, so one fresh commit on an old table
    * never disables the footer pruning the old files had, and the
    * footer cost shrinks as rewrites refresh stats. Keep-if-unknown
    * superset semantics throughout: a file without a usable bound for
    * the column stays a candidate, so pruning can only save work,
    * never change an answer. Stats columns resolve case-insensitively
    * (Spark's resolution — a frame written as 'ID' onto an 'id' table
    * logs its bounds under its own casing). */
  private def pruneCandidates(spark: SparkSession, dir: String,
                              snap: Snapshot, column: String)
                             (logTest: ColStat => Boolean)
                             (footer: Seq[String] => Seq[String]): Seq[String] = {
    val key = column.toLowerCase(java.util.Locale.ROOT)
    val (statted, statless) = snap.dataFiles.partition(!_.stats.isEmpty)
    val keptLogged = statted.filter { f =>
      if (f.stats.rows == 0) false // logged-empty file: nothing to match
      else f.stats.cols.collectFirst {
        case (c, st) if c.toLowerCase(java.util.Locale.ROOT) == key => st
      } match {
        case Some(NullStat(n)) => !(f.stats.rows >= 0 && n == f.stats.rows)
        case Some(st) => logTest(st)
        case None => true
      }
    }.map(_.name)
    val keptLegacy =
      if (statless.isEmpty) Seq.empty
      else footer(statless.map(_.name))
    keptLogged ++ keptLegacy
  }

  /** Resolve a LOGICAL column to the PHYSICAL name files and logged
    * stats use — identity on unmapped tables. */
  private def physicalOf(snap: Snapshot, column: String): String =
    snap.schema.flatMap(_.fields.find(f =>
        f.name.toLowerCase(java.util.Locale.ROOT) ==
          column.toLowerCase(java.util.Locale.ROOT))
      .map(physicalName)).getOrElse(column)

  private def pruneCandidatesNum(spark: SparkSession, dir: String,
                                 snap: Snapshot, logicalCol: String,
                                 lo: Double, hi: Double): Seq[String] = {
    val column = physicalOf(snap, logicalCol)
    pruneCandidates(spark, dir, snap, column) {
      case NumStat(mn, mx, _) => !(mx < lo || mn > hi)
      case _ => true
    } { names =>
      Layout.pruneFiles(
        Layout.statsManifestFiles(spark, names.map(f => s"$dir/$f"),
          Seq(column)), column, lo, hi)
        .map(_.stripPrefix(s"$dir/"))
    }
  }

  /** [[pruneCandidatesNum]] for STRING columns — what lets a takedown
    * or upsert keyed by doc ids/UUIDs/URLs (the most common key shape)
    * bound its touched-file search. Non-BMP query bounds keep every
    * file (the order-regime guard, same as [[strStat]]). */
  private def pruneCandidatesStr(spark: SparkSession, dir: String,
                                 snap: Snapshot, logicalCol: String,
                                 lo: String, hi: String): Seq[String] = {
    val column = physicalOf(snap, logicalCol)
    def bmp(x: String) = x.forall(c => c < '\ud800' || c > '\udfff')
    if (!bmp(lo) || !bmp(hi)) snap.files
    else pruneCandidates(spark, dir, snap, column) {
      case StrStat(mn, mx, _) => !(mx < lo || mn > hi)
      case _ => true
    } { names =>
      Layout.pruneFilesStr(
        Layout.statsManifestFiles(spark, names.map(f => s"$dir/$f"),
          Seq(column)), column, lo, hi)
        .map(_.stripPrefix(s"$dir/"))
    }
  }

  /** ADOPT an existing plain-parquet directory as version 1 — the
    * migration path onto the log: no byte is rewritten, the commit just
    * names the data files already there (hive subdir layouts adopt
    * recursively by relative path) and logs their footer-union schema.
    * Fails if the table already has a log (adoption is a bootstrap, not
    * a merge). After adoption every reader/writer goes through the log;
    * the one caveat is inherited names — adopted files were not
    * uuid-landed, so the PRE-ADOPTION writer must stop before the
    * import (its next overwrite would collide with names the log now
    * owns). */
  def importDir(spark: SparkSession, dir: String): Int = {
    val (fs, root) = fsOf(spark, dir)
    require(versions(spark, dir).isEmpty,
      s"importDir: $dir already has a snapshot log")
    val rel = listDataFiles(fs, root, root)
    require(rel.nonEmpty, s"importDir: no data files under $dir")
    val schema = asNullable(spark.read.option("mergeSchema", "true")
      .parquet(rel.map(f => s"$dir/${f.name}"): _*).schema)
      .asInstanceOf[StructType]
    // adoption is the ONE footer pass this table ever pays: bounds ride
    // into v1 beside the names/sizes, so pruning ops are zero-IO from
    // the first post-import operation on
    commit(spark, dir, "import",
      Rewrite(attachStats(spark, dir, schema, rel, uniformSchema = false),
        0, Some(schema)))
  }

  private def listDataFiles(fs: FileSystem, root: Path,
                            dir: Path): Seq[DataFile] = {
    // listStatus returns scheme-qualified paths; relativize against the
    // equally-qualified root or the prefix never strips
    val base = fs.makeQualified(root).toString
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) listDataFiles(fs, root, st.getPath)
      else Seq(DataFile(fs.makeQualified(st.getPath).toString
        .stripPrefix(base).stripPrefix("/"), st.getLen))
    }
  }

  /** RESTORE the table to `version` — undo without losing history: a
    * NEW commit whose file list is the old version's, so the rollback
    * is itself versioned (re-restore to un-restore), pinned readers are
    * untouched, and [[changes]] reports it as the delete+insert diff it
    * logically is (the default exceptAll branch — restore introduces no
    * special case). Files must still be within the [[vacuum]] horizon.
    * Conflicts if a concurrent commit lands first (the state being
    * undone would not be the state the caller inspected). */
  def restore(spark: SparkSession, dir: String, version: Int): Int = {
    val base = latest(spark, dir).map(_.version).getOrElse(0)
    val target = resolve(spark, dir, Some(version))
    commit(spark, dir, "restore",
      Rewrite(target.dataFiles, base, target.schema))
  }

  /** Append `df` to the table: land new files, commit the DELTA — the
    * file list unions onto whatever latest holds at publish time, so
    * concurrent appenders all land (see the class doc's commit
    * protocol). Schema-validated at commit: a type conflict with the
    * table fails here, naming the column; new columns widen and the
    * merged schema is logged. Returns the committed version. */
  def writeAppend(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    // fail fast BEFORE landing data: a type conflict should cost zero
    // writes (the in-loop validation still guards the rebase path)
    val tableSchema = latest(spark, dir).flatMap(schemaOf(spark, dir, _))
    tableSchema.foreach(t => mergeSchemas(t, df.schema, dir))
    commit(spark, dir, "append",
      Append(land(df, dir, renamesOf(tableSchema)), df.schema))
  }

  /** IDEMPOTENT append for streaming `foreachBatch` — the exactly-once
    * device every log-structured streaming sink uses: the batch id is
    * recorded in the committed entry (`op = "append-batch-N"`), and a
    * REPLAYED batch (Structured Streaming re-runs the last batch after
    * a crash, same id) sees its id already in the log and lands
    * nothing. Visibility is the commit, so a downstream [[addedSince]]
    * consumer never reads a half-written micro-batch — the parquet
    * `_spark_metadata` contract, but shared with every batch reader of
    * the same table. Returns the committed version, or None for a
    * replay skip.
    *
    * CONTRACT — the idempotency token is `(queryId, batchId)`, and the
    * default `queryId = None` scopes it to the bare batch id, GLOBAL to
    * the table: without a queryId, one table admits exactly ONE
    * batch-id-writing stream, ever. A second stream (or the same query
    * restarted with a FRESH checkpoint dir, which resets batch ids to
    * 0) would collide on ids already committed and have its batches
    * silently skipped as replays — silent data loss. Multi-stream
    * ingest into one table MUST pass a distinct stable `queryId` per
    * query (the `graft-snapshot` sink's `queryId` option; Delta scopes
    * its streaming txn the same way, per-writer `(appId, version)`). */
  def writeAppendBatch(df: DataFrame, dir: String, batchId: Long,
                       queryId: Option[String] = None): Option[Int] = {
    val spark = df.sparkSession
    queryId.foreach(q => require(q.nonEmpty && !q.exists(c =>
      c < ' ' || "\",[]".contains(c)),
      s"writeAppendBatch: queryId not representable in the log: '$q'"))
    val prefix = queryId.fold("append-batch-")(q => s"append-batch-$q-")
    val op = s"$prefix$batchId"
    // replay check without a full history parse: Structured Streaming
    // replays the LATEST uncommitted batch, so the newest entry decides
    // the common case in O(1); only a batch id at-or-below the newest
    // committed one (recovery from an old checkpoint) pays the full
    // scan to confirm. The numeric-suffix guard keeps OTHER queries'
    // namespaced ops (or ours seen without the namespace) out of the
    // fast path — they fall through to the exact full-history check.
    val newestBatch = latest(spark, dir).map(_.op).collect {
      case o if o.startsWith(prefix) &&
        o.stripPrefix(prefix).nonEmpty &&
        o.stripPrefix(prefix).forall(_.isDigit) =>
        o.stripPrefix(prefix).toLong
    }
    // careful: a maintenance commit (compact/zorder) may sit on top of
    // the replayed batch — only a NEWER batch id on the newest entry
    // proves non-replay; anything else confirms against full history
    val replayed = newestBatch match {
      case Some(n) if batchId > n => false
      case _ => committedOps(spark, dir).contains(op)
    }
    // the replay check runs BEFORE the commit loop: two writers racing
    // on the SAME (queryId, batchId) could both pass it and both
    // append — a DUPLICATE, never a loss (appends rebase). Structured
    // Streaming never runs two instances of one checkpoint, so this
    // needs operator error (two queries sharing a queryId) to trigger;
    // the token's uniqueness is the caller's side of the contract.
    if (replayed) None
    else {
      val tableSchema = latest(spark, dir).flatMap(schemaOf(spark, dir, _))
      tableSchema.foreach(t => mergeSchemas(t, df.schema, dir))
      Some(commit(spark, dir, op,
        Append(land(df, dir, renamesOf(tableSchema)), df.schema)))
    }
  }

  /** Replace the table contents: land new files, commit = only them.
    * Old files stay on disk — every prior version remains readable
    * until [[vacuum]]. The table schema RESETS to the frame's (the one
    * sanctioned type-change path). Conflicts with concurrent commits —
    * a blind overwrite racing an append would silently drop the
    * appended rows otherwise. Returns the committed version. */
  def writeOverwrite(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val base = latest(spark, dir).map(_.version).getOrElse(0)
    commit(spark, dir, "overwrite",
      Rewrite(land(df, dir), base,
        Some(freshSchema(df.schema, dir))))
  }

  /** CREATE an empty table: version 1 carries the schema and no files
    * — the SQL catalog's `CREATE TABLE`/CTAS bootstrap (r18). Reads
    * return an empty frame with the logged schema; the first append is
    * simply commit 2. Refuses a directory that already has a log. */
  def createEmpty(spark: SparkSession, dir: String,
                  schema: StructType): Int = {
    require(latestVersion(spark, dir).isEmpty,
      s"createEmpty: $dir already has a snapshot log")
    commit(spark, dir, "create",
      Rewrite(Seq.empty, 0, Some(freshSchema(schema, dir))))
  }

  /** Read the table at `version` (default: latest). The file list is
    * immutable, so the scan is stable no matter what commits land while
    * the job runs. A table with no snapshots at all is an error — there
    * is no schema to synthesize; a zero-FILE version (a [[createEmpty]]
    * bootstrap, a delete-everything commit) reads as an empty frame
    * with the logged schema; a vacuumed version fails AT PLAN TIME
    * naming the retained range. */
  def read(spark: SparkSession, dir: String,
           version: Option[Int] = None): DataFrame = {
    val snap = resolve(spark, dir, version)
    scanOrEmpty(spark, dir, snap, snap.files)
  }

  /** [[scan]], with the zero-file case answered as an empty frame on
    * the snapshot's schema instead of a plan-time error. */
  private def scanOrEmpty(spark: SparkSession, dir: String, snap: Snapshot,
                          names: Seq[String]): DataFrame =
    if (names.nonEmpty) scan(spark, dir, snap, names)
    else snap.schema.orElse(schemaOf(spark, dir, snap))
      .map(s => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), s))
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot under $dir has no files and no logged schema"))

  /** Scan `names` (a subset of `snap`'s files) with ZERO filesystem
    * calls at plan time when the entry carries both the schema and the
    * file sizes (every r19+ commit does): the log IS the file index —
    * no listing, no per-file getFileStatus, no footer read; the plan
    * goes through the stock parquet FileFormat path (pushdown, column
    * pruning, codegen, maxPartitionBytes splitting off the logged
    * sizes). Entries missing either fall back to the standard read. */
  private def scan(spark: SparkSession, dir: String, snap: Snapshot,
                   names: Seq[String],
                   schemaOverride: Option[StructType] = None): DataFrame = {
    require(names.nonEmpty, s"snapshot under $dir has no files")
    val schema = schemaOverride.orElse(snap.schema)
    val byName = snap.dataFiles.map(f => f.name -> f).toMap
    val entries = names.map { n =>
      val f = byName.getOrElse(n, DataFile(n))
      (n, f.size, f.stats) // stats feed predicate-driven file skipping
    }
    // column mapping (rename support): files store PHYSICAL names;
    // the parquet read plans on the physical schema and a projection
    // restores the logical names — filters and pruning push through
    // the aliases, so the mapped read keeps the stock scan shape
    val mapping = schema.map(physicalRenames).getOrElse(Map.empty)
    val readSchema = schema.map(s =>
      if (mapping.isEmpty) s else toPhysicalSchema(s))
    val frame = readSchema match {
      case Some(sc) if entries.forall(_._2 >= 0) =>
        org.apache.spark.sql.graftshim.LogFileIndex.frame(dir, entries, sc, spark)
      case _ => readFiles(spark, dir, names, readSchema)
    }
    if (mapping.isEmpty) frame
    else frame.select(schema.get.fields.map(f =>
      col("`" + physicalName(f).replace("`", "``") + "`").as(f.name)): _*)
  }

  /** Total bytes of a snapshot: from the LOGGED sizes when the entry
    * carries them (zero filesystem calls — the compact/zorder sizing
    * decision is then pure metadata), one getFileStatus per file
    * otherwise. */
  private def bytesOf(fs: FileSystem, root: Path, snap: Snapshot): Long =
    snap.dataFiles.map { f =>
      if (f.size >= 0) f.size
      else fs.getFileStatus(new Path(root, f.name)).getLen
    }.sum

  /** Snapshot scans take the schema FROM THE LOG ENTRY — no footer
    * pass, no `mergeSchema` cost: the scan plans from one entry read
    * no matter how many thousand files the version holds, and files
    * that predate a widening fill the late columns with NULL (the
    * q221 multi-year-corpus reality). Entries written before schemas
    * were logged fall back to the distributed footer union. */
  private def readFiles(spark: SparkSession, dir: String,
                        files: Seq[String],
                        schema: Option[StructType]): DataFrame = {
    require(files.nonEmpty, s"snapshot under $dir has no files")
    val paths = files.map(f => s"$dir/$f")
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Rows in files COMMITTED AFTER `sinceVersion` — the incremental-
    * processing scan: a nightly job remembers the version it processed
    * and reads only what landed since, never rescanning the table. TWO
    * direct entry reads (the cursor's and the latest's), flat in total
    * commit count — the 10^5-micro-batch poll stays O(1). Exact for
    * append-only tables (files are immutable, so new rows live only in
    * new files); after an overwrite the added files are rewritten
    * history, not deltas — callers gate on [[versions]]' ops when that
    * distinction matters. Empty delta → empty frame with the table
    * schema. A cursor behind the [[vacuum]] horizon fails naming the
    * retained range. */
  def addedSince(spark: SparkSession, dir: String,
                 sinceVersion: Int): DataFrame = {
    val lat = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots under $dir/$LogDir"))
    val base: Set[String] =
      if (sinceVersion == lat.version) lat.files.toSet
      else stateAt(spark, dir, sinceVersion).getOrElse(
        horizonError(spark, dir, sinceVersion)).files.toSet
    val fresh = lat.files.filterNot(base)
    if (fresh.isEmpty)
      scanOrEmpty(spark, dir, lat, lat.files).where(lit(false))
    else scan(spark, dir, lat, fresh)
  }

  private def horizonError(spark: SparkSession, dir: String,
                           version: Int): Nothing = {
    val range = retainedRange(spark, dir)
      .map { case (lo, hi) => s"retained versions: $lo..$hi" }
      .getOrElse("no versions retained")
    throw new IllegalArgumentException(
      s"version $version is not retained under $dir ($range) — " +
        "either it never existed or vacuum passed it; the earliest " +
        "safe cursor/read is the low end of the retained range")
  }

  /** Snapshot-isolated compaction: bin-pack the CURRENT snapshot into
    * ⌈bytes/targetBytes⌉ files (the [[Layout.compact]] coalesce, same
    * math) and commit the new list. No old file is touched, so readers
    * of any version — including one scanning mid-compaction — see
    * exactly their snapshot; the directory-swap duplicate window
    * documented on [[Layout.compact]] does not exist here. Conflicts if
    * a row-level commit lands concurrently (committing the pre-race
    * pack would resurrect its rows). No-op (returns None) when already
    * at the bin count. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long): Option[Int] = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val snap = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots under $dir"))
    val (fs, root) = fsOf(spark, dir)
    val bytes = bytesOf(fs, root, snap)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    if (snap.files.size <= n) None
    else {
      val packed = scan(spark, dir, snap, snap.files).coalesce(n)
      Some(commit(spark, dir, "compact",
        Rewrite(land(packed, dir, renamesOf(snap.schema)),
          snap.version, snap.schema)))
    }
  }

  /** CHANGE DATA FEED between versions — what a downstream index,
    * card, or replica needs to stay in sync without rescanning the
    * table: every commit in `(sinceVersion, upToVersion]` (default: to
    * latest) contributes its logical row changes, tagged `_change_type`
    * (insert | delete) and `_commit_version`. Op-aware and bounded to
    * TOUCHED files:
    *
    *  - `append` / `append-batch-*`: the added files' rows are inserts
    *    — no comparison at all;
    *  - `delete` / `upsert` / `overwrite`: deletes = removed-files rows
    *    `exceptAll` added-files rows, inserts = the reverse — an
    *    updated row shows as delete(old) + insert(new), unchanged rows
    *    rewritten into new files cancel exactly. The exceptAll shuffles
    *    only the touched files' rows — the honest cost of row-level CDC
    *    without per-row tracking (Delta writes CDF sidecars to avoid
    *    it; documented line, not crossed);
    *  - `compact` / `zorder`: skipped — layout rewrites change no rows,
    *    and skipping saves the provably-cancelling comparison.
    *
    * Entry reads are DIRECT: cost is O(upTo − since) opens, not a full
    * history parse. Order within one commit's change set is not
    * meaningful (it is a set); commits are distinguished by
    * `_commit_version`. Retention: the feed reads the REMOVED files of
    * CoW commits, so the cursor must stay within the [[vacuum]] horizon
    * — CHECKED at plan time: a pre-horizon cursor fails naming the
    * retained range, not at scan time with a missing file. */
  def changes(spark: SparkSession, dir: String, sinceVersion: Int,
              upToVersion: Option[Int] = None): DataFrame = {
    val (lo, hi) = retainedRange(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots under $dir/$LogDir"))
    val upTo = upToVersion.getOrElse(hi)
    require(upTo <= hi, s"upToVersion $upTo exceeds latest $hi under $dir")
    if (sinceVersion != 0 && (sinceVersion < lo || sinceVersion > hi))
      horizonError(spark, dir, sinceVersion)
    if (sinceVersion == 0 && lo != 1) horizonError(spark, dir, 1)
    // reconstruct the range's states in ONE forward fold: the base
    // walk-back once (≤ interval reads), then one delta apply per
    // version in the range — O(range) entry reads, same as before the
    // delta-log shape (entries are just smaller now)
    val entries = {
      val (fs2, root2) = fsOf(spark, dir)
      val log2 = new Path(root2, LogDir)
      val listing = listLog(fs2, log2)
      val first = math.max(sinceVersion, 1)
      var cur = resolveState(fs2, log2, listing, first)
        .getOrElse(horizonError(spark, dir, first)).snap
      cur +: (first + 1 to upTo).map { v =>
        cur = readRaw(fs2, entryPath(log2, v)) match {
          case f: FullEntry => f.snap
          case d: DeltaEntry =>
            snapFrom(v, d.op, applyDelta(cur.dataFiles, d), d.schema)
        }
        cur
      }
    }
    // a virtual empty predecessor makes the first commit a plain insert
    val chain =
      if (sinceVersion == 0) Snapshot(0, "append", Seq.empty) +: entries
      else entries
    val pairs = chain.sliding(2).collect {
      case Seq(prev, cur) if cur.version > sinceVersion => (prev, cur)
    }.toSeq
    val schema = read(spark, dir)
    val none = schema.where(lit(false))
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(0))
    val parts = pairs.flatMap { case (prev, cur) =>
      def tag(df: DataFrame, t: String) = df
        .withColumn("_change_type", lit(t))
        .withColumn("_commit_version", lit(cur.version))
      val added = cur.files.filterNot(prev.files.toSet)
      val removed = prev.files.filterNot(cur.files.toSet)
      // within ONE CoW pair both sides must sit on one schema for the
      // exceptAll: the pair's merged schema (None → legacy footer merge)
      val pairSchema = (prev.schema, cur.schema) match {
        case (Some(p), Some(c)) =>
          try Some(mergeSchemas(p, c, dir)) catch { case _: Exception => None }
        case (None, Some(c)) if prev.version == 0 => Some(c)
        case _ => None
      }
      cur.op match {
        // import bootstraps v1: pure inserts, no comparison to pay
        case op if op.startsWith("append") || op == "import" =>
          if (added.isEmpty) Nil
          else Seq(tag(scan(spark, dir, cur, added), "insert"))
        case "compact" | "zorder" | "rename" | "add-columns" => Nil
        case _ => // delete / upsert / overwrite: the exceptAll algebra
          // pairSchema absent (legacy entry / unmergeable pair): BOTH
          // sides must come off the same footer union, not each
          // version's own schema — exceptAll needs one row shape
          def side(of: Snapshot, names: Seq[String]): DataFrame =
            pairSchema match {
              case Some(ps) => scan(spark, dir, of, names,
                schemaOverride = Some(ps))
              case None => readFiles(spark, dir, names, None)
            }
          val a = if (added.isEmpty) schema.where(lit(false))
            else side(cur, added)
          val r = if (removed.isEmpty) schema.where(lit(false))
            else side(prev, removed)
          // ONE union + count aggregate instead of the two exceptAll
          // passes (r18): Spark plans EACH exceptAll as union +
          // count-agg over BOTH sides, so the pair's files were read
          // and shuffled ~4x. Multiset semantics are identical —
          // r.exceptAll(a) keeps a row max(#r − #a, 0) times and
          // a.exceptAll(r) max(#a − #r, 0) times; the signed count
          // yields exactly those multiplicities, null-safe on every
          // column exactly as exceptAll compares (GROUP BY and set-op
          // equality share null handling). Output row ORDER within
          // the pair may differ (delete/insert interleave) — no read
          // path depends on it: the CDC consumers key on
          // (_change_type, _commit_version), never on row order.
          val cols = r.columns.toSeq
          // scratch names must not collide with user columns — a user
          // column literally named "__d" would be silently replaced by
          // withColumn and corrupt the group keys (ADVICE r18)
          def fresh(base: String): String =
            Iterator.iterate(base)(_ + "_").dropWhile(cols.contains).next()
          val dC = fresh("__d")
          val nC = fresh("__n")
          val chunkC = fresh("__chunk")
          val repC = fresh("__rep")
          val signed = r.withColumn(dC, lit(1L))
            .unionByName(a.withColumn(dC, lit(-1L)))
          val counted = signed.groupBy(cols.map(col): _*)
            .agg(sum(col(dC)).as(nC))
            .where(col(nC) =!= 0L)
          // two-level expansion: sequence() materializes an
          // O(multiplicity) array per duplicated row, so a degenerate
          // commit (one row duplicated millions of times) is expanded
          // in ≤ RepChunk-sized chunks — Σ chunk lengths = |n| exactly
          Seq(counted
            .withColumn("_change_type",
              when(col(nC) > 0, "delete").otherwise("insert"))
            .withColumn("_commit_version", lit(cur.version))
            .withColumn(chunkC, explode(sequence(lit(0L),
              floor((abs(col(nC)) - 1) / RepChunk).cast("long"))))
            .withColumn(repC, explode(sequence(lit(1L),
              least(lit(RepChunk), abs(col(nC)) - col(chunkC) * RepChunk))))
            .drop(nC, chunkC, repC))
      }
    }
    // allowMissingColumns: commits before a schema widening union with
    // NULLs in the late columns (within ONE delete/upsert/overwrite
    // commit the exceptAll still needs both sides on one schema — CDC
    // across a widening rewrite is the caller's planning problem)
    parts.foldLeft(none)(_.unionByName(_, allowMissingColumns = true))
  }

  /** STREAMING [[changes]] — subscribe to the table instead of
    * poll-and-cursoring by hand: a Structured Streaming source
    * (format `graft-cdc`, [[graft.sources.cdc.CdcSource]]) whose
    * offset is the log version; each micro-batch runs the batch
    * [[changes]] algebra over its version range, with
    * `maxVersionsPerTrigger` admission control and Trigger.AvailableNow
    * support for catch-up-and-stop runs. The batch door for pipeline
    * configs stays `readChanges` (graft.Pipeline); this is its
    * always-on sibling, completing the tail-source family
    * (EsTailStream, WarcTailStream, and now the versioned table). */
  def readChangesStream(spark: SparkSession, dir: String,
                        startingVersion: Int = 0,
                        maxVersionsPerTrigger: Int = Int.MaxValue): DataFrame =
    spark.readStream.format("graft-cdc")
      .option("path", dir)
      .option("startingVersion", startingVersion.toString)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
      .load()

  /** `input_file_name()` output → the snapshot's relative names.
    * input_file_name returns URI-ENCODED strings (a space is `%20`), so
    * the match decodes both sides to plain absolute paths — raw
    * suffix matching would silently MISS adopted files with encodable
    * characters (a deleteWhere that "succeeds" while the rows survive)
    * and can false-positive when one adopted relative path suffixes
    * another. */
  private def matchTouched(fs: FileSystem, root: Path, snapFiles: Seq[String],
                           touchedAbs: Set[String]): Seq[String] = {
    def decode(u: String): String =
      try new Path(new java.net.URI(u)).toUri.getPath
      catch { case _: Exception => new Path(u).toUri.getPath }
    val touched = touchedAbs.map(decode)
    snapFiles.filter(f => touched.contains(
      fs.makeQualified(new Path(root, f)).toUri.getPath))
  }

  /** Copy-on-write `DELETE WHERE` — the Delta/Iceberg CoW shape: find
    * the files that CONTAIN matching rows (one predicate scan collecting
    * `input_file_name`, driver state = file names), rewrite ONLY those
    * files without the matches, commit = untouched files + rewrites.
    * A predicate touching 1% of files rewrites 1% of the table; the
    * rest of the commit is pointer arithmetic. NULL predicate rows are
    * KEPT (`DELETE WHERE cond` removes rows where cond is TRUE — SQL
    * semantics). Returns None when nothing matches (no empty commit).
    * Conflicts if a concurrent commit lands between the scan and the
    * publish (rewriting a stale base would drop the winner's rows).
    *
    * Right-to-be-forgotten note: prior VERSIONS still hold the rows
    * until [[vacuum]] passes the retention horizon — physical removal
    * is `deleteWhere` + `vacuum`, and the two-step is deliberate
    * (readers pinned to old versions must not lose files mid-scan). */
  def deleteWhere(spark: SparkSession, dir: String,
                  cond: org.apache.spark.sql.Column): Option[Int] = {
    val snap = resolve(spark, dir, None)
    val (fs, root) = fsOf(spark, dir)
    if (snap.files.isEmpty) return None // zero-file version: no-op
    val cur = scan(spark, dir, snap, snap.files)
    val touchedAbs = cur.where(cond)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedAbs.isEmpty) None
    else {
      val touched = matchTouched(fs, root, snap.files, touchedAbs)
      val untouched = snap.dataFiles.filterNot(f => touched.contains(f.name))
      val rewritten = scan(spark, dir, snap, touched)
        .where(!coalesce(cond, lit(false)))
      Some(commit(spark, dir, "delete",
        Rewrite(untouched ++ land(rewritten, dir, renamesOf(snap.schema)),
          snap.version, snap.schema)))
    }
  }

  /** Copy-on-write DELETE BY KEY FRAME — the right-to-be-forgotten
    * shape at scale ("remove these 10^6 user ids"): [[deleteWhere]]'s
    * mechanics keyed by a SEMI-JOIN against `keys` instead of a
    * predicate, because a million-key list can neither ride in an
    * `isin` literal nor collect to the driver. Numeric keys prune
    * candidate files through the footer-stats manifest first (the
    * [[upsert]] scale path: on a key-clustered table the scan AND the
    * rewrite are bounded by the keys' range). NULL keys match nothing;
    * an empty/no-match frame is a no-op returning None. Conflicts like
    * every rewrite. Physical removal from history is this + [[vacuum]],
    * as on [[deleteWhere]]. */
  def deleteKeys(spark: SparkSession, dir: String, keyCol: String,
                 keys: DataFrame): Option[Int] = {
    require(keys.columns.contains(keyCol),
      s"deleteKeys: key column '$keyCol' not in keys frame " +
        s"(has: ${keys.columns.sorted.mkString(", ")})")
    val snap = resolve(spark, dir, None)
    val (fs, root) = fsOf(spark, dir)
    val k = keys.select(col(keyCol)).distinct()
    val touched = matchTouched(fs, root, snap.files,
      touchedByKeys(spark, dir, snap, keyCol, k))
    if (touched.isEmpty) None
    else {
      val untouched = snap.dataFiles.filterNot(f => touched.contains(f.name))
      val rewritten = scan(spark, dir, snap, touched)
        .join(k, Seq(keyCol), "left_anti")
      Some(commit(spark, dir, "delete",
        Rewrite(untouched ++ land(rewritten, dir, renamesOf(snap.schema)),
          snap.version, snap.schema)))
    }
  }

  /** Copy-on-write DELETE of a numeric RANGE — the TTL/retention pass
    * ("drop everything with ts past the horizon") as a first-class op:
    * candidate files prune through the footer-stats manifest on
    * `[lo, hi]` BEFORE any data page is read, so on a time-clustered
    * table (ingest order usually is) the scan touches only the files
    * whose bounds overlap the horizon — [[deleteWhere]] with the same
    * predicate is correct but scans the corpus. NULL values are KEPT
    * (SQL DELETE semantics via the BETWEEN predicate). */
  def deleteRange(spark: SparkSession, dir: String, column: String,
                  lo: Double, hi: Double): Option[Int] = {
    val snap = resolve(spark, dir, None)
    val (fs, root) = fsOf(spark, dir)
    val candidates = pruneCandidatesNum(spark, dir, snap, column, lo, hi)
    if (candidates.isEmpty) return None
    val cond = col(column) >= lit(lo) && col(column) <= lit(hi)
    val touchedAbs = scan(spark, dir, snap, candidates)
      .where(cond).select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedAbs.isEmpty) None
    else {
      val touched = matchTouched(fs, root, snap.files, touchedAbs)
      val untouched = snap.dataFiles.filterNot(f => touched.contains(f.name))
      val rewritten = scan(spark, dir, snap, touched)
        .where(!coalesce(cond, lit(false)))
      Some(commit(spark, dir, "delete",
        Rewrite(untouched ++ land(rewritten, dir, renamesOf(snap.schema)),
          snap.version, snap.schema)))
    }
  }

  /** Touched-file search shared by [[upsert]]/[[deleteKeys]]/
    * [[applyChanges]]: which of the snapshot's files hold a row whose
    * `keyCol` appears in `keys`. NUMERIC and STRING keys both prune
    * the candidate set to the keys' min/max range first — from the
    * log entry's per-file bounds when present (zero IO), the footer
    * manifest otherwise; the scan then semi-joins only the candidates.
    * On a key-clustered table a contiguous key batch therefore scans
    * only the files its range hits, whatever the key's type. Returns
    * `input_file_name` URIs. */
  private def touchedByKeys(spark: SparkSession, dir: String, snap: Snapshot,
                            keyCol: String, keys: DataFrame): Set[String] = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val candidates: Seq[String] = keys.schema(keyCol).dataType match {
      case _: NumericType =>
        val mm = keys.agg(min(col(keyCol)).cast("double"),
          max(col(keyCol)).cast("double")).head()
        if (mm.isNullAt(0)) Seq.empty // all-NULL keys match no existing row
        // widen by one ulp: the cast rounds int64 keys past 2^53 to
        // the nearest double, which can round the true min UP (or max
        // DOWN) — the widened range keeps the boundary file instead of
        // wrongly pruning it
        else pruneCandidatesNum(spark, dir, snap, keyCol,
          Math.nextDown(mm.getDouble(0)), Math.nextUp(mm.getDouble(1)))
      case StringType =>
        val mm = keys.agg(min(col(keyCol)), max(col(keyCol))).head()
        if (mm.isNullAt(0)) Seq.empty
        else pruneCandidatesStr(spark, dir, snap, keyCol,
          mm.getString(0), mm.getString(1))
      case _ => snap.files
    }
    if (candidates.isEmpty) Set.empty
    else scan(spark, dir, snap, candidates)
      .select(col(keyCol), input_file_name().as("__f"))
      .join(keys, Seq(keyCol), "left_semi")
      .select(col("__f")).distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Apply one CHANGE-DATA-FEED batch (the [[changes]]/graft-cdc shape:
    * table columns + `_change_type` + `_commit_version`) to a REPLICA
    * table keyed by `keyCol` — the downstream half of table-to-table
    * replication: subscribe with [[readChangesStream]], apply each
    * micro-batch here via `foreachBatch`, and the replica converges to
    * the source at every consumed version.
    *
    * A batch may span several commits, so application is by NET EFFECT
    * per key (the last version wins): for each key only the rows of its
    * newest `_commit_version` in the batch count — an insert there is
    * the key's final value (upserted), a delete with no insert beside
    * it means the key is gone. Within one version an updated key
    * carries delete(old)+insert(new); the insert wins by construction.
    *
    * Application is ONE commit (`op = apply-batch-N` when `batchId` is
    * given, else `apply-changes`): files holding any affected key are
    * rewritten without those keys, the net inserts land beside, and a
    * single Rewrite flips the pointer — so every replica version
    * corresponds to SOME source version (a reader pinning any replica
    * version never sees a deletes-applied-upserts-pending intermediate
    * state), and the replica's own CDC feed emits exactly one entry
    * per applied batch. Replay safety is layered: with `batchId`
    * (the `graft-snapshot` sink passes the streaming batch id) a
    * replayed batch finds its op already committed and lands NOTHING —
    * batch-id-exact like [[writeAppendBatch]]; without it, replays
    * still converge because delete-by-key and upsert-by-key are
    * value-idempotent. Like [[writeAppendBatch]], the batch-id token
    * is GLOBAL to the table unless `queryId` namespaces it — a keyCol
    * stream restarted with a FRESH checkpoint dir (batch ids reset to
    * 0) or a second stream on one replica MUST set a distinct stable
    * queryId or its batches are silently skipped as replays. Contract:
    * the table is key-unique (the [[upsert]] contract); multi-row keys
    * need a bespoke applier. Returns the committed version, None for a
    * replay skip or an effect-free batch. */
  def applyChanges(batch: DataFrame, dir: String, keyCol: String,
                   batchId: Option[Long] = None,
                   queryId: Option[String] = None): Option[Int] = {
    val spark = batch.sparkSession
    val cols = batch.columns
    require(cols.contains("_change_type") && cols.contains("_commit_version"),
      "applyChanges expects the changes()/graft-cdc shape " +
        s"(_change_type, _commit_version); got: ${cols.mkString(", ")}")
    require(cols.contains(keyCol), s"applyChanges: key column '$keyCol' " +
      s"not in batch (has: ${cols.sorted.mkString(", ")})")
    queryId.foreach(q => require(q.nonEmpty && !q.exists(c =>
      c < ' ' || "\",[]".contains(c)),
      s"applyChanges: queryId not representable in the log: '$q'"))
    val prefix = queryId.fold("apply-batch-")(q => s"apply-batch-$q-")
    val op = batchId.fold("apply-changes")(id => s"$prefix$id")
    // batch-id replay check, the writeAppendBatch shape: the newest
    // entry decides the common crash-replay case in O(1); only an id
    // at-or-below the newest applied one confirms against full history
    if (batchId.isDefined) {
      val newestApplied = latest(spark, dir).map(_.op).collect {
        case o if o.startsWith(prefix) &&
          o.stripPrefix(prefix).nonEmpty &&
          o.stripPrefix(prefix).forall(_.isDigit) =>
          o.stripPrefix(prefix).toLong
      }
      val replayed = newestApplied match {
        case Some(n) if batchId.get > n => false
        case _ => committedOps(spark, dir).contains(op)
      }
      if (replayed) return None
    }
    // alias both sides: `last` derives from `batch`, so unqualified
    // columns would trip the ambiguous-self-join check
    val b = batch.as("__cdc_b")
    val last = batch.groupBy(col(keyCol))
      .agg(max(col("_commit_version")).as("__v")).as("__cdc_l")
    val net = b.join(last,
      col(s"__cdc_b.`$keyCol`") <=> col(s"__cdc_l.`$keyCol`") &&
        col("__cdc_b._commit_version") === col("__cdc_l.__v"))
      .select(batch.columns.map(c => col(s"__cdc_b.`$c`")): _*)
    val inserts = net.where(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version")
    // replica bootstrap: the first applied batch CREATES the table —
    // there is nothing to delete from, net inserts are the whole state
    if (latest(spark, dir).isEmpty) {
      return if (inserts.isEmpty) None
      else Some(commit(spark, dir, op,
        Append(land(inserts, dir), inserts.schema)))
    }
    val snap = resolve(spark, dir, None)
    val (fs, root) = fsOf(spark, dir)
    val hasInserts = !inserts.isEmpty
    val schema =
      if (!hasInserts) snap.schema
      else schemaOf(spark, dir, snap)
        .map(t => mergeSchemas(t, inserts.schema, dir))
        .orElse(Some(freshSchema(inserts.schema, dir)))
    // ALL affected keys in one touched-file search: a deleted key's
    // file and an upserted key's file rewrite in the same pass
    val keys = net.select(col(keyCol)).distinct()
    val touched = matchTouched(fs, root, snap.files,
      touchedByKeys(spark, dir, snap, keyCol, keys))
    if (touched.isEmpty && !hasInserts) return None
    val untouched = snap.dataFiles.filterNot(f => touched.contains(f.name))
    val survivors =
      if (touched.isEmpty) Seq.empty
      else land(scan(spark, dir, snap, touched)
        .join(keys, Seq(keyCol), "left_anti"), dir, renamesOf(schema))
    val landed =
      if (hasInserts) land(inserts, dir, renamesOf(schema)) else Seq.empty
    Some(commit(spark, dir, op,
      Rewrite(untouched ++ survivors ++ landed, snap.version, schema)))
  }

  /** Copy-on-write UPSERT by key — the MERGE "update or insert" case:
    * files holding a matching key are rewritten without those rows (the
    * [[deleteWhere]] mechanics, keyed by a semi-join instead of a
    * predicate), then the updates land as fresh files; one commit flips
    * both. Update batches are usually small, so Spark's own broadcast
    * threshold handles the join side; the table never shuffles — only
    * touched files are re-read. Duplicate keys in `updates` land as-is
    * (the caller owns key uniqueness); NULL keys never match an
    * existing row and simply insert. An EMPTY updates frame is a no-op
    * returning the current version — no empty file, no log/CDC noise
    * (mirrors [[deleteWhere]]'s no-match None). Schema-validated like
    * [[writeAppend]]; conflicts like [[deleteWhere]].
    *
    * Scale path: for a NUMERIC key the touched-file search first prunes
    * candidates through the footer-stats manifest on the updates' key
    * range (one footer pass, zero data pages), so on a key-clustered
    * table ([[optimizeZorderN]] on the key) a contiguous update batch
    * SCANS only the files its range hits — without it the semi-join
    * scan alone is O(corpus) per upsert and the clustering only bounds
    * the rewrite, not the search. Files without key stats are kept
    * (prune is a superset guarantee); non-numeric keys fall back to the
    * full-table search. */
  def upsert(updates: DataFrame, dir: String, keyCol: String): Int = {
    val spark = updates.sparkSession
    require(updates.columns.contains(keyCol),
      s"upsert: key column '$keyCol' not in updates " +
        s"(has: ${updates.columns.sorted.mkString(", ")})")
    val snap = resolve(spark, dir, None)
    val (fs, root) = fsOf(spark, dir)
    if (updates.isEmpty) return snap.version
    val schema = schemaOf(spark, dir, snap)
      .map(t => mergeSchemas(t, updates.schema, dir))
      .orElse(Some(freshSchema(updates.schema, dir)))
    val keys = updates.select(col(keyCol)).distinct()
    val touched = matchTouched(fs, root, snap.files,
      touchedByKeys(spark, dir, snap, keyCol, keys))
    val untouched = snap.dataFiles.filterNot(f => touched.contains(f.name))
    val survivors =
      if (touched.isEmpty) Seq.empty
      else land(scan(spark, dir, snap, touched)
        .join(keys, Seq(keyCol), "left_anti"), dir, renamesOf(schema))
    commit(spark, dir, "upsert",
      Rewrite(untouched ++ survivors ++ land(updates, dir, renamesOf(schema)),
        snap.version, schema))
  }

  /** Footer-stats manifest OF ONE SNAPSHOT ([[Layout.statsManifestFiles]]
    * over the version's file list) — the Iceberg scan shape: pruning
    * decisions bind to the immutable snapshot, not to whatever the
    * directory holds when the scan finally runs. */
  def manifest(spark: SparkSession, dir: String,
               columns: Seq[String] = Nil,
               version: Option[Int] = None): DataFrame = {
    val snap = resolve(spark, dir, version)
    Layout.statsManifestFiles(spark, snap.files.map(f => s"$dir/$f"), columns)
  }

  /** Snapshot-pinned file-skipping scan: only the version's files whose
    * bounds may hold `column ∈ [lo, hi]` are opened — bounds from the
    * LOG ENTRY when it carries them (plan cost = one entry read, zero
    * further IO; every r17+ commit logs them at land time), the footer
    * manifest otherwise ([[Layout.pruneFiles]] semantics either way —
    * missing stats keep a file, the caller re-applies the predicate).
    * The kept files read under the SNAPSHOT's schema, so a
    * schema-widened table returns the same columns pruned or not
    * (late-added columns NULL-fill rather than silently vanish). After
    * [[optimizeZorder]] this is the full lakehouse read path:
    * log → bounds → skip → scan. */
  def prunedRead(spark: SparkSession, dir: String, column: String,
                 lo: Double, hi: Double,
                 version: Option[Int] = None): DataFrame = {
    val snap = resolve(spark, dir, version)
    val files = pruneCandidatesNum(spark, dir, snap, column, lo, hi)
    if (files.isEmpty)
      scanOrEmpty(spark, dir, snap, snap.files).where(lit(false))
    else scan(spark, dir, snap, files,
      schemaOverride = snap.schema.orElse(schemaOf(spark, dir, snap)))
  }

  /** [[prunedRead]] for a STRING column — the id/UUID/URL range scan
    * (e.g. "all docs of one crawl prefix") with the same
    * log-bounds-first, footer-fallback, superset-guarantee contract. */
  def prunedReadStr(spark: SparkSession, dir: String, column: String,
                    lo: String, hi: String,
                    version: Option[Int] = None): DataFrame = {
    val snap = resolve(spark, dir, version)
    val files = pruneCandidatesStr(spark, dir, snap, column, lo, hi)
    if (files.isEmpty)
      scanOrEmpty(spark, dir, snap, snap.files).where(lit(false))
    else scan(spark, dir, snap, files,
      schemaOverride = snap.schema.orElse(schemaOf(spark, dir, snap)))
  }

  /** Public resolution door for integrations (the SQL catalog, ops
    * tooling): the pinned [[Snapshot]] at `version` (default latest) —
    * same direct-addressed read and same fail-loud horizon errors as
    * every internal consumer. */
  def snapshotAt(spark: SparkSession, dir: String,
                 version: Option[Int] = None): Snapshot =
    resolve(spark, dir, version)

  /** `TIMESTAMP AS OF` resolution: the newest version whose commit
    * file's modification time is at or before `tsMillis` — the log's
    * only timestamp (ordering truth remains the VERSION; the mtime is
    * operational context, same caveat as [[history]]). Mtimes are
    * MONOTONIZED before the comparison (walk versions ascending, carry
    * the running max mtime as each version's effective timestamp — the
    * Delta commit-timestamp rule): clock skew or log entries restored
    * with fresh mtimes can otherwise stamp version N later than N+1,
    * and raw max-over-mtime would then resolve a timestamp to a LATER
    * version than the timeline it claims to pick. One directory
    * listing, no entry parse. Fails naming the retained range when
    * nothing that old is retained. */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    val stamped =
      if (!fs.exists(log)) Seq.empty
      else fs.listStatus(log).toSeq.flatMap(st => st.getPath.getName match {
        case VersionRe(n) => Some(n.toInt -> st.getModificationTime)
        case _ => None
      }).sortBy(_._1)
    val cands = stamped.foldLeft((Long.MinValue, List.empty[Int])) {
      case ((eff0, keep), (v, mt)) =>
        val eff = math.max(eff0, mt)
        (eff, if (eff <= tsMillis) v :: keep else keep)
    }._2
    if (cands.isEmpty) {
      val range = retainedRange(spark, dir)
        .map { case (lo, hi) => s"retained versions: $lo..$hi" }
        .getOrElse("no versions retained")
      throw new IllegalArgumentException(
        s"no snapshot under $dir committed at or before " +
          s"${new java.sql.Timestamp(tsMillis)} ($range)")
    }
    cands.max
  }

  private def resolve(spark: SparkSession, dir: String,
                      version: Option[Int]): Snapshot =
    version match {
      case Some(v) => stateAt(spark, dir, v).getOrElse {
        if (retainedRange(spark, dir).isEmpty) throw new IllegalArgumentException(
          s"no snapshots under $dir/$LogDir")
        else horizonError(spark, dir, v)
      }
      case None => latest(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no snapshots under $dir/$LogDir"))
    }

  /** `OPTIMIZE ZORDER BY (xCol, yCol)` — the full lakehouse maintenance
    * command: rewrite the current snapshot in Z-order
    * ([[Layout.zorderFrame]]: one min/max agg + one range shuffle) into
    * `⌈bytes/targetBytes⌉` files and commit the new list. Combines the
    * two halves this module and [[Layout]] each prove separately:
    * multi-column file skipping from the layout, reader isolation from
    * the log — a long scan started before the rewrite still reads its
    * own snapshot. Runs even when the file count is already at the bin
    * target (unlike [[compact]]) because the point is the ORDER, not
    * the count. Conflicts like [[compact]]. */
  def optimizeZorder(spark: SparkSession, dir: String, xCol: String,
                     yCol: String, targetBytes: Long, bits: Int = 16): Int =
    optimizeZorderN(spark, dir, Seq(xCol, yCol), targetBytes, bits)

  /** N-column [[optimizeZorder]] ([[Layout.zorderFrameN]]: n · bits ≤
    * 63; 2-3 columns is the practical guidance). ONE column is the
    * degenerate-but-useful case: bit interleaving over a single key is
    * the identity, so the layout is plain range clustering (one range
    * shuffle + in-partition sort) — what bounds a key-batched [[upsert]]
    * to the files its key range hits (the q245 shape). */
  def optimizeZorderN(spark: SparkSession, dir: String, cols: Seq[String],
                      targetBytes: Long, bits: Int = 16): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(cols.nonEmpty, "optimizeZorderN needs at least one column")
    val snap = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots under $dir"))
    val (fs, root) = fsOf(spark, dir)
    val bytes = bytesOf(fs, root, snap)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val cur = scanOrEmpty(spark, dir, snap, snap.files)
    val framed =
      if (cols.size == 1)
        cur.repartitionByRange(n, col(cols.head))
          .sortWithinPartitions(col(cols.head))
      else Layout.zorderFrameN(cur, cols, n, bits)
    commit(spark, dir, "zorder",
      Rewrite(land(framed, dir, renamesOf(snap.schema)),
        snap.version, snap.schema))
  }

  /** The periodic maintenance pass a streaming ingest schedules every N
    * batches: bin-pack the current snapshot ([[compact]]), then reclaim
    * space past the retention horizon ([[vacuum]]). Retention must stay
    * deep enough that no reader pins a vacuumed version — the
    * documented operational contract (table formats enforce it with
    * timestamps; here it is the `keepVersions` knob). */
  def maintain(spark: SparkSession, dir: String, targetBytes: Long,
               keepVersions: Int = 10): Option[Int] = {
    val v = compact(spark, dir, targetBytes)
    vacuum(spark, dir, keepVersions)
    v
  }

  /** `count(*)` as PURE METADATA when every file's row count is
    * logged (every r17+ commit does): the sum of per-file numRecords
    * from ONE entry read — zero data IO, zero footer reads, any
    * retained version. None when a file predates row logging; callers
    * fall back to a scan count (which the stock parquet aggregate
    * pushdown already answers from footers). */
  def countRows(spark: SparkSession, dir: String,
                version: Option[Int] = None): Option[Long] = {
    val dfs = resolve(spark, dir, version).dataFiles
    if (dfs.forall(_.stats.rows >= 0)) Some(dfs.map(_.stats.rows).sum)
    else None
  }

  /** `DESCRIBE HISTORY` — the operator's view of the log as a frame:
    * one row per retained version with its op, file count, total
    * bytes, row count (−1 when the version predates row logging), and
    * commit-file modification time (the only timestamp the log keeps;
    * ordering truth is the VERSION, the mtime is operational
    * context). Driver-sized like the log itself. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    val rows = versions(spark, dir).map { s =>
      val dfs = s.dataFiles
      val bytes = dfs.map { f =>
        if (f.size >= 0) f.size
        else try fs.getFileStatus(new Path(root, f.name)).getLen
        catch { case _: java.io.FileNotFoundException => 0L }
      }.sum
      val nRows =
        if (dfs.forall(_.stats.rows >= 0)) dfs.map(_.stats.rows).sum else -1L
      val mtime = fs.getFileStatus(
        new Path(log, f"v${s.version}%05d.json")).getModificationTime
      (s.version, s.op, s.files.size, bytes, nRows,
        new java.sql.Timestamp(mtime))
    }
    import spark.implicits._
    rows.toDF("version", "op", "n_files", "bytes", "n_rows", "committed_at")
  }

  /** [[vacuum]] DRY RUN: the data files and log entries a vacuum with
    * this retention WOULD delete, as a frame — the look-before-you-leap
    * step for the one operation that gives up history. Pure metadata
    * (no file touched). */
  def vacuumPreview(spark: SparkSession, dir: String,
                    keepVersions: Int = 1): DataFrame = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val all = versions(spark, dir)
    val live = all.takeRight(keepVersions).flatMap(_.files).toSet
    val expired = all.dropRight(keepVersions)
    // each doomed data file once, attributed to its first reference
    val firstRef = expired.flatMap(s => s.files.map(_ -> s.version))
      .groupMapReduce(_._1)(_._2)(math.min)
    val horizon = all.takeRight(keepVersions).headOption.map(_.version)
    val (fs, root) = fsOf(spark, dir)
    val doomedCkpts = listLog(fs, new Path(root, LogDir)).ckpts
      .filter(v => horizon.exists(v < _)).toSeq.sorted
    val rows = firstRef.collect {
        case (f, v) if !live(f) => (v, "data", f)
      }.toSeq.sorted ++
      expired.map(s => (s.version, "log", f"v${s.version}%05d.json")) ++
      doomedCkpts.map(v => (v, "log", f"v$v%05d.ckpt.json"))
    import spark.implicits._
    rows.toDF("version", "kind", "file")
  }

  /** Delete data files referenced by NO retained version, then drop the
    * expired log entries; also sweeps stranded `_staging_*` dirs. Keeps
    * the newest `keepVersions` snapshots (≥ 1). Time travel reaches
    * only retained versions afterwards — vacuum is the explicit point
    * where history is given up for space, and post-vacuum reads/cursors
    * behind the horizon fail at plan time naming the retained range. */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 1,
             strandedStagingMs: Long = 24L * 3600 * 1000): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val all = versions(spark, dir)
    if (all.isEmpty) return
    val (fs, root) = fsOf(spark, dir)
    val log = new Path(root, LogDir)
    val keep = all.takeRight(keepVersions)
    val live = keep.flatMap(_.files).toSet
    // the oldest retained version must reconstruct WITHOUT the entries
    // about to be dropped: if its entry is a delta and no checkpoint
    // sits at its version yet, publish its full state first (we hold
    // it — the fold above computed every retained state). Only then is
    // deleting the older entries safe.
    if (all.size > keepVersions) {
      val oldest = keep.head
      val listing = listLog(fs, log)
      val needsBase = !listing.ckpts.contains(oldest.version) &&
        (readRaw(fs, entryPath(log, oldest.version)) match {
          case _: DeltaEntry => true
          case _: FullEntry => false
        })
      if (needsBase) writeCheckpoint(spark, fs, log, oldest)
      require(listLog(fs, log).ckpts.contains(oldest.version) || !needsBase,
        s"vacuum: could not publish the horizon checkpoint at " +
          s"v${oldest.version} under $log — aborting before any entry " +
          "is dropped (nothing deleted)")
      // checkpoints below the horizon serve no retained version
      listing.ckpts.filter(_ < oldest.version)
        .foreach(v => fs.delete(ckptPath(log, v), false))
    }
    all.dropRight(keepVersions).foreach { s =>
      s.files.filterNot(live).foreach(f =>
        fs.delete(new Path(root, f), false))
      fs.delete(entryPath(log, s.version), false)
    }
    // sweep only staging dirs OLD enough to be crash debris — a
    // concurrent writer's seconds-old staging dir must not be yanked
    // out from under its landing renames (the age guard is the same
    // device every table format's orphan-file cleanup uses)
    val cutoff = System.currentTimeMillis() - strandedStagingMs
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_staging_") &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    // ORPHAN data files: landed by land() but never committed — every
    // rewrite that loses its optimistic race (deleteWhere/upsert/
    // compact throw ConcurrentModificationException AFTER landing
    // their output) and every crash between land and commit leaves
    // uuid-landed files referenced by NO log entry. Swept here under
    // the same age guard (a concurrent writer's seconds-old landed
    // files are mid-commit, not debris). Matches are restricted to
    // land()'s own `tag-NNNNN.parquet` name shape, so adopted
    // (importDir) files with foreign names are never touched.
    val landedName = "[0-9a-f]{8}-\\d{5}\\.parquet".r
    fs.listStatus(root).toSeq
      .filter { st =>
        val n = st.getPath.getName
        !st.isDirectory && landedName.pattern.matcher(n).matches() &&
          !live(n) && st.getModificationTime < cutoff
      }
      .foreach(st => fs.delete(st.getPath, false))
    // same guard for commit temp entries: a committer killed between
    // writing `.tmp-*` and publishing strands an unparsed file in the
    // log dir (losers of live races delete their own temp; only a
    // crash leaves one) — age-swept here so the log dir stays a clean
    // inventory of versions
    fs.listStatus(new Path(root, LogDir)).toSeq
      .filter(st => !st.isDirectory &&
        st.getPath.getName.startsWith(".tmp-") &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false))
  }
}
