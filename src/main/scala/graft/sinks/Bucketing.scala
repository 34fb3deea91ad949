package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions.col

/** Bucketed table layout for co-located joins (SURVEY.md §7.0 scale
  * posture).
  *
  * A fact-to-fact join (e.g. lineitem ⋈ orders on orderkey) shuffles BOTH
  * sides on every query. Writing each table bucketed by the join key
  * moves that shuffle to write time, once: both sides land hash-
  * partitioned into the same number of buckets, and every subsequent join
  * on the bucket key is exchange-free (sort-merge over matching buckets).
  * At 100 TB this converts the dominant recurring network cost of the
  * star-schema workload into a one-time layout decision — the same
  * reasoning behind the session's 64 MB broadcast threshold for dims,
  * applied to the fact tables that can never broadcast.
  *
  * Buckets also bound file sizes (work with `maxRecordsPerFile`) and give
  * bucket pruning on equality filters over the bucket key.
  *
  * The persisted stores behind the incremental operators commit only
  * through this object: [[spec]] (the recovering lookup every store entry
  * point starts with), [[append]] (rows the caller anti-joined against
  * the store, pre-partitioned on the table's own bucket spec), [[stamp]] /
  * [[stamped]] (the `graft.*` property a store checks its callers
  * against; each store keeps its own value format), and the staged
  * rewrites, which carry `graft.*` properties and write new `stamps` onto
  * the staging copy, so new contents never appear under an old stamp. A
  * crash inside a swap's drop/rename window leaves only the staging copy;
  * the next [[spec]], [[stamp]] or [[stamped]] finishes the rename.
  */
object Bucketing {

  /** The bucket spec of store `table`, after completing an interrupted
    * staged swap ([[completePendingSwap]]); fails on an unbucketed table. */
  def spec(spark: SparkSession, table: String): BucketSpec = {
    completePendingSwap(spark, table)
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"'$table' is not a bucketed store table"))
  }

  /** Appends `rows` to store `table`, pre-partitioned on the table's own
    * bucket columns and count: repartition and bucketBy share one
    * murmur3-pmod assignment, so each task writes one file per bucket.
    * `rows` is what the caller's anti-join against the store admitted;
    * call [[spec]] first when building it reads the table. */
  def append(rows: DataFrame, table: String): Unit = {
    val s = spec(rows.sparkSession, table)
    rows.repartition(s.numBuckets, s.bucketColumnNames.map(col): _*)
      .write.mode("append").insertInto(table)
  }

  /** Sets the `graft.*` property `key` of `table` to `value`, after
    * completing an interrupted staged swap. */
  def stamp(spark: SparkSession, table: String, key: String,
            value: String): Unit = {
    completePendingSwap(spark, table)
    setProps(spark, table, Map(key -> value))
  }

  /** The `graft.*` property `key` of `table`, if stamped, after
    * completing an interrupted staged swap. */
  def stamped(spark: SparkSession, table: String, key: String): Option[String] = {
    completePendingSwap(spark, table)
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .properties.get(key)
  }

  /** Persist `df` as a bucketed+sorted managed table. `buckets` should be
    * sized so one bucket of the LARGEST co-bucketed table fits an
    * executor's task comfortably (at cluster scale: thousands). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    // Pre-shuffle on the bucket key into exactly `buckets` partitions:
    // repartition and bucketBy share the same murmur3-pmod assignment, so
    // each task then writes exactly ONE bucket file. Without this every
    // input task emits a file per bucket it happens to see — tasks×buckets
    // small files at cluster scale — and the scan side loses the
    // one-file-per-bucket precondition for sorted bucket reads.
    // A managed-table location can outlive the in-memory catalog (the
    // warehouse dir persists across JVMs); saveAsTable refuses to write
    // over a location the catalog doesn't own, so clear orphans first.
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) fs.delete(wh, true)
    }
    val keyed = df.repartition(buckets, bucketCols.map(col): _*)
    val w = keyed.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.isEmpty) w.sortBy(bucketCols.head, bucketCols.tail: _*)
      else w.sortBy(sortCols.head, sortCols.tail: _*)
    sorted.format("parquet").saveAsTable(table)
  }

  /** Rewrites a bucketed store table back to ONE file per bucket,
    * preserving its bucket spec, sort spec, and table properties — the
    * lifecycle step the grow-forever key stores (fingerprint /
    * signature / span / semantic) need: every ingest COMMIT appends one
    * file per bucket, so a year of daily ingests leaves ~365 files per
    * bucket and probe-side open cost grows linearly with rounds. This
    * is the store-side twin of the sink's size-bounded rotation.
    *
    * The rewrite never shuffles: the source is read as a FORCED
    * bucketed scan (auto-bucketed-scan off for this plan — left on, the
    * planner first elides the matching repartition and then un-buckets
    * the "unneeded" scan, leaving the write input unpartitioned and one
    * file per task×bucket), so each of the `numBuckets` tasks reads
    * exactly its own bucket's append-files and writes them back as one
    * file. Probe plans are unchanged — the compacted table still joins
    * exchange-free (spec-pinned alongside the file-count collapse).
    *
    * Not atomic, never lossy: the compacted copy is fully written to a
    * `<table>__compacting` staging table before the original is
    * dropped and the staging table renamed into place. A crash in the
    * tiny drop/rename window leaves both (or only the staging) table —
    * rerun [[compactBucketed]] to converge (a complete staging table
    * with no original is finished by rename; a fresh run starts by
    * dropping the stale staging copy). */
  def compactBucketed(spark: SparkSession, table: String): Unit = {
    val staging = table + "__compacting"
    if (finishSwap(spark, table, staging)) return
    val s = spec(spark, table)
    val bucketCols = s.bucketColumnNames
    val sortCols =
      if (s.sortColumnNames.nonEmpty) s.sortColumnNames else bucketCols
    spark.sql(s"DROP TABLE IF EXISTS `$staging`")
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoScanOld = spark.conf.get(autoScanKey)
    try {
      spark.conf.set(autoScanKey, "false")
      spark.table(table).write.mode(SaveMode.Overwrite)
        .bucketBy(s.numBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .format("parquet").saveAsTable(staging)
    } finally spark.conf.set(autoScanKey, autoScanOld)
    carryPropsAndSwap(spark, staging, table)
  }

  /** Rewrites a bucketed store table into `newNumBuckets` buckets — the
    * other lifecycle hole [[compactBucketed]] leaves open: a store's
    * bucket count is fixed at [[writeBucketed]] time, so a store that
    * grows 100× across ingest rounds ends up with buckets 100× the
    * task size they were laid out for (probe tasks spill; compaction
    * rewrites can't help because they keep the count). This is one full
    * shuffle-rewrite — the same murmur3-pmod repartition discipline as
    * [[writeBucketed]], so each of the `newNumBuckets` tasks writes
    * exactly one file — preserving the bucket columns, sort spec, and
    * `graft.*` table properties. Probe plans stay exchange-free at the
    * NEW count (the store side re-reads as a bucketed scan; the probe
    * batch shuffles to whatever count the store has, as always).
    *
    * Size it from [[bucketFileStats]]: when `max(bytes)` per bucket
    * outgrows the task budget, rebucket to
    * `ceil(total_bytes / target_bucket_bytes)`.
    *
    * Same staged+swap crash discipline as [[compactBucketed]], under
    * its own `<table>__rebucketing` staging name: a crash between drop
    * and rename is converged by re-running (complete staging + no
    * original → finished by rename; anything else → staging dropped
    * and rebuilt). A same-count request delegates to
    * [[compactBucketed]] (repartition to the current count would be
    * elided as already-satisfied, tripping the un-bucketed-scan trap
    * that function already defuses). */
  def rebucketStore(spark: SparkSession, table: String,
                    newNumBuckets: Int): Unit = {
    require(newNumBuckets >= 1,
      s"newNumBuckets must be positive: $newNumBuckets")
    val staging = table + "__rebucketing"
    if (finishSwap(spark, table, staging)) return
    val s = spec(spark, table)
    if (s.numBuckets == newNumBuckets) return compactBucketed(spark, table)
    val bucketCols = s.bucketColumnNames
    val sortCols =
      if (s.sortColumnNames.nonEmpty) s.sortColumnNames else bucketCols
    spark.sql(s"DROP TABLE IF EXISTS `$staging`")
    spark.table(table)
      .repartition(newNumBuckets, bucketCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(newNumBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .format("parquet").saveAsTable(staging)
    carryPropsAndSwap(spark, staging, table)
  }

  /** Staged + swapped full REWRITE of a bucketed store table with new
    * contents — the lifecycle step for stores whose EXISTING rows can
    * change on ingest (the k-NN graph's edges: a new neighbor can evict
    * an old node's k-th edge), where the append-only commit discipline
    * of the key stores does not apply. Same crash contract as
    * [[compactBucketed]]: the new contents are fully written to
    * `<table>__rewriting` before the drop/rename window, `graft.*`
    * properties carry over, and a rerun converges (a finished staging
    * copy with no original is completed by rename). `stamps` are
    * written onto the staging copy over the carried properties, so the
    * new contents appear with their new stamps in one swap (a remapped
    * semantic store never shows its new clustering under the old
    * centroid fingerprint). The contents frame may read FROM the table
    * being rewritten — it materializes into the staging table while the
    * original still exists. */
  def overwriteBucketedStaged(df: DataFrame, table: String,
                              bucketCols: Seq[String], buckets: Int,
                              sortCols: Seq[String] = Nil,
                              stamps: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    val staging = table + "__rewriting"
    if (finishSwap(spark, table, staging)) return
    spark.sql(s"DROP TABLE IF EXISTS `$staging`")
    writeBucketed(df, staging, bucketCols, buckets, sortCols)
    carryPropsAndSwap(spark, staging, table, stamps)
  }

  /** Crash-recovery entry for readers: when `table` is missing but a
    * finished staging copy from one of the staged rewrites exists,
    * complete the interrupted rename so the caller sees the committed
    * contents. Without this, a crash inside a rewrite's drop/rename
    * window makes every READ path throw NoSuchTableException until the
    * same rewrite happens to be re-run — the converging-retry branch in
    * [[overwriteBucketedStaged]] was unreachable from callers that read
    * table metadata first (e.g. the k-NN store's geometry stamp).
    * No-op when the table exists or no staging copy is present. */
  def completePendingSwap(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    if (catalog.tableExists(TableIdentifier(table))) return
    Seq("__rewriting", "__compacting", "__rebucketing")
      .map(table + _)
      .find(s => catalog.tableExists(TableIdentifier(s)))
      .foreach(s => spark.sql(s"ALTER TABLE `$s` RENAME TO `$table`"))
  }

  /** Shared head of the staged+swap rewrites: with `table` gone, a
    * finished `staging` copy is renamed into place (true). */
  private def finishSwap(spark: SparkSession, table: String,
                         staging: String): Boolean = {
    val catalog = spark.sessionState.catalog
    if (catalog.tableExists(TableIdentifier(table))) return false
    require(catalog.tableExists(TableIdentifier(staging)),
      s"neither '$table' nor its staging copy exists")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    true
  }

  /** Shared tail of the staged+swap rewrites: copy `graft.*` table
    * properties (e.g. the semantic store's centroid fingerprint) and
    * then `stamps` onto the staging table, then drop-and-rename it into
    * place. */
  private def carryPropsAndSwap(spark: SparkSession, staging: String,
                                table: String,
                                stamps: Map[String, String] = Map.empty): Unit = {
    val carried = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).properties
      .filter { case (k, _) => k.startsWith("graft.") }
    setProps(spark, staging, carried ++ stamps)
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
  }

  private def setProps(spark: SparkSession, table: String,
                       props: Map[String, String]): Unit = if (props.nonEmpty) {
    props.keys.foreach(k => require(k.startsWith("graft."),
      s"store stamps are graft.* properties (compaction carries only those): $k"))
    val kv = props
      .map { case (k, v) => s"'$k' = '${v.replace("'", "''")}'" }
      .mkString(", ")
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES ($kv)")
  }

  /** Per-bucket (bucket, files, bytes) of a bucketed managed table —
    * the observability half of store lifecycle: `files` climbing with
    * ingest rounds is the [[compactBucketed]] trigger. Driver-side
    * directory listing (metadata-scale: one entry per bucket file). */
  def bucketFileStats(spark: SparkSession, table: String): DataFrame = {
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bucket id is encoded in the file name: part-<task>-<uuid>_<bucket>.<ext>
    val bucketRe = "_(\\d{5})\\.".r
    val rows = fs.listStatus(loc).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .flatMap { s =>
        bucketRe.findFirstMatchIn(s.getPath.getName)
          .map(m => (m.group(1).toInt, 1L, s.getLen))
      }
      .groupBy(_._1).toSeq
      .map { case (b, fs0) => (b, fs0.map(_._2).sum, fs0.map(_._3).sum) }
    import spark.implicits._
    rows.toDF("bucket", "files", "bytes").orderBy(col("bucket"))
  }
}
