package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-dimensional data LAYOUT for file skipping — the write-side
  * optimization that makes selective scans cheap at 100 TB: parquet
  * footers carry per-file (and per-row-group) min/max statistics, and a
  * reader prunes every file whose range excludes the predicate. Sorting
  * by one column makes ITS ranges tight and every other column's ranges
  * full-width; interleaving the bits of two columns into a Z-order
  * (Morton) key and range-partition-sorting by it makes BOTH columns'
  * per-file ranges narrow — point/range predicates on either column (or
  * both) skip most files. The standard lakehouse `OPTIMIZE ZORDER BY`
  * shape, expressed as plain Spark: one range shuffle on the z-key,
  * sort within partitions, write.
  *
  * The z-value is pure bit arithmetic (codegen'd comparisons-free
  * Column expression), so it is deterministic across engines and
  * oracle-checkable. */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative
    * integral columns: x occupies even bit positions, y odd. `bits` ≤
    * 31 keeps the result in a positive long. Values wider than `bits`
    * contribute only their low bits (callers bucket or clamp first when
    * the domain is wider). */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column =
    zValue(Seq(x, y), bits)

  /** N-column Morton interleave: column j owns bit positions
    * j, j+n, j+2n, … — the layout key for up to `n · bits ≤ 63`-bit
    * keys (3 columns × 16 bits, 4 × 15, …). Same contract as
    * [[zValue2]]. */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    val n = cols.length
    require(n >= 1, "need at least one column")
    require(bits >= 1 && n * bits <= 63,
      s"n*bits must fit a positive long: $n x $bits")
    val terms = cols.zipWithIndex.flatMap { case (c, j) =>
      val cl = c.cast("long")
      (0 until bits).map(i =>
        shiftleft(shiftrightunsigned(cl, i).bitwiseAND(lit(1L)), n * i + j))
    }
    terms.reduce(_ + _) // disjoint bits: addition == OR
  }

  /** Quantize a column to `bits` bits over its observed [lo, hi] domain
    * — interleaving RAW values makes z-order degenerate to a sort on
    * whichever column has more significant bits (a 7-bit key drowns
    * under an 11-bit one), so both dims map onto the same grid first;
    * this is what `range_partition_id`-based OPTIMIZE ZORDER
    * implementations do with range buckets. Double arithmetic so wide
    * long domains cannot overflow; layout keys need determinism, not
    * oracle-grade exactness. */
  private def quantize(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val buckets = 1L << bits
    val span = (hi - lo + 1).toDouble
    least(lit(buckets - 1),
      floor((c.cast("double") - lo.toDouble) / span * buckets.toDouble)
        .cast("long"))
  }

  /** Rewrite `df` into `numFiles` z-ordered files on (`xCol`, `yCol`):
    * quantize both columns to a common `bits`-bit grid (one min/max agg
    * for the domains), range-partition by the interleaved z-value (one
    * shuffle), sort within partitions, drop the key, write parquet.
    * Per-file min/max of BOTH columns come out narrow — the skipping
    * contract LayoutSpec pins. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
                  numFiles: Int, bits: Int = 16): Unit =
    zorderFrame(df, xCol, yCol, numFiles, bits)
      .write.mode("overwrite").parquet(path)

  /** The layout transform behind [[zorderWrite]], exposed so other
    * sinks (e.g. [[Snapshots.optimizeZorder]]) can land the same frame
    * through their own commit protocol: quantize both columns to a
    * common grid (one min/max agg), range-partition by the interleaved
    * z-value (one shuffle), sort within partitions, drop the key. Each
    * output partition becomes one narrow-range file wherever it is
    * written. */
  def zorderFrame(df: DataFrame, xCol: String, yCol: String,
                  numFiles: Int, bits: Int = 16): DataFrame =
    zorderFrameN(df, Seq(xCol, yCol), numFiles, bits)

  /** N-column form of [[zorderFrame]] (n · bits ≤ 63 — 2×16, 3×16,
    * 4×15…): one min/max agg for all domains, one range shuffle on the
    * interleaved key. More columns buy skipping on more predicates at
    * the price of wider per-file ranges per column — 2-3 z columns is
    * the practical lakehouse guidance, and the math caps at what a
    * positive long holds. */
  def zorderFrameN(df: DataFrame, cols: Seq[String],
                   numFiles: Int, bits: Int = 16): DataFrame = {
    require(numFiles >= 1, s"numFiles must be positive: $numFiles")
    require(cols.size >= 2, s"z-order needs >= 2 columns: $cols")
    cols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[NumericType],
        s"z-order bit interleaving needs NUMERIC columns, '$c' is " +
          s"${df.schema(c).dataType.catalogString} — for a single key of " +
          "any ordered type (strings included) use one-column range " +
          "clustering (Snapshots.optimizeZorderN(Seq(key)))")
    }
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val quantized = cols.zipWithIndex.map { case (c, i) =>
      quantize(col(c), row.getLong(2 * i), row.getLong(2 * i + 1), bits)
    }
    df.withColumn("__z", zValue(quantized, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  // ---------------------------------------------------------------------
  // Table maintenance: footer-stats manifest, file skipping, compaction
  // ---------------------------------------------------------------------

  /** Long-form manifest schema: one row per (data file, leaf column).
    * Numeric columns carry `min_num`/`max_num` (double-widened — int32/
    * int64/float/double/date/timestamp), UTF-8 binary columns carry
    * `min_str`/`max_str`; a column whose footer statistics are absent or
    * untranslatable (boolean, int96, fixed, decimal) keeps NULL bounds,
    * which [[pruneFiles]] reads as "cannot exclude this file"; `bytes`
    * is the column's compressed on-disk size (the storage-audit cell). */
  val ManifestSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("min_num", DoubleType, nullable = true),
    StructField("max_num", DoubleType, nullable = true),
    StructField("min_str", StringType, nullable = true),
    StructField("max_str", StringType, nullable = true),
    StructField("null_count", LongType, nullable = true),
    StructField("bytes", LongType, nullable = false)))

  /** List the DATA files under `dir` (recursing through hive partition
    * subdirectories), skipping `_`/`.`-prefixed names the way Spark's
    * own file index does. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Seq(st)
    }

  /** Per-file min/max/null-count statistics for `columns` (all leaf
    * columns when empty), read from parquet FOOTERS only — the
    * Iceberg/Delta metadata-table shape without the table format: no
    * data page is ever decompressed, so manifest cost is one footer
    * round-trip per file regardless of file size. The footer reads are
    * DISTRIBUTED (one task per slice of the file list): at 100 TB a
    * table is ~10^5-10^6 files and a driver-side loop would serialize
    * 10^5 object-store round-trips; file NAMES stay driver-sized (the
    * same contract as Spark's own `InMemoryFileIndex`).
    *
    * Caveat (parquet spec): double/float min/max are unreliable in the
    * presence of NaN — parquet-mr drops stats for such pages — so NaN
    * columns simply come back unprunable (NULL bounds), never wrongly
    * pruned. */
  def statsManifest(spark: SparkSession, path: String,
                    columns: Seq[String] = Nil): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    statsManifestFiles(spark,
      dataFiles(root.getFileSystem(hconf), root).map(_.getPath.toString).sorted,
      columns)
  }

  /** [[statsManifest]] over an EXPLICIT file list — the seam for
    * snapshot-scoped manifests ([[Snapshots.manifest]]): an Iceberg
    * scan reads the manifest OF A SNAPSHOT, not of whatever the
    * directory currently holds. */
  def statsManifestFiles(spark: SparkSession, files: Seq[String],
                         columns: Seq[String] = Nil): DataFrame = {
    val sc = spark.sparkContext
    val hconf = spark.sessionState.newHadoopConf()
    // Configuration is not serializable: ship the entries, rebuild per
    // task (fs.* / auth settings ride along to object stores).
    val confEntries = {
      val it = hconf.iterator(); val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val bc = sc.broadcast(confEntries)
    val wanted = columns.toSet
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism))
    val rows = sc.parallelize(files, slices).flatMap { f =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      bc.value.foreach { case (k, v) => conf.set(k, v) }
      readFooterStats(f, conf, wanted)
    }
    spark.createDataFrame(rows, ManifestSchema)
  }

  /** Footer → manifest rows for one file. Statistics across row groups
    * fold with min-of-mins/max-of-maxs; ANY row group without valid
    * stats for a column nulls that column's bounds (a partial bound
    * would prune wrongly). `private[sinks]` so [[Snapshots]]' land-time
    * stats can read a HANDFUL of fresh footers on the driver without a
    * Spark job (the distributed path stays the rule for real manifests). */
  private[sinks] def readFooterStats(file: String,
                              conf: org.apache.hadoop.conf.Configuration,
                              wanted: Set[String]): Seq[Row] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
        .filter { case (name, _) => wanted.isEmpty || wanted(name) }
      byCol.toSeq.sortBy(_._1).map { case (name, chunks) =>
        val prim = chunks.head.getPrimitiveType
        val logical = prim.getLogicalTypeAnnotation
        val isDecimal =
          logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
        val isString =
          logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        val stats = chunks.map(_.getStatistics)
        val allValid = stats.forall(s =>
          s != null && !s.isEmpty && s.hasNonNullValue)
        def nums: Option[(Double, Double)] =
          if (!allValid || isDecimal) None
          else prim.getPrimitiveTypeName match {
            case INT32 => Some(
              stats.map(_.genericGetMin.asInstanceOf[Integer].doubleValue).min ->
              stats.map(_.genericGetMax.asInstanceOf[Integer].doubleValue).max)
            case INT64 => Some(
              stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].doubleValue).min ->
              stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].doubleValue).max)
            case FLOAT => Some(
              stats.map(_.genericGetMin.asInstanceOf[java.lang.Float].doubleValue).min ->
              stats.map(_.genericGetMax.asInstanceOf[java.lang.Float].doubleValue).max)
            case DOUBLE => Some(
              stats.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue).min ->
              stats.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue).max)
            case _ => None
          }
        def strs: Option[(String, String)] =
          if (!allValid || !isString) None
          else Some(
            stats.map(_.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8).min ->
            stats.map(_.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8).max)
        val nulls: Option[Long] =
          if (stats.forall(s => s != null && s.isNumNullsSet))
            Some(stats.map(_.getNumNulls).sum)
          else None
        Row(file, nRows, name,
          nums.map(p => java.lang.Double.valueOf(p._1)).orNull,
          nums.map(p => java.lang.Double.valueOf(p._2)).orNull,
          strs.map(_._1).orNull, strs.map(_._2).orNull,
          nulls.map(java.lang.Long.valueOf).orNull,
          // compressed on-disk bytes of this column's chunks — the
          // storage-audit cell ("which column eats the table")
          chunks.map(_.getTotalSize).sum)
      }
    } finally reader.close()
  }

  /** Files that MAY contain rows with `column` in [lo, hi]: a file is
    * excluded only when its bounds provably miss the range
    * (`max < lo || min > hi`); missing bounds keep the file. The result
    * is driver-sized (file names, like any file index) and sorted for
    * determinism. Correctness does not depend on the stats — callers
    * re-apply the predicate on the scan (as q233 does), so pruning can
    * only SAVE work, never change an answer. */
  def pruneFiles(manifest: DataFrame, column: String,
                 lo: Double, hi: Double): Seq[String] = {
    val all = manifest.select(col("file")).distinct()
    val excluded = manifest
      .where(col("column") === column &&
        col("min_num").isNotNull && col("max_num").isNotNull &&
        (col("max_num") < lit(lo) || col("min_num") > lit(hi)))
      .select(col("file")).distinct()
    all.join(excluded, Seq("file"), "left_anti")
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** [[pruneFiles]] for a STRING column — the doc-id/UUID/URL key
    * shape: a file is excluded only when its UTF-8-ordered footer
    * bounds provably miss `[lo, hi]`. Parquet string min/max are
    * unsigned-byte-ordered (UTF-8 binary); JVM `String` comparison is
    * UTF-16-code-unit-ordered — the two agree on every BMP code point
    * and disagree only past it, so bounds CONTAINING SURROGATES are
    * treated as absent (file kept), never compared wrongly, and a
    * query bound containing one keeps every file. Same superset
    * guarantee as the numeric form: callers re-apply the predicate. */
  def pruneFilesStr(manifest: DataFrame, column: String,
                    lo: String, hi: String): Seq[String] = {
    val all = manifest.select(col("file")).distinct()
      .collect().map(_.getString(0))
    // surrogate detection is CHAR-WISE on the driver (the strStat
    // discipline): Spark regexes match code POINTS, so a character-
    // class range over the surrogate block never matches a properly
    // paired surrogate — a supplementary-plane bound would sail past an
    // rlike guard and be compared in the wrong order regime. The bound
    // rows are driver-sized metadata (one per file), same as the final
    // file list.
    def bmp(s: String) = !s.exists(Character.isSurrogate)
    val excluded =
      if (!bmp(lo) || !bmp(hi)) Set.empty[String]
      else manifest
        .where(col("column") === column &&
          col("min_str").isNotNull && col("max_str").isNotNull)
        .select(col("file"), col("min_str"), col("max_str"))
        .collect()
        .filter(r => bmp(r.getString(1)) && bmp(r.getString(2)) &&
          (r.getString(2) < lo || r.getString(1) > hi))
        .map(_.getString(0)).toSet
    all.filterNot(excluded).toSeq.sorted
  }

  /** Scan only the files [[pruneFiles]] keeps. The caller applies the
    * real predicate on top (file skipping is a superset guarantee, not
    * a filter); an all-pruned table returns the empty scan with the
    * table's own schema.
    *
    * `schema`: when the caller already KNOWS the table schema (a
    * snapshot entry, a catalog) the pruned scan plans with it directly
    * — zero footer reads at plan time. Only the schemaless call pays
    * the distributed `mergeSchema` footer union, which is what keeps a
    * schema-WIDENED directory honest there: a sampled-file schema
    * would silently drop late-added columns from the pruned scan only
    * (the log-backed Snapshots.prunedRead passes its entry's schema). */
  def prunedRead(spark: SparkSession, path: String, manifest: DataFrame,
                 column: String, lo: Double, hi: Double,
                 schema: Option[StructType] = None): DataFrame = {
    val files = pruneFiles(manifest, column, lo, hi)
    def reader = schema match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read.option("mergeSchema", "true")
    }
    if (files.isEmpty) reader.parquet(path).where(lit(false))
    else reader.parquet(files: _*)
  }

  /** Storage audit from the footer manifest — "which column eats the
    * table": per-column compressed bytes, share of the table, bytes per
    * row, null fraction. Pure manifest algebra (one footer pass, zero
    * data); sizes are codec/engine-specific so this is an operational
    * report, not an oracle surface. At 100 TB this is the first question
    * of every storage review — a body/embedding column at 90% of the
    * bytes is what decides "split that column into its own table". */
  def storageReport(spark: SparkSession, path: String): DataFrame = {
    val mf = statsManifest(spark, path)
    val perCol = mf.groupBy(col("column"))
      .agg(sum(col("bytes")).as("bytes"), sum(col("rows")).as("rows"),
        sum(col("null_count")).as("nulls"))
    val total = perCol.agg(sum(col("bytes")).as("__t"))
    perCol.crossJoin(broadcast(total)) // one-row frame
      .select(col("column"), col("bytes"),
        (col("bytes").cast("double") / col("__t")).as("share"),
        (col("bytes").cast("double") / col("rows")).as("bytes_per_row"),
        (col("nulls").cast("double") / col("rows")).as("null_frac"))
      .orderBy(col("bytes").desc, col("column").asc)
  }

  final case class CompactStats(dir: String, filesBefore: Long,
                                bytesBefore: Long, filesAfter: Long)

  /** Bin-pack compaction — the lakehouse `OPTIMIZE` half without the
    * z-order: rewrite every leaf directory whose file count exceeds
    * ⌈bytes/targetBytes⌉ into that many right-sized files. The small-
    * files problem is THE operational failure mode of long-running
    * ingestion at 100 TB (10^6 streaming micro-batch files turn every
    * scan into a listing + open storm); compaction here is
    * `coalesce(n)` — a narrow, shuffle-free merge of existing
    * partitions — plus an optional `sortWithinPartitions` to restore a
    * clustering column, never a global sort.
    *
    * Hive-partitioned layouts compact leaf-by-leaf (files never cross a
    * partition boundary, so partition values stay encoded in dir names).
    *
    * Landing discipline: new files are written to a `_`-prefixed temp
    * dir (invisible to readers), renamed in, and only then are the old
    * files deleted — a concurrent reader during the swap window can see
    * duplicate rows but never lost ones. True snapshot isolation needs
    * a table format's commit log (Iceberg/Delta) and is out of scope;
    * the trade is documented rather than hidden. */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
              sortCol: Option[String] = None): Seq[CompactStats] = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    def leaves(dir: Path): Seq[Path] = {
      val st = fs.listStatus(dir).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
      val dirs = st.filter(_.isDirectory)
      val here = if (st.exists(!_.isDirectory)) Seq(dir) else Nil
      here ++ dirs.flatMap(d => leaves(d.getPath))
    }
    leaves(root).map { leaf =>
      val files = fs.listStatus(leaf).toSeq.filter(s => !s.isDirectory &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      val bytes = files.map(_.getLen).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.size <= n)
        CompactStats(leaf.toString, files.size, bytes, files.size)
      else {
        val df = spark.read.parquet(leaf.toString)
        val packed = df.coalesce(n)
        val sorted = sortCol.fold(packed)(c => packed.sortWithinPartitions(col(c)))
        val tmp = new Path(leaf, "_graft_compact_tmp")
        sorted.write.mode("overwrite").parquet(tmp.toString)
        val fresh = fs.listStatus(tmp).toSeq.filter(s => !s.isDirectory &&
          !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        val tag = java.util.UUID.randomUUID().toString.take(8)
        fresh.sortBy(_.getPath.getName).zipWithIndex.foreach { case (s, i) =>
          val dest = new Path(leaf, f"compacted-$tag-$i%05d.parquet")
          require(fs.rename(s.getPath, dest), s"rename failed: ${s.getPath}")
        }
        files.foreach(s => fs.delete(s.getPath, false))
        fs.delete(tmp, true)
        CompactStats(leaf.toString, files.size, bytes, fresh.size)
      }
    }
  }
}
