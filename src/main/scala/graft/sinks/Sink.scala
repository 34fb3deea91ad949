package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** K1–K4 — the sink half of the dump pipeline (SURVEY.md §2.1).
  *
  *   - K1 size-bounded rotation (reference dump-es-parquet:284-295,307-308):
  *     `maxRecordsPerFile` makes every task writer rotate files at the row
  *     cap; Spark streams rows to files, so peak memory is a write buffer,
  *     not a partition — strictly better than the reference's
  *     accumulate-then-flush at 100 TB. A byte target becomes that row cap
  *     through [[rowsForTargetBytes]], called once per table by
  *     `DumpJob.run` (the only place a byte cap is resolved).
  *   - K2 multi-format (parquet/ndjson/csv, reference :312-323) plus `text`
  *     for the K3 raw passthrough.
  *   - K3 raw JSON passthrough (reference :244-254,273-281): [[serialize]]
  *     turns a `text`-format frame into one `toJSON` line per row, schema
  *     free; survives inconsistent types by never building a typed frame
  *     (README.md:56-58). `write` and `StreamDump` both serialize through
  *     it, so the byte probe measures the lines the sink writes.
  *   - K4 compression codecs gzip/zstd/none (reference :325-336) via writer
  *     options; parquet compression is pinned zstd at the session level.
  *
  * File naming: the reference emits `{table}-{NNNN}.{ext}` with the number
  * omitted for single-file output (:312-316). Spark's committer writes
  * `part-*` names; `write` renames the committed files to the reference
  * pattern afterwards (SURVEY §7.3: rename pass, don't fight the
  * committer).
  *
  * Commit path, for a local `dir`: Spark's file committer makes the job
  * and task attempt directories under `dir/_temporary`, each task writes
  * its rotated files there with a `.crc` sidecar, job commit moves them up
  * and writes `_SUCCESS`, and `rename` gives them their final names. All
  * of it goes through the session's `file:` filesystem, [[LocalFs]]: the
  * same files, modes and sidecars as Hadoop's local filesystem, without a
  * forked `chmod` per file and directory, and a `rename` that refuses an
  * existing destination file, so no renamed file overwrites another.
  */
object Sink {

  case class Config(
      format: String = "parquet",        // parquet | json | csv | text
      compression: Option[String] = None, // gzip | zstd | none
      maxRecordsPerFile: Long = 1000000,  // reference --max-partition-rows
      partitionBy: Seq[String] = Nil)     // hive-style layout (reference TODO :378)

  private def extension(c: Config): String = {
    val base = c.format match {
      case "json" => "ndjson" // reference's ndjson naming (README.md:16)
      case "text" => "jsonl"
      case f      => f
    }
    c.compression match {
      case Some("gzip") => s"$base.gz"
      case Some("zstd") => s"$base.zstd" // reference ext at :206-212
      case _            => base
    }
  }

  /** K1 size-based rotation: translate a bytes-per-file target into a
    * row cap by measuring the actual on-disk bytes/row of a sample
    * written in the target format+compression. Unlike the reference's
    * in-memory estimate (which it admits overshoots because "the file
    * size will be smaller due to compression", :393-395), this measures
    * the compressed artifact itself. Driver-side cost: one small sample
    * write, bounded by `sampleRows`. */
  def rowsForTargetBytes(df: DataFrame, targetBytes: Long, config: Config,
                         sampleRows: Int = 2000): Long = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_size_probe").toString
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    // cache: the sample feeds a write AND a count — without it the probe
    // scans the source twice (two extra scrolls against a live cluster)
    val sample = df.limit(sampleRows).cache()
    try {
      val cfg = config.copy(maxRecordsPerFile = Long.MaxValue, partitionBy = Nil)
      val files = write(sample.coalesce(1), tmp, "probe", cfg)
      val bytes = files.map(f => {
        val p = new Path(f); p.getFileSystem(hconf).getFileStatus(p).getLen
      }).sum
      val n = sample.count()
      if (n == 0 || bytes == 0) Long.MaxValue
      else math.max(1L, targetBytes / math.max(1L, bytes / n))
    } finally {
      sample.unpersist()
      // the scheme-less probe path resolves against the DEFAULT filesystem
      // (HDFS/object store on a cluster) — clean up through the same
      // resolution, not java.io.File, or the probe data leaks remotely
      val p = new Path(tmp)
      try p.getFileSystem(hconf).delete(p, true)
      catch { case _: Exception => () }
    }
  }

  /** Write `df` under `dir` as `{table}-{NNNN}.{ext}` files; returns the
    * final file paths. With `partitionBy`, writes a hive-style layout
    * instead (directory per key value; committer names kept — the
    * partition path carries the identity).
    *
    * Zero-record tables produce one empty `{table}.{ext}` file — a
    * deliberate deviation from the reference's write-nothing early exit
    * (dump-es-parquet:236-238): an empty file still carries the schema,
    * which downstream union_by_name reads need; no file loses it. */
  def write(df: DataFrame, dir: String, table: String, config: Config = Config()): Seq[String] = {
    val w = serialize(df, config).write.mode("overwrite").options(options(config))
    if (config.partitionBy.nonEmpty) {
      w.partitionBy(config.partitionBy: _*).format(config.format).save(dir)
      listDataFiles(df, dir)
    } else {
      w.format(config.format).save(dir)
      rename(df, dir, table, config)
    }
  }

  private def listDataFiles(df: DataFrame, dir: String): Seq[String] = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    // listStatus, not listFiles: listFiles copies each status into a
    // LocatedFileStatus, whose permission Hadoop's local filesystem
    // loads by forking `ls -ld` when libhadoop is absent
    def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory) walk(s.getPath)
      else if (!n.startsWith("_") && !n.startsWith(".")) Seq(s.getPath.toString)
      else Nil
    }
    walk(root).sorted
  }

  /** Writer options (K1 row cap, K4 codec, csv header), the same for a
    * batch write and `StreamDump`'s file stream. */
  private[graft] def options(c: Config): Map[String, String] =
    Map("maxRecordsPerFile" -> c.maxRecordsPerFile.toString) ++
      c.compression.map("compression" -> _) ++
      (if (c.format == "csv") Some("header" -> "true") else None)

  /** K3 — the frame the writer receives: for `text`, each row serialized
    * as one JSON line (jsonl) with no schema or coercion; else `df`. */
  private[graft] def serialize(df: DataFrame, config: Config): DataFrame =
    if (config.format == "text") df.toJSON.toDF("value") else df

  /** Rename committer output `part-*` to `{table}-{NNNN}.{ext}`; single
    * file drops the number (reference :312-316). */
  private def rename(df: DataFrame, dir: String, table: String, config: Config): Seq[String] = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(hconf)
    val parts = fs.listStatus(path).map(_.getPath)
      .filter(p => p.getName.startsWith("part-"))
      .sortBy(_.getName)
    val ext = extension(config)
    parts.zipWithIndex.map { case (p, i) =>
      val name =
        if (parts.length == 1) s"$table.$ext"
        else f"$table-$i%04d.$ext"
      val dest = new Path(path, name)
      // rename signals failure by returning false — a silent false would
      // report files that do not exist
      require(fs.rename(p, dest), s"rename $p -> $dest failed")
      dest.toString
    }.toSeq
  }
}
