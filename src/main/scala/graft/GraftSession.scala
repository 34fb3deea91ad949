package graft

import org.apache.spark.sql.SparkSession

/** Session construction + the config pins every entry point shares.
  *
  * Scale posture: these values target local[32] testing but the shape is
  * what matters at cluster scale — AQE on (runtime re-plan, skew-join
  * splitting, partition coalescing), explicit shuffle parallelism, UTC,
  * and non-ANSI semantics the lenient coercions depend on.
  */
object GraftSession {

  /** Configs applied to every session — [[local]] and the benchmark's
    * session builder wrap their builders with this, so every entry point
    * gets the same pins. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    // Custom codegen'd expressions (VecDot, SimHash32, MinHashBands)
    // register through the documented extensions hook; the streaming
    // rule routes readStream.table over snapshot-catalog tables to the
    // graft-cdc source (foreign sessions: spark.sql.extensions=
    // graft.sql.GraftExtensions).
    .withExtensions(graft.functions.GraftFunctions.inject)
    .withExtensions(_.injectResolutionRule(
      new graft.sql.SnapshotStreamRule(_)))
    .withExtensions(_.injectResolutionRule(
      new graft.sql.SnapshotMappedReadRule(_)))
    .config("spark.sql.session.timeZone", "UTC")
    // Lenient coercions (graft.functions.Lenient) require null-on-failure
    // casts and element_at(empty)->null; Spark 4 defaults ANSI on.
    .config("spark.sql.ansi.enabled", "false")
    // Parquet TIMESTAMP(NANOS) (events.ts fixture) is otherwise illegal in
    // Spark; read it as raw nanos and let Tables.load convert to micros.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // isAdjustedToUTC=false parquet timestamps (the driver's pandas-written
    // fixtures) otherwise infer as TIMESTAMP_NTZ, which unix_millis/
    // window() and the NTZ-less DuckDB oracle comparisons reject; the
    // engine standardizes on UTC TIMESTAMP (SURVEY §7.3), so read them as
    // session-UTC instants — identical wall-clock values either way.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // AQE coalescing sizes partitions by BYTES, which under-parallelizes
    // CPU-dense kernel stages (text/vector math: MBs of data, seconds of
    // compute per MB) — measured: the q206 scoring stage collapsed to 1-8
    // partitions and serialized 20s of CPU on a 32-core host. Lowering the
    // coalesce floor keeps such stages wide; it is scale-neutral because
    // at production shuffle sizes the advisory target (64 MB default)
    // governs and no partition ever approaches the floor.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Dim tables (region/nation/customer/supplier/part at these SFs) must
    // broadcast; 64 MB leaves headroom at 100x fixture scale for the
    // genuinely small dims while big joins stay sort-merge/shuffled-hash.
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.compression.codec", "zstd")
    // The generated-class cache defaults to 100 entries; a session running
    // the full query suite compiles several hundred codegen units, so
    // late queries thrash the cache and pay multi-second recompiles on
    // every run (observed: identical queries swinging 0.7 s <-> 3.6 s run
    // to run). The entries are compiled classes — cheap next to the heap.
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    // `file:` without a forked `chmod` per created file and directory, for
    // FileSystem and FileContext users alike (graft.sinks.LocalFs).
    // FileSystem.CACHE keys on the scheme, not the conf: the pin holds
    // when the session makes the JVM's first `file:` instance.
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.sinks.NoForkLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.sinks.NoForkLocalFs].getName)

  /** A tuned local session; every entry point's core count defaults to
    * `SPARK_GRAFT_CPUS`, else all available processors. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Untimed warmup: JIT/codegen/class-loading for the operator families
    * the query suite uses (agg, window, HOF/md5, parquet scan), so that
    * cost is not billed to whichever query happens to exercise them
    * first. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id) as s")
        .write.format("noop").mode("overwrite").save()
      spark.range(10000)
        .selectExpr("id % 7 as k", "md5(cast(id as string)) as h",
          "transform(sequence(0, 3), i -> i * id) as arr")
        .selectExpr("k", "h", "aggregate(arr, 0L, (a, x) -> a + x) as s",
          "row_number() over (partition by k order by h) as rn")
        .where("rn <= 2")
        .write.format("noop").mode("overwrite").save()
      // First touch of a parquet file pays file-index/footer/codec init
      // (~2s even for a 600 KB table) — warm every fixture table once so
      // per-query times measure the operators, not cold IO setup.
      Tables.names.foreach { t =>
        try Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }
    } catch { case _: Throwable => }
}
