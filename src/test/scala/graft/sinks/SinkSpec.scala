package graft.sinks

import graft.{DumpJob, SparkSpec}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** K1-K4 sink behavior: rotation, naming, formats, compression, raw
  * passthrough (reference dump-es-parquet:284-295,312-336). */
class SinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_sink").toString
  private def names(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).filterNot(_.startsWith("_"))
      .toSeq.sorted

  test("K1: maxRecordsPerFile rotates files at the row cap") {
    val dir = tmp()
    val df = spark.range(100).coalesce(1).toDF("id")
    val files = Sink.write(df, dir, "t", Sink.Config(maxRecordsPerFile = 30))
    assert(files.length == 4) // 30+30+30+10
    assert(names(dir) == Seq("t-0000.parquet", "t-0001.parquet", "t-0002.parquet", "t-0003.parquet"))
  }

  /** A one-table catalog over `df`, for driving `DumpJob.run`. */
  private def catalogOf(df: org.apache.spark.sql.DataFrame): graft.sources.SourceCatalog =
    new graft.sources.SourceCatalog {
      def listTables(pattern: String): Seq[String] = Seq("t")
      def load(s: org.apache.spark.sql.SparkSession, name: String) = df
    }

  test("K1: size-based rotation derives a row cap from measured bytes/row") {
    val out = tmp()
    val dir = s"$out/t"
    val df = spark.range(20000)
      .selectExpr("id", "repeat(uuid(), 4) as pad").coalesce(1)
    val Seq(DumpJob.Written(_, files, _)) = DumpJob.run(spark, catalogOf(df), out,
      DumpJob.Config(maxPartitionBytes = Some(64 * 1024))) // 64 KB target
    assert(files.length > 1, "a 64KB cap over ~500KB of data must rotate")
    val hconf = spark.sparkContext.hadoopConfiguration
    val sizes = files.map(f => {
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getLen
    })
    // every file lands near-or-under the target (2x slack: estimate-based)
    assert(sizes.forall(_ < 128 * 1024), s"file sizes: $sizes")
    assert(spark.read.parquet(dir).count() == 20000)
  }

  test("K2: hive-style partitioned layout (partitionBy)") {
    val dir = tmp()
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("k", "grp")
    val files = Sink.write(df, dir, "t", Sink.Config(partitionBy = Seq("grp")))
    assert(files.nonEmpty && files.forall(_.contains("grp=")))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3 && back.columns.toSet == Set("k", "grp"))
    assert(back.filter($"grp" === "a").count() == 2)
  }

  test("zero-record table writes one schema-bearing empty file (documented deviation)") {
    val dir = tmp()
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val files = Sink.write(empty, dir, "t", Sink.Config())
    assert(files.map(f => new java.io.File(f).getName) == Seq("t.parquet"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 0 && back.columns.toSeq == Seq("k", "v"))
  }

  test("S1: comma-separated patterns union in catalog order") {
    assert(graft.Tables.resolve("region,nat*") == Seq("region", "nation"))
    assert(graft.Tables.resolve("nation,region,nation") == Seq("region", "nation"))
  }

  test("K2: single file drops the partition number (reference :312-316)") {
    val dir = tmp()
    Sink.write(spark.range(5).coalesce(1).toDF("id"), dir, "solo", Sink.Config())
    assert(names(dir) == Seq("solo.parquet"))
  }

  test("K2: csv format with header round-trips") {
    val dir = tmp()
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1)
    Sink.write(df, dir, "t", Sink.Config(format = "csv"))
    assert(names(dir) == Seq("t.csv"))
    val back = spark.read.option("header", true).csv(dir)
    assert(back.columns.toSeq == Seq("k", "v") && back.count() == 2)
  }

  test("K2/K4: json format names ndjson; gzip appends .gz (reference :206-212)") {
    val dir = tmp()
    val df = Seq((1, "a")).toDF("k", "v").coalesce(1)
    Sink.write(df, dir, "t", Sink.Config(format = "json", compression = Some("gzip")))
    assert(names(dir) == Seq("t.ndjson.gz"))
  }

  test("K3: raw JSON passthrough writes one JSON object per line, schema-free") {
    val dir = tmp()
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1)
    Sink.write(df, dir, "t", Sink.Config(format = "text"))
    assert(names(dir) == Seq("t.jsonl"))
    val lines = spark.read.text(dir).as[String].collect().sorted
    assert(lines.toSeq == Seq("""{"k":1,"v":"a"}""", """{"k":2,"v":"b"}"""))
  }

  test("DumpJob: per-table error isolation (reference :87-95)") {
    val out = tmp()
    // "documents" fixture lacks sf-dir? use a nonexistent src for one table:
    // run over a pattern resolving to two tables from different dirs — the
    // clean way: point at sf0.001 where all tables exist, then at a bogus
    // dir where every read fails but each failure is isolated per table.
    val ok = DumpJob.run(spark, sf(), out, DumpJob.Config(pattern = "region"))
    assert(ok.forall(_.isInstanceOf[DumpJob.Written]))
    val bad = DumpJob.run(spark, "/nonexistent", tmp(), DumpJob.Config(pattern = "*"))
    assert(bad.nonEmpty && bad.forall(_.isInstanceOf[DumpJob.Failed]))
  }

  test("DumpJob: flatten + coerce compose in the pipeline") {
    val out = tmp()
    val results = DumpJob.run(spark, sf(), out,
      DumpJob.Config(pattern = "nation", flatten = true,
        sink = Sink.Config(format = "parquet")))
    assert(results.collect { case w: DumpJob.Written => w.table -> w.files.nonEmpty }
      .toMap == Map("nation" -> true))
    assert(spark.read.parquet(s"$out/nation").count() ==
      spark.read.parquet(sf() + "/nation.parquet").count())
  }

  test("heterogeneous dumps read back with mergeSchema (reference's union_by_name)") {
    // the reference's downstream contract is
    // read_parquet('x-*.parquet', union_by_name=true) over dumps whose
    // schemas drifted across indices (README.md:99-103); Spark's
    // mergeSchema is the same semantic
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "old_col").write.parquet(s"$dir/t1")
    Seq((2L, 3.5)).toDF("id", "new_col").write.parquet(s"$dir/t2")
    val merged = spark.read.option("mergeSchema", true)
      .parquet(s"$dir/t1", s"$dir/t2")
    assert(merged.columns.toSet == Set("id", "old_col", "new_col"))
    assert(merged.count() == 2)
    assert(merged.filter($"old_col".isNull).count() == 1)
  }

  test("DumpJob: query/fields/sort pushdowns shape the dump (P1-P3)") {
    val out = tmp()
    val results = DumpJob.run(spark, sf(), out, DumpJob.Config(
      pattern = "nation",
      query = Some("n_regionkey >= 2"),
      fields = Seq("n_n*"),           // glob: n_nationkey + n_name
      sort = Seq("n_name:desc")))
    assert(results.forall(_.isInstanceOf[DumpJob.Written]))
    val back = spark.read.parquet(s"$out/nation")
    assert(back.columns.toSeq == Seq("n_nationkey", "n_name"))
    val src = spark.read.parquet(sf() + "/nation.parquet")
      .filter("n_regionkey >= 2")
    assert(back.count() == src.count())
    // single output partition at this size -> file order is the sort order
    val names = back.select("n_name").as[String].collect().toSeq
    assert(names == names.sorted.reverse)
  }

  test("DumpJob: coercion losses surface as per-table warnings (T6 flush)") {
    import org.apache.spark.sql.types._
    val out = tmp()
    // nation's n_name (strings) cannot coerce to long -> every present
    // value is counted lost; n_nationkey coerces cleanly -> no warning
    val target = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", LongType)))
    val results = DumpJob.run(spark, sf(), out,
      DumpJob.Config(pattern = "nation", schema = Some(target)))
    val Seq(w: DumpJob.Written) = results
    val n = spark.read.parquet(sf() + "/nation.parquet").count()
    assert(w.warnings == Map("null_n_name" -> n))
  }

  test("DumpJob: a byte-capped dump counts warnings over the whole table, not the probe's sample") {
    import org.apache.spark.sql.types._
    val out = tmp()
    // the size probe writes a 2000-row sample of an UNCOUNTED twin, so
    // the counters still see every one of lineitem's rows
    val target = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_returnflag", LongType)))
    val Seq(w: DumpJob.Written) = DumpJob.run(spark, sf(), out, DumpJob.Config(
      pattern = "lineitem", schema = Some(target), maxPartitionBytes = Some(4 * 1024)))
    val n = spark.read.parquet(sf() + "/lineitem.parquet").count()
    assert(n > 2000 && w.files.length > 1, s"$n rows in ${w.files.length} file(s)")
    assert(w.warnings == Map("null_l_returnflag" -> n))
    assert(spark.read.parquet(s"$out/lineitem").count() == n)
  }
}
