package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import Snapshots._

/** The snapshot log's on-disk format, both ways: entries written by the
  * earlier string-concatenation writer (captured verbatim below) read
  * back to the same [[Snapshot]], and the Jackson writer reproduces
  * them byte for byte — field order, `Double.toString` numbers,
  * base64 string bounds, the raw schema JSON. */
class SnapshotCodecSpec extends SparkSpec {
  import spark.implicits._

  private val Full =
    """{"version":1,"op":"append","files":["a-00000.parquet","b-00001.parquet","c-00002.parquet"],"sizes":[1048576,512,0],"stats":[{"#":100,"id":{"n":[-0.0,1.0E10],"z":0},"key":{"s":["ZG9jLTE=","ZG9jLTnDqQ=="]},"score":{"z":100}},{"#":5,"id":{"n":[1.5E-7,9.223372036854776E18]},"score":{"n":[-1.0E-300,2.5],"z":3}},{}],"schema":{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"key","type":"string","nullable":true,"metadata":{}},{"name":"score","type":"double","nullable":true,"metadata":{}}]}}"""
  private val Delta =
    """{"version":2,"kind":"delta","op":"delete","files":["d-00000.parquet"],"sizes":[2048],"stats":[{"#":7,"id":{"n":[3.0,4.0E20],"z":0}}],"remove":["a-00000.parquet","b-00001.parquet"],"schema":{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"key","type":"string","nullable":true,"metadata":{}},{"name":"score","type":"double","nullable":true,"metadata":{}}]}}"""
  private val Legacy =
    """{"version":1,"op":"append","files":["x-00000.parquet","y-00001.parquet"]}"""
  private val Ckpt =
    """{"version":10,"op":"upsert","files":["e-00000.parquet","f-00001.parquet"],"sizes":[10,20],"stats":[{"#":3,"id":{"n":[0.0,2.0],"z":0},"key":{"s":["","w7/kuK0="],"z":1}},{"id":{"z":4}}],"schema":{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"doc_key","type":"string","nullable":true,"metadata":{"graft.physical":"key"}}]}}"""

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("key", StringType), StructField("score", DoubleType)))

  private val fullSnap = Snapshot(1, "append",
    Seq("a-00000.parquet", "b-00001.parquet", "c-00002.parquet"),
    Some(schema), Some(Seq(1048576L, 512L, 0L)), Some(Seq(
      FileStats(100, Map("id" -> NumStat(-0.0, 1.0E10, Some(0)),
        "key" -> StrStat("doc-1", "doc-9é", None),
        "score" -> NullStat(100))),
      FileStats(5, Map("id" -> NumStat(1.5E-7, 9.223372036854776E18, None),
        "score" -> NumStat(-1.0E-300, 2.5, Some(3)))),
      FileStats.empty)))

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_codec").toString
    Files.createDirectories(Paths.get(d, "_graft_log"))
    d
  }

  private def put(dir: String, name: String, entry: String): Unit =
    Files.writeString(Paths.get(dir, "_graft_log", name), entry)

  private def rendered(bytes: Array[Byte]): String = new String(bytes, UTF_8)

  private def full(s: Snapshot): String =
    rendered(renderEntry(s.version, s.op, s.dataFiles, None, s.schema))

  test("a full entry with num, string and null stats reads by name and re-renders byte for byte") {
    val dir = freshDir()
    put(dir, "v00001.json", Full)
    val Seq(snap) = versions(spark, dir)
    assert(snap == fullSnap)
    // -0.0 == 0.0 under ==, so the sign is checked by the bytes
    assert(full(snap) == Full)
  }

  test("a delta entry applies its remove list and re-renders byte for byte") {
    val dir = freshDir()
    put(dir, "v00001.json", Full)
    put(dir, "v00002.json", Delta)
    val Seq(v1, v2) = versions(spark, dir)
    val added = FileStats(7, Map("id" -> NumStat(3.0, 4.0E20, Some(0))))
    assert(v2 == Snapshot(2, "delete", Seq("c-00002.parquet", "d-00000.parquet"),
      Some(schema), Some(Seq(0L, 2048L)), Some(Seq(FileStats.empty, added))))
    val add = v2.dataFiles.filterNot(f => v1.files.contains(f.name))
    val remove = v1.files.filterNot(v2.files.contains)
    assert(rendered(renderEntry(2, v2.op, add, Some(remove), v2.schema)) == Delta)
  }

  test("a legacy entry without sizes, stats or schema reads and re-renders byte for byte") {
    val dir = freshDir()
    put(dir, "v00001.json", Legacy)
    val Seq(snap) = versions(spark, dir)
    assert(snap == Snapshot(1, "append", Seq("x-00000.parquet", "y-00001.parquet")))
    assert(full(snap) == Legacy)
  }

  test("a checkpoint reads as the base and re-renders byte for byte; a delta checkpoint fails") {
    val dir = freshDir()
    put(dir, "v00010.json", rendered(renderEntry(10, "upsert", Nil, Some(Nil), None)))
    put(dir, "v00010.ckpt.json", Ckpt)
    val Seq(snap) = versions(spark, dir)
    val md = new MetadataBuilder().putString(PhysicalKey, "key").build()
    assert(snap == Snapshot(10, "upsert", Seq("e-00000.parquet", "f-00001.parquet"),
      Some(StructType(Seq(StructField("id", LongType),
        StructField("doc_key", StringType, nullable = true, md)))),
      Some(Seq(10L, 20L)), Some(Seq(
        FileStats(3, Map("id" -> NumStat(0.0, 2.0, Some(0)),
          "key" -> StrStat("", "ÿ中", Some(1)))),
        FileStats(-1, Map("id" -> NullStat(4)))))))
    assert(full(snap) == Ckpt)
    put(dir, "v00010.ckpt.json", Delta)
    val e = intercept[IllegalStateException](versions(spark, dir))
    assert(e.getMessage.contains("not a full-state entry"), e.getMessage)
  }

  test("miscounted sizes read as None; a malformed stats block reads as no stats") {
    def read(entry: String): Snapshot = {
      val dir = freshDir()
      put(dir, "v00001.json", entry)
      versions(spark, dir).head
    }
    def edit(from: String, to: String): String = {
      assert(Full.contains(from), from); Full.replace(from, to)
    }
    val short = read(edit("[1048576,512,0]", "[1048576,512]"))
    assert(short.sizes.isEmpty && short.stats == fullSnap.stats)
    Seq(
      "[1.5E-7,9.223372036854776E18]" -> "[1.5E-7]", // not a pair
      "\"z\":100" -> "\"z\":\"100\"", // a string count
      "\"ZG9jLTE=\"" -> "\"*\"", // not base64
      "\"score\":{\"z\":100}" -> "\"score\":{}", // no stat kind
      ",{}]" -> "]" // one object short of the file count
    ).foreach { case (from, to) =>
      val snap = read(edit(from, to))
      assert(snap.stats.isEmpty && snap.sizes == fullSnap.sizes, s"$from -> $to")
      assert(snap.dataFiles.forall(_.stats.isEmpty))
    }
  }

  test("a 'stats' key in the schema's column metadata is not read as file stats") {
    val dir = Files.createTempDirectory("graft_codec").toString
    Files.delete(Paths.get(dir))
    val md = new MetadataBuilder().putMetadataArray("stats",
      Array(new MetadataBuilder().putLong("#", 0).build())).build()
    spark.conf.set("spark.graft.snapshots.statsColumns", "")
    try writeAppend((1L to 10L).toDF("id").select(col("id").as("id", md))
      .coalesce(1), dir)
    finally spark.conf.unset("spark.graft.snapshots.statsColumns")
    assert(read(spark, dir).count() == 10)
    assert(read(spark, dir).where($"id" > 0).count() == 10)
    assert(versions(spark, dir).last.stats.isEmpty)
  }

  test("a file name with a backslash is escaped on write and reads back exactly") {
    val dir = freshDir()
    val name = "sub\\part-00000.parquet"
    val bytes = renderEntry(1, "import", Seq(DataFile(name, 5L)), Some(Nil), None)
    assert(rendered(bytes).contains("\"sub\\\\part-00000.parquet\""))
    Files.write(Paths.get(dir, "_graft_log", "v00001.json"), bytes)
    assert(versions(spark, dir).head.files == Seq(name))
  }

  test("only the codec writes log entries: no \"version\": literal or JsonLite elsewhere in src/main") {
    val root = Paths.get("src/main/scala")
    val codec = root.resolve("graft/sinks/Snapshots.scala")
    assert(Files.isDirectory(root) && Files.isRegularFile(codec))
    val literal = "\\\\?\"version\\\\?\"\\s*:".r
    val offenders = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && f != codec)
      .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if literal.findFirstIn(line).isDefined ||
          line.contains("JsonLite") => s"$f:${i + 1}"
      }).toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
