package graft.sinks

import graft.{DumpJob, SparkSpec}
import graft.streaming.StreamDump
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The session's `file:` filesystem (graft.sinks.LocalFs): writes and
  * checkpoints start no process, modes and `.crc` sidecars are what
  * Hadoop's forking filesystem made, and `rename` keeps the refusal of an
  * existing destination file that sessions had before. */
class LocalFsSpec extends SparkSpec {

  import spark.implicits._

  private def hconf = spark.sessionState.newHadoopConf()
  private def localFs = FileSystem.get(new URI("file:///"), hconf)

  /** The commands of every process the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      try body finally r.stop()
      val f = Files.createTempFile("graft_forks", ".jfr")
      try {
        r.dump(f)
        RecordingFile.readAllEvents(f).asScala
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command")).toSeq
      } finally Files.delete(f)
    } finally r.close()
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def umask = FsPermission.getUMask(hconf)
  private def fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
  private def dirMode = FsPermission.getDirDefault.applyUMask(umask).toString

  test("the shared session's file: FileSystem and FileContext are graft's") {
    assert(localFs.getClass == classOf[NoForkLocalFileSystem])
    assert(new Path(Files.createTempDirectory("graft_localfs").toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getClass == classOf[NoForkLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hconf).getDefaultFileSystem
      .getClass == classOf[NoForkLocalFs])
  }

  test("the fork recorder sees a started process") {
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).size == 1)
  }

  test("a rotated zstd parquet dump starts no process; modes, .crc and " +
      "_SUCCESS are Hadoop's") {
    val out = Files.createTempDirectory("graft_localfs_dump")
    val df = spark.range(0, 4000, 1, 2).selectExpr("id", "cast(id as string) as s")
    val catalog = new graft.sources.SourceCatalog {
      def listTables(pattern: String): Seq[String] = Seq("t")
      def load(s: org.apache.spark.sql.SparkSession, name: String) = df
    }
    var results: Seq[DumpJob.Result] = Nil
    val forks = processStarts {
      results = DumpJob.run(spark, catalog, out.toString, DumpJob.Config(
        sink = Sink.Config(compression = Some("zstd"), maxRecordsPerFile = 1000)))
    }
    val Seq(DumpJob.Written(_, files, _)) = results
    assert(files.length == 4) // 2 tasks x 2000 rows at a 1000-row cap
    assert(forks.isEmpty, s"started: $forks")

    val dir = out.resolve("t")
    val names = files.map(f => localPath(f).getFileName.toString)
    val listed = Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet
    assert(listed == (names ++ names.map(n => s".$n.crc") ++
      Seq("_SUCCESS", "._SUCCESS.crc")).toSet)
    assert(mode(dir) == dirMode)
    (names :+ "_SUCCESS").foreach(n => assert(mode(dir.resolve(n)) == fileMode, n))
    assert(spark.read.parquet(dir.toString).selectExpr("sum(id)").as[Long]
      .head() == 3999L * 4000 / 2)
  }

  test("a partitioned write starts no process and lists its files sorted") {
    val out = Files.createTempDirectory("graft_localfs_part").resolve("t")
    val df = spark.range(0, 400, 1, 2).selectExpr("id", "id % 4 as k")
    var files: Seq[String] = Nil
    val forks = processStarts {
      files = Sink.write(df, out.toString, "t", Sink.Config(partitionBy = Seq("k")))
    }
    assert(forks.isEmpty, s"started: $forks")
    assert(files.length == 8 && files == files.sorted) // 2 tasks x 4 keys
    val onDisk = Files.walk(out).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .toSet
    assert(files.map(localPath).toSet == onDisk)
  }

  test("a one-batch StreamDump with a checkpoint starts no process") {
    val src = Files.createTempDirectory("graft_localfs_src").toString
    val out = Files.createTempDirectory("graft_localfs_out").toString
    val ckpt = Files.createTempDirectory("graft_localfs_ckpt")
    spark.range(100).select($"id".cast("string").as("id")).write.mode("overwrite")
      .parquet(src)
    val schema = spark.read.parquet(src).schema
    val forks = processStarts {
      val q = StreamDump.start(spark, src, out, ckpt.toString, StreamDump.Config(
        schema = schema,
        dump = DumpJob.Config(schema = Some(StructType(Seq(StructField("id", LongType)))))))
      q.awaitTermination(60000)
      assert(q.lastProgress.numInputRows == 100)
    }
    assert(forks.isEmpty, s"started: $forks")
    assert(spark.read.parquet(out).count() == 100)
    Seq("offsets", "commits").foreach { log =>
      assert(Files.exists(ckpt.resolve(s"$log/0")), log)
      assert(Files.exists(ckpt.resolve(s"$log/.0.crc")), log)
      assert(mode(ckpt.resolve(s"$log/0")) == fileMode, log)
      assert(mode(ckpt.resolve(log)) == dirMode, log)
    }
  }

  test("a directory under a setgid parent keeps setgid, as under chmod") {
    val d = Files.createTempDirectory("graft_localfs_setgid")
    Files.setAttribute(d, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
    assert(localFs.mkdirs(new Path(d.resolve("sub").toString)))
    val m = Files.getAttribute(d.resolve("sub"), "unix:mode").asInstanceOf[Int]
    assert((m & 0xfff) == Integer.parseInt("2755", 8), Integer.toOctalString(m))
  }

  test("rename refuses an existing destination file; a missing destination " +
      "and a directory still take it") {
    val fs = localFs
    val d = Files.createTempDirectory("graft_localfs_rename")
    def p(name: String) = new Path(d.resolve(name).toString)
    def write(f: Path, text: String): Unit = {
      val o = fs.create(f); try o.write(text.getBytes(UTF_8)) finally o.close()
    }
    def read(f: Path): String = {
      val i = fs.open(f); try new String(i.readAllBytes(), UTF_8) finally i.close()
    }
    write(p("a"), "A")
    write(p("b"), "B")
    assert(!fs.rename(p("a"), p("b")))
    assert(read(p("a")) == "A" && read(p("b")) == "B")

    assert(fs.rename(p("a"), p("c")))
    assert(!fs.exists(p("a")) && read(p("c")) == "A")
    assert(Files.exists(d.resolve(".c.crc")) && !Files.exists(d.resolve(".a.crc")))

    assert(fs.mkdirs(p("sub")))
    assert(fs.rename(p("c"), p("sub")))
    assert(read(p("sub/c")) == "A" && !fs.exists(p("c")))
    assert(Files.exists(d.resolve("sub/.c.crc")))
  }
}
