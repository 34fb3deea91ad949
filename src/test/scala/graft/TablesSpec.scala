package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class TablesSpec extends SparkSpec {

  test("scratch clears a previous run's directory and stays under " +
      "java.io.tmpdir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = Tables.scratch(spark, "/fixtures/sf-0.1", "tables_spec")
    assert(Paths.get(dir) == tmp.resolve("graft_tables_spec__fixtures_sf_0_1"))
    Files.createDirectories(Paths.get(dir, "sub"))
    Files.writeString(Paths.get(dir, "sub", "part-0"), "stale")
    assert(Tables.scratch(spark, "/fixtures/sf-0.1", "tables_spec") == dir)
    assert(!Files.exists(Paths.get(dir)))
  }

  test("queries take their directories from scratch, never " +
      "createTempDirectory (a fresh directory per call is never deleted)") {
    // SparkEntry.entry is held to the same rule
    val root = Paths.get("src/main/scala/graft/queries")
    val entry = Paths.get("src/main/scala/graft/SparkEntry.scala")
    assert(Files.isDirectory(root) && Files.isRegularFile(entry))
    val offenders = (Files.walk(root).iterator.asScala ++ Iterator(entry))
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("createTempDirectory") => s"$f:${i + 1}"
      }).toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
