package graft

import java.nio.file.{Files, Paths}

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
}
