package graft.tools

import java.io.ByteArrayOutputStream

import graft.SparkSpec

/** Each `Prof` mode over one sf0.001 query in the shared session. */
class ProfSpec extends SparkSpec {
  private val q = "q01_filter_project"

  /** stdout and stderr of one `Prof.run`. */
  private def prof(args: String*): (String, String) = {
    val (out, err) = (new ByteArrayOutputStream, new ByteArrayOutputStream)
    Console.withOut(out)(Console.withErr(err)(Prof.run(spark, args)))
    assert(!spark.sparkContext.isStopped)
    (out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("time prints one line of --runs times per query; an unknown name " +
      "is reported and the other names still run") {
    val (out, err) = prof("time", sf(), "--runs", "1", "no_such_query", q)
    assert(out.linesIterator.exists(l =>
      l.startsWith(q) && l.trim.split("\\s+").length == 2), out)
    assert(err.contains("unknown query: no_such_query"), err)
  }

  test("jobs prints the measured run's header after every job ended") {
    val (out, err) = prof("jobs", sf(), q)
    assert(s"""== $q total [0-9.]+ s, [1-9][0-9]* stages, """.r
      .findFirstIn(out).isDefined, out)
    assert(!err.contains("WARNING"), err)
  }

  test("explain prints the formatted physical plan") {
    val (out, _) = prof("explain", sf(), q)
    assert(out.contains(s"==== $q ====") && out.contains("== Physical Plan =="),
      out)
  }

  test("show prints the header and a row table") {
    val (out, _) = prof("show", sf(), q)
    assert(out.contains(s"==== $q ====") && out.contains("+-"), out)
  }

  test("an unknown mode is a usage error") {
    intercept[IllegalArgumentException](prof("plot", sf(), q))
  }
}
