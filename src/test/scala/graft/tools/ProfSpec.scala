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

  test("jobs labels the stages of broadcast jobs with their query's graft. frame") {
    import org.apache.spark.sql.functions.broadcast
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val df = spark.range(20000).join(broadcast(spark.range(100).toDF("id")), "id")
    // the broadcast's own stage carries only the exchange thread's site
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sc = spark.sparkContext
    val seen = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        names.add(e.stageInfo.name)
    }
    sc.addSparkListener(seen)
    val (_, rows) = try Prof.stages(spark, "broadcast_join", df)
      finally sc.removeSparkListener(seen)
    assert(names.toArray.exists(_.toString.contains("withThreadLocalCaptured")),
      names)
    // each line is "<io>  <job call site>  <frame>"
    assert(rows.forall(_._2.split("  ").last.contains("graft.")),
      rows.mkString("\n"))
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
