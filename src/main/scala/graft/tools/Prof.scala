package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.Bench.noop
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Dev tool: run registered queries one way at a time.
  *
  *   sbt "runMain graft.tools.Prof <time|jobs|explain|show> <sfDir> [--runs N] [query...]"
  *
  *  - `time`: after [[GraftSession.warm]], each query N times (default 3)
  *    into the noop sink, printing every run time so warm-up vs steady
  *    state is visible (Bench's min-of-2 still carries first-codegen cost).
  *  - `jobs`: after the warmup, one unmeasured run (codegen), then one
  *    measured run whose stages print with wall time, IO, CPU and call
  *    site — where a multi-job query (training loops, connected
  *    components, sampled centers) spends its wall clock.
  *  - `explain`: the formatted physical plan.
  *  - `show`: the first 50 rows.
  *
  * No query names means every registered query; the session is
  * [[GraftSession.local]]'s (cores from `SPARK_GRAFT_CPUS`).
  */
object Prof {
  private val Fence = "graft.prof.fence"
  private val usage =
    "usage: Prof <time|jobs|explain|show> <sfDir> [--runs N] [query...]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one mode over `spark` without stopping it; an unknown query name
    * is reported on stderr and the other names still run. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val (mode, dir, runs, named) = args match {
      case Seq(m, d, "--runs", n, rest @ _*) => (m, d, n.toInt, rest)
      case Seq(m, d, rest @ _*) => (m, d, 3, rest)
      case _ => throw new IllegalArgumentException(usage)
    }
    require(Seq("time", "jobs", "explain", "show").contains(mode), usage)
    require(runs >= 1, "--runs must be at least 1")
    if (mode == "time" || mode == "jobs") GraftSession.warm(spark, dir)
    val queries = SparkEntry.queries
    (if (named.nonEmpty) named else queries.keys.toSeq.sorted).foreach { name =>
      queries.get(name) match {
        case None => Console.err.println(s"unknown query: $name")
        case Some(fn) => mode match {
          case "time" =>
            val times = (1 to runs).map(_ => noop(fn(spark, dir)))
            println(f"$name%-28s ${times.map(t => f"$t%6.2f").mkString(" ")}")
          case "jobs" => jobs(spark, name, fn(spark, dir))
          case _ =>
            println(s"==== $name ====")
            if (mode == "explain") fn(spark, dir).explain("formatted")
            else fn(spark, dir).show(50, truncate = false)
        }
      }
    }
  }

  /** Prints how long `f` took under `label` and returns its result. */
  def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"== $label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
  }

  private def jobs(spark: SparkSession, name: String, df: => DataFrame): Unit = {
    noop(df)
    val sc = spark.sparkContext
    // The listener bus delivers events asynchronously but in order, so the
    // jobs between two fence jobs are exactly the measured run's, and once
    // the closing fence has ended each of them has delivered its start.
    def fence(): Unit = {
      sc.setLocalProperty(Fence, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(Fence, null)
    }
    val rec = new JobRecorder
    sc.addSparkListener(rec)
    val (total, drained) =
      try { fence(); val t = noop(df); fence(); (t, rec.drain(30000L)) }
      finally sc.removeSparkListener(rec)
    if (!drained) Console.err.println(s"WARNING $name: a job's end was not " +
      "delivered within 30 s; the stage list below is incomplete")
    val rows = rec.rows
    println(f"== $name total $total%.2f s, ${rows.size} stages, " +
      f"stage-wall-sum ${rows.map(_._1).sum}%.2f s ==")
    rows.zipWithIndex.foreach { case ((sec, site), i) =>
      if (sec >= 0.05) println(f"  st$i%-3d $sec%7.3f s  $site")
    }
  }

  /** One line per completed stage of the jobs started between the first
    * two fence jobs: wall time, IO, CPU, the job's call site and the first
    * `graft.` frame. */
  private final class JobRecorder extends SparkListener {
    private var fences = 0
    private var closingFence = -1
    private var closed = false
    private val running = mutable.Set[Int]()
    private val stageJob = mutable.Map[Int, (Int, String)]()
    private val lines = mutable.ArrayBuffer[(Double, String)]()

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val props = Option(js.properties)
      if (props.exists(_.getProperty(Fence) != null)) {
        fences += 1
        if (fences == 2) closingFence = js.jobId
      } else if (fences == 1) {
        running += js.jobId
        val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        js.stageIds.foreach(id => stageJob(id) = (js.jobId, site.getOrElse("")))
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      if (je.jobId == closingFence) closed = true
      running -= je.jobId
      notifyAll()
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = sc.stageInfo
        stageJob.get(si.stageId).foreach { case (jid, jsite) =>
          val wall = (for { s <- si.submissionTime; e <- si.completionTime }
            yield (e - s) / 1e3).getOrElse(0.0)
          val m = si.taskMetrics
          val frame = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("graft.tools.Prof"))
            .map(_.trim).getOrElse(si.name.takeWhile(_ != '\n'))
          val io = f"job=$jid%-3d in=${m.inputMetrics.bytesRead / 1e6}%.0fMB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.1fMB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1fMB " +
            f"cpu=${m.executorRunTime / 1e3}%.1fs gc=${m.jvmGCTime / 1e3}%.1fs " +
            f"tasks=${si.numTasks}"
          lines += ((wall, f"$io  $jsite  $frame"))
        }
      }

    /** Waits at most `ms` until the closing fence and every recorded job
      * have ended; true when they have. */
    def drain(ms: Long): Boolean = synchronized {
      val deadline = System.nanoTime() + ms * 1000000L
      while (!(closed && running.isEmpty) && System.nanoTime() < deadline)
        wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      closed && running.isEmpty
    }

    def rows: Seq[(Double, String)] = synchronized(lines.toSeq)
  }

}
