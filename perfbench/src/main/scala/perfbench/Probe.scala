package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters, collected by a listener the benchmark registers
  * for its traced passes. Jobs and stages are keyed by the job group the
  * benchmark sets around each operation, so every number is attributed to
  * one query or one index dump. */
final class Collector extends SparkListener {

  final case class Stage(group: String, submitMs: Long, completeMs: Long, tasks: Int,
                         runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, input: Long)

  private val stageGroup = TrieMap.empty[Int, String]
  private val jobGroups = new ConcurrentLinkedQueue[String]()
  private val done = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroups.add(g)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    done.add(Stage(stageGroup.getOrElse(i.stageId, ""),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  def jobs(group: String): Int = jobGroups.asScala.count(_ == group)
  def stages(group: String): Seq[Stage] = done.asScala.filter(_.group == group).toSeq
}

/** Planning intervals of every query execution the session finishes: the
  * analysis, optimization and planning phases its own planning tracker
  * recorded, in epoch milliseconds. They come from the executions the
  * program runs (the write command of a query included), so no plan is
  * built a second time to time it. */
final class Planning extends QueryExecutionListener {
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]()

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => phases.add(p.startTimeMs -> p.endTimeMs))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Phases that started inside [startMs, endMs]. */
  def within(startMs: Long, endMs: Long): Seq[(Long, Long)] =
    phases.asScala.filter { case (s, _) => s >= startMs && s <= endMs }.toSeq
}

/** In-memory spans: name, start, end, parent; the spans of one workload
  * pass share its pass id. Written out as a sidecar when the run ends. */
final class Trace {
  final case class Span(id: Int, parent: Int, pass: String, name: String,
                        startNs: Long, endNs: Long)

  private val spans = ArrayBuffer.empty[Span]

  def add(parent: Int, pass: String, name: String, startNs: Long, endNs: Long): Int =
    synchronized {
      val id = spans.length + 1
      spans += Span(id, parent, pass, name, startNs, endNs)
      id
    }

  /** Runs `body` as a span; its own id is passed in, for children. */
  def span[T](parent: Int, pass: String, name: String)(body: Int => T): T = {
    val id = synchronized {
      val id = spans.length + 1
      spans += Span(id, parent, pass, name, System.nanoTime(), 0L)
      id
    }
    try body(id)
    finally synchronized { spans(id - 1) = spans(id - 1).copy(endNs = System.nanoTime()) }
  }

  /** A span under `parent`, or under the child of `parent` that was open
    * when it started (a stage belongs to the build, plan or exec step
    * that ran it). */
  def addUnder(parent: Int, pass: String, name: String, startNs: Long, endNs: Long): Int = {
    val host = synchronized {
      spans.find(k => k.parent == parent && k.startNs <= startNs && startNs < k.endNs)
        .map(_.id).getOrElse(parent)
    }
    add(host, pass, name, startNs, endNs)
  }

  /** (pass, name, seconds) of every span. */
  def durations: Seq[(String, String, Double)] = synchronized {
    spans.toSeq.map(s => (s.pass, s.name, (s.endNs - s.startNs) / 1e9))
  }

  /** Length of the union of intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) { total += curEnd - curStart; curStart = s; curEnd = e }
      else if (e > curEnd) curEnd = e
    }
    total + (curEnd - curStart)
  }

  /** Per layer (the span name up to the first ':'): span count, total
    * and self time in seconds. Self time is a span's duration minus the
    * part of it that its children cover. */
  def layers: Seq[(String, Int, Double, Double)] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      (s.name.takeWhile(_ != ':'), s.endNs - s.startNs, s.endNs - s.startNs - covered(kids.toSeq))
    }.groupBy(_._1).toSeq.map { case (layer, xs) =>
      (layer, xs.size, xs.map(_._2).sum / 1e9, xs.map(_._3).sum / 1e9)
    }.sortBy(-_._4)
  }

  def json: String = synchronized {
    spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"pass":"${s.pass}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[\n", ",\n", "\n]\n")
  }
}

/** The traced half of a run: spans, job groups and the listener. Each
  * traced unit (an operation, or a layer microrun) runs under its own job
  * group, so its stages can be hung under its span. */
final class Tracing(spark: org.apache.spark.sql.SparkSession) {
  final case class Traced(group: String, pass: String, spanId: Int, startMs: Long,
                        startNs: Long, endMs: Long, pinnedBytes: Long)

  val trace = new Trace
  val collector = new Collector
  val planning = new Planning
  val units = ArrayBuffer.empty[Traced]

  /** Runs `body` with the listeners attached; detaches once the bus has
    * delivered every event `body` caused. */
  def during[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(collector)
    spark.listenerManager.register(planning)
    try body
    finally {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(collector)
      spark.listenerManager.unregister(planning)
    }
  }

  def storageBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def unit[T](parent: Int, pass: String, name: String, group: String)(body: Int => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    var id = 0
    try trace.span(parent, pass, name) { i => id = i; body(i) }
    finally {
      sc.clearJobGroup()
      units += Traced(group, pass, id, startMs, startNs, System.currentTimeMillis(), storageBytes)
    }
  }

  /** Hangs one `spark.stages` span per completed stage, and one
    * `queries.plan` span per planning phase, under the span of the unit
    * that ran it. Units run one at a time, so a phase belongs to the unit
    * whose interval it started in. */
  def finish(): Unit =
    units.foreach { u =>
      def ns(ms: Long) = u.startNs + (ms - u.startMs) * 1000000L
      collector.stages(u.group).foreach { st =>
        val (s, e) = (ns(st.submitMs), ns(st.completeMs))
        if (e > s) trace.addUnder(u.spanId, u.pass, "spark.stages", s, e)
      }
      val op = u.group.dropWhile(_ != ':').drop(1)
      planning.within(u.startMs, u.endMs).foreach { case (s, e) =>
        if (e > s) trace.addUnder(u.spanId, u.pass, s"queries.plan:$op", ns(s), ns(e))
      }
    }

  /** Wall time of a unit not covered by any of its stages, in seconds:
    * the driver's share (planning, job chain, collects). */
  def driverGap(u: Traced): Double = {
    val wall = (u.endMs - u.startMs).toDouble
    val stages = collector.stages(u.group)
      .map(s => (math.max(s.submitMs, u.startMs), math.min(s.completeMs, u.endMs)))
      .filter { case (a, b) => b > a }
    math.max(0.0, wall - trace.covered(stages)) / 1000.0
  }
}

/** Per-layer metrics of a traced run. Every workload reports the full
  * list; a layer the workload does not exercise reads 0. */
final class LayerReport(traced: Seq[Pass], val tracing: Tracing, micro: Map[String, Double]) {
  import LayerReport._

  private val passIds = traced.map(p => s"pass${p.index}").toSet
  private val opUnits = tracing.units.filter(u => passIds(u.pass)).toSeq
  private val n = math.max(1, traced.size).toDouble
  private def perPass(x: Double) = x / n

  private val spans = tracing.trace.durations.filter(s => passIds(s._1))
  private def spanSum(prefix: String) = perPass(spans.filter(_._2.startsWith(prefix)).map(_._3).sum)

  private val stages = opUnits.flatMap(u => tracing.collector.stages(u.group))

  val metrics: Seq[(String, Double, String)] = {
    val perQuery = queryNames.map { q =>
      val times = spans.filter(s => s._2.startsWith(s"queries.exec:${q}_")).map(_._3)
      (s"queries.$q.exec_s", Main.median(times), "s")
    }
    val spark = Seq(
      ("spark.jobs", perPass(opUnits.map(u => tracing.collector.jobs(u.group)).sum), "count"),
      ("spark.stages", perPass(stages.size), "count"),
      ("spark.tasks", perPass(stages.map(_.tasks).sum), "count"),
      ("spark.executor_run_s", perPass(stages.map(_.runMs).sum / 1e3), "s"),
      ("spark.executor_cpu_s", perPass(stages.map(_.cpuNs).sum / 1e9), "s"),
      ("spark.gc_s", perPass(stages.map(_.gcMs).sum / 1e3), "s"),
      ("spark.shuffle_read_bytes", perPass(stages.map(_.shuffleRead).sum), "bytes"),
      ("spark.shuffle_write_bytes", perPass(stages.map(_.shuffleWrite).sum), "bytes"),
      ("spark.spill_bytes", perPass(stages.map(_.spill).sum), "bytes"),
      ("spark.input_bytes", perPass(stages.map(_.input).sum), "bytes"),
      ("spark.driver_gap_s", perPass(opUnits.map(tracing.driverGap).sum), "s"),
      ("spark.pinned_bytes", opUnits.map(_.pinnedBytes.toDouble).maxOption.getOrElse(0.0), "bytes"))
    val queries = Seq(
      ("queries.build_s", spanSum("queries.build:"), "s"),
      ("queries.plan_s", spanSum("queries.plan:"), "s"),
      ("queries.exec_s", spanSum("queries.exec:"), "s"))
    val source = Seq(("source.serve_s", perPass(traced.map(_.stats.getOrElse("serve_s", 0.0)).sum), "s"))
    microNames.map { case (k, u) => (k, micro.getOrElse(k, 0.0), u) } ++ queries ++ perQuery ++
      spark ++ source
  }

  def print(untracedWall: Double): Unit = {
    val tracedWall = Main.median(traced.map(_.wall))
    Main.say(f"per-layer, ${traced.size} traced passes (values per pass unless noted):")
    metrics.foreach { case (k, v, u) => Main.say(f"  $k%-32s $v%16.4f $u") }
    Main.say(f"  traced wall_s ${tracedWall}%.4f s; untraced ${untracedWall}%.4f s; " +
      f"tracing overhead ${tracedWall - untracedWall}%+.4f s")
    Main.say("self time by layer (traced passes and microruns):")
    Main.say(f"  ${"layer"}%-24s ${"spans"}%7s ${"total_s"}%10s ${"self_s"}%10s")
    tracing.trace.layers.foreach { case (layer, count, total, self) =>
      Main.say(f"  $layer%-24s $count%7d $total%10.4f $self%10.4f")
    }
    val serve = metrics.find(_._1 == "source.serve_s").map(_._2).getOrElse(0.0)
    if (serve > 0) Main.say(f"  source.serve (own process) ${serve}%.4f s per pass, " +
      f"${100 * serve / math.max(tracedWall, 1e-9)}%.1f%% of traced wall_s")
  }
}

object LayerReport {
  val microNames: Seq[(String, String)] = Seq(
    "sources.es.fetch_s" -> "s", "sources.es.fetch_bytes" -> "bytes",
    "sources.es.requests" -> "count", "sources.es.retries" -> "count",
    "sources.es.decode_s" -> "s", "sources.es.scan_s" -> "s",
    "sources.jsonl.coerce_s" -> "s", "sources.jsonl.coerce_nulled" -> "count",
    "operators.flatten_s" -> "s", "sinks.write_s" -> "s", "sinks.files" -> "count",
    "sinks.bytes" -> "bytes")

  val queryNames: Seq[String] = MixWorkload.llmMix
}
