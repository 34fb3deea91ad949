package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark entry: one workload, one seed, one measuring window.
  *
  *   perfbench.Main --workload es-dump|llm-mix --seed N --seconds S
  *     --trace 0|1 --work DIR --cores N
  *
  * Set-up (session, fixtures, page rendering, one untimed checked pass)
  * is timed as `setup_s`. Then a fixed number of whole passes runs:
  * `--seconds` over the workload's nominal pass time.
  * With `--trace 1` untraced and traced passes alternate (listener, job
  * groups, spans on the traced ones); per-layer numbers come from the
  * traced passes and the layer microruns after them.
  * The report goes to stdout; the machine-readable result to
  * `DIR/result.json`, which `perfbench/run.py` completes with the DuckDB
  * oracle check.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int)

  /** One timed operation: a query, or the dump of one index; its wall
    * seconds and the CPU seconds the JVM spent meanwhile. */
  final case class Op(pass: Int, name: String, seconds: Double, cpuSeconds: Double, ok: Boolean)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this JVM, all threads. Time the hypervisor steals from
    * the machine's CPUs is not charged to it, unlike wall time. */
  def cpuNanos: Long = os.getProcessCpuTime

  /** Where a traced operation hangs its spans. */
  final case class Ctx(trace: Trace, pass: String, parent: Int)

  def say(line: String): Unit = { println(s"[perfbench] $line"); System.out.flush() }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      Paths.get(m("work")).toAbsolutePath, m("cores").toInt)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The median over passes of each pass's slowest operation: one
    * statistic whatever the number of passes, which a single stall moves
    * less than the maximum would. */
  def tail(passes: Seq[Seq[Double]]): Double = median(passes.map(_.max))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    deleteTree(o.work)
    Files.createDirectories(o.work)
    val wl: Workload = o.workload match {
      case "es-dump" => new DumpWorkload(o)
      case "llm-mix" => new MixWorkload(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try run(o, wl)
    finally wl.close()
  }

  private def run(o: Opts, wl: Workload): Unit = {
    // the responder (es-dump) starts rendering before the session exists
    wl.prepare()
    val sessionStart = System.nanoTime()
    val spark = GraftSession.tune(SparkSession.builder()
        .master(s"local[${o.cores}]")
        .appName(s"perfbench-${o.workload}")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", o.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    try {
      wl.setup(spark)
      val runner = new Runner(spark, wl)
      // More untimed passes: after the first the JIT is still compiling
      // the hot paths, and a run whose window holds few passes would
      // otherwise report its least warm ones. Their operations are checked
      // and counted like every other.
      wl.phases += s"untimed warm passes (${wl.warmPasses})" ->
        (1 to wl.warmPasses).map(n => runner.pass(-n, None).wall).sum
      runner.passes.clear()
      val setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      say(f"${o.workload} seed=${o.seed} cores=${o.cores} ${wl.describe}")
      say(f"set-up ${setupS}%.2f s: JVM to session ${setupS - sessionS - wl.phases.map(_._2).sum}%.2f s, " +
        f"session ${sessionS}%.2f s, " + wl.phases.map { case (n, t) => f"$n $t%.2f s" }.mkString(", "))

      // A fixed number of whole passes: as many as fill `--seconds` at the
      // workload's nominal pass time. The JIT keeps warming for a dozen
      // passes, so a count that followed the host's speed would move every
      // median with it; a fixed count compares runs pass for pass. Two
      // untraced passes at least. A traced run alternates untraced and
      // traced passes, so warm-up drift falls on both sides of the
      // tracing-overhead figure.
      val count = math.max(2, math.round(o.seconds / wl.nominalPassS).toInt)
      val tracing = if (o.trace) Some(new Tracing(spark)) else None
      (0 until (if (o.trace) math.max(3, count) else count)).foreach { n =>
        runner.pass(runner.passes.size, if (n % 2 == 1) tracing else None)
      }
      val untraced = runner.passes.toSeq.filterNot(_.traced)

      val layer: Option[LayerReport] = tracing.map { t =>
        val micro = t.during(wl.microruns(spark, t))
        t.finish()
        new LayerReport(runner.passes.toSeq.filter(_.traced), t, micro)
      }

      val walls = untraced.map(_.wall)
      val opTimes = untraced.flatMap(_.ops.map(_.seconds))
      val tailValue = tail(untraced.map(_.ops.map(_.seconds)))
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", median(walls), "s"),
        ("query_p50_s", median(opTimes), "s"),
        ("query_tail_s", tailValue, "s"),
        ("out_bytes_per_src_byte", wl.outPerSrcByte(untraced), "ratio"))
      say(f"end-to-end, ${untraced.size} untraced passes, ${opTimes.size} operations:")
      say("  pass walls: " + walls.map(w => f"$w%.3f").mkString(" ") + " s")
      e2e.foreach { case (n, v, u) => say(f"  $n%-24s $v%12.4f $u") }
      say(s"  query_tail_s is the median of ${untraced.size} per-pass maxima")
      // JVM CPU per pass: reported, not gated; it spread more than the
      // wall times between runs on a host whose neighbours compete for it
      (("cpu_s", median(untraced.map(_.ops.map(_.cpuSeconds).sum)), "s") +: wl.report(untraced))
        .foreach { case (n, v, u) => say(f"  $n%-24s $v%12.4f $u") }
      say("median latency by operation:")
      untraced.flatMap(_.ops).groupBy(_.name).toSeq
        .map { case (n, ops) => n -> median(ops.map(_.seconds)) }.sortBy(-_._2)
        .foreach { case (n, t) => say(f"  $n%-32s $t%8.3f s") }

      val metrics = layer match {
        case None => e2e
        case Some(l) =>
          l.print(median(walls))
          l.metrics
      }
      layer.foreach(l => Files.writeString(o.work.resolve("trace.json"), l.tracing.trace.json))
      val opsJson = runner.passes.flatMap(p => p.ops.map(op =>
        s"""[${p.index},${p.traced},"${op.name}",${op.seconds},${op.cpuSeconds}]""")).mkString("[", ",", "]")
      val metricJson = metrics.map { case (n, v, u) =>
        s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
      }.mkString("{", ",", "}")
      Files.writeString(o.work.resolve("result.json"),
        s"""{"attempted":${runner.attempted + wl.attempted},""" +
          s""""failed":${runner.failed + wl.failed},"metrics":$metricJson,""" +
          s""""oracle":${wl.oracleJson},"ops":$opsJson}""" + "\n")
    } finally spark.stop()
  }
}

/** Runs timed passes and keeps their operations. */
final class Runner(spark: SparkSession, wl: Workload) {
  import Main._

  val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
  var attempted = 0L
  var failed = 0L

  def pass(index: Int, tracing: Option[Tracing]): Pass = {
    System.gc()
    val passId = s"pass$index"
    val before = wl.passStats()
    def body(parent: Int): Seq[Op] = wl.order(index).map { name =>
      val t0 = System.nanoTime()
      val c0 = cpuNanos
      val ran =
        try {
          tracing match {
            case None => wl.run(spark, name, None)
            case Some(t) => t.unit(parent, passId, s"op:$name", s"$passId:$name")(id =>
              wl.run(spark, name, Some(Ctx(t.trace, passId, id))))
          }
          true
        } catch { case e: Throwable =>
          say(s"FAILED $name in pass $index: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      val seconds = (System.nanoTime() - t0) / 1e9
      val cpuSeconds = (cpuNanos - c0) / 1e9
      def check() = ran && wl.check(spark, name)
      val ok = tracing.fold(check())(_.trace.span(parent, passId, s"check:$name")(_ => check()))
      val op = Op(index, name, seconds, cpuSeconds, ok)
      attempted += 1
      if (!op.ok) failed += 1
      op
    }
    val ops = tracing match {
      case None => body(0)
      case Some(t) => t.during(t.trace.span(0, passId, "pass")(body))
    }
    val after = wl.passStats()
    val p = Pass(index, tracing.isDefined, ops, ops.map(_.seconds).sum,
      after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
    passes += p
    p
  }
}

final case class Pass(index: Int, traced: Boolean, ops: Seq[Main.Op], wall: Double,
                      stats: Map[String, Double])
