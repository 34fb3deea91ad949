package graft
import org.apache.spark.sql.DataFrame
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Same session as Verify (ansi=false/UTC/AQE) so bench plans match the
    // correctness-checked plans.
    val spark = GraftSession.local()
    GraftSession.warm(spark, sfDir)
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Two runs, report the min: the first run pays one-time codegen/JIT
      // for that query's plan, the second measures the steady state a
      // real workload sees. A query that throws on EITHER run lands in
      // `failures`, never in `queries` — a flaky query's surviving run
      // is not a trustworthy measurement either.
      // Forced GC between queries (JMH-style hygiene): 88 earlier
      // queries leave broadcast/shuffle garbage whose async cleanup
      // otherwise lands inside THIS query's measured window — late
      // multi-stage queries were reading 3-4x their fresh-session
      // steady state.
      System.gc()
      val times = (1 to 2).map { _ =>
        try Some(noop(fn(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      name -> (if (times.forall(_.isDefined)) Some(times.flatten.min) else None)
    }
    val out = line(runs, sfDir)
    println(out)
    // sbt prefixes stdout with "[info] ", which breaks machine parsing of
    // the line above — also land it in a plain file the driver can read.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), out + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }

  /** Wall seconds `f` takes. */
  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to build `df` and compute every column of it into the noop
    * sink (count() would let Catalyst prune projections and skip real
    * work). */
  def noop(df: => DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())

  /** The one-line JSON result: seconds per successful query (`None` marks
    * a failed one), names sorted, failures listed apart, `total` the sum of
    * the successful times. */
  def line(runs: Seq[(String, Option[Double])], sfDir: String): String = {
    val sorted = runs.sortBy(_._1)
    val ok = sorted.collect { case (n, Some(t)) => n -> t }
    val failures = sorted.collect { case (n, None) => n }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failures":$fs,"sf":"$sfDir"}"""
  }
}
