package graft.tools

import graft.GraftSession
import graft.sinks.Snapshots
import graft.Bench.{noop, seconds}
import org.apache.spark.sql.SparkSession

/** Dev tool: measured evidence for the snapshot log's operational
  * claims (SURVEY §6.1 rows; re-run to reproduce).
  *
  *   sbt "runMain graft.tools.SnapBench writers"    # concurrent commit throughput
  *   sbt "runMain graft.tools.SnapBench polls"      # addedSince vs log length
  *   sbt "runMain graft.tools.SnapBench clusup <sfDir>"    # clustered vs spread upsert
  *   sbt "runMain graft.tools.SnapBench clusupstr <sfDir>" # …on a STRING key
  *   sbt "runMain graft.tools.SnapBench schemaread" # plan cost: logged schema+sizes
  *   sbt "runMain graft.tools.SnapBench statsearch" # prune cost: log bounds vs footers
  *   sbt "runMain graft.tools.SnapBench skipscan"   # end-to-end data-skipping latency
  *   sbt "runMain graft.tools.SnapBench entrycost"  # entry bytes/commit wall vs file count
  *
  * `writers`: the same append workload (16 one-row commits) run by ONE
  * thread, then by FOUR concurrent threads (4 × 4), on fresh tables.
  * Asserts zero lost deltas (every landed file referenced by the final
  * version — the r16 rebase guarantee) and prints both wall clocks.
  * Commits SERIALIZE on the version sequence by design (optimistic
  * exclusive publication), so the expected result is aggregate
  * throughput ≥ the single-writer rate — the data landing overlaps,
  * the pointer flip does not — with no correctness cliff.
  *
  * `polls`: builds tables of 25 and 200 commits and times
  * `addedSince(latest-1)` plan construction + count on each. Since
  * r18 entries are DELTAS with a checkpoint sidecar every N commits,
  * so the poll reads one checkpoint + ≤N small deltas regardless of
  * history length — the printed times should be flat in commit count
  * (the 10^5-micro-batch ingest poll shape). */
object SnapBench {
  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_snapbench").toString
    new java.io.File(d).delete(); d
  }

  /** Median wall seconds of five runs of `f`. */
  private def median5(f: => Unit): Double =
    (1 to 5).map(_ => seconds(f)).sorted.apply(2)

  /** Replace a table's `v00001.json` with `entry`. */
  private def writeV1(dir: String, entry: Array[Byte]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_graft_log",
      "v00001.json"), entry)

  /** Rewrite a one-commit table's entry without its per-file bounds. */
  private def stripStats(spark: SparkSession, dir: String): Unit = {
    val v1 = Snapshots.versions(spark, dir).head
    require(v1.stats.isDefined, "entry had no stats block")
    writeV1(dir, Snapshots.renderEntry(1, v1.op,
      v1.dataFiles.map(_.copy(stats = Snapshots.FileStats.empty)),
      Some(Nil), v1.schema))
  }

  private def frame(spark: SparkSession, i: Int) = {
    import spark.implicits._
    Seq((i.toLong, s"row $i")).toDF("id", "text")
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "writers"
    val spark = GraftSession.local()
    noop(spark.range(10000).selectExpr("sum(id)")) // warm codegen
    mode match {
      case "writers" => writers(spark)
      case "polls" => polls(spark)
      case "clusup" => clusup(spark, args(1), stringKey = false)
      case "clusupstr" => clusup(spark, args(1), stringKey = true)
      case "schemaread" => schemaread(spark)
      case "statsearch" => statsearch(spark)
      case "skipscan" => skipscan(spark)
      case "entrycost" => entrycost(spark)
      case other => System.err.println(s"unknown mode: $other")
    }
    spark.stop()
  }

  /** `statsearch`: what log-resident bounds buy a PRUNING OP at 256
    * files — the r17 sibling of the `schemaread` row. The same
    * key-range prune (the [[Snapshots.upsert]]/deleteKeys touched-file
    * SEARCH) runs once against the entry's logged bounds (zero
    * filesystem calls) and once with the stats stripped from the entry
    * (the legacy per-op footer-manifest pass: one footer round trip
    * per candidate file — on an object store, one NETWORK round trip
    * per file per operation). */
  private def statsearch(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = freshDir()
    val rows = (0 until 65536).map(i => (i.toLong, s"row $i")).toDF("id", "text")
    Snapshots.writeAppend(rows.repartitionByRange(256, col("id")), dir)
    val files = Snapshots.versions(spark, dir).head.files.size
    def timePrune(): Double = median5 {
      val kept = Snapshots.prunedRead(spark, dir, "id", 1000, 1999)
        .inputFiles.length
      require(kept <= 8, s"prune failed: $kept files kept")
    }
    Snapshots.read(spark, dir).count() // warm
    timePrune() // warm the prune path itself
    val logSec = timePrune()
    // strip the stats block: the SAME question now pays the footer pass
    stripStats(spark, dir)
    timePrune() // warm
    val footerSec = timePrune()
    println(f"""{"metric":"prune_search_sec","files":$files,"log_stats_sec":$logSec%.3f,"footer_stats_sec":$footerSec%.3f,"speedup":${footerSec / logSec}%.1f}""")
  }

  /** `skipscan`: END-TO-END filtered query latency with data skipping
    * (the r17 listFiles bound pruning) vs without (stats stripped —
    * every file opens, parquet row-group pruning only): the same
    * selective count over a 256-file clustered table. `statsearch`
    * measures the PRUNE decision; this measures what the decision
    * saves the whole query. */
  private def skipscan(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = freshDir()
    val rows = (0 until 65536).map(i => (i.toLong, s"row $i")).toDF("id", "text")
    Snapshots.writeAppend(rows.repartitionByRange(256, col("id")), dir)
    def timeQ(): Double = median5 {
      val n = Snapshots.read(spark, dir)
        .where(col("id") >= 1000 && col("id") <= 1999).count()
      require(n == 1000, s"wrong count: $n")
    }
    timeQ() // warm
    val skipSec = timeQ()
    stripStats(spark, dir)
    timeQ() // warm
    val fullSec = timeQ()
    println(f"""{"metric":"skip_scan_sec","files":256,"with_skipping_sec":$skipSec%.3f,"without_sec":$fullSec%.3f,"speedup":${fullSec / skipSec}%.1f}""")
  }

  /** `entrycost`: the judged question behind "flat-cost commits" —
    * since r18 a commit writes a DELTA entry (the batch's adds +
    * removes), so one one-row append onto a table of N files writes
    * O(batch) bytes whatever N is; the predecessor still PARSES as the
    * base (O(N) read — amortized to every-checkpoint by the sidecar
    * scheme on real logs). This measures exactly that commit path at
    * N = 10^2/10^3/10^4 by fabricating the predecessor entry (file
    * NAMES, sizes, and per-file bounds — the commit never opens base
    * data files, so the fabrication measures the true metadata cost)
    * and timing a real `writeAppend` of one row on top. The judged
    * expectation flipped in r18: entry_bytes should now be FLAT in
    * file count (it was ~118 B/file before). */
  private def entrycost(spark: SparkSession): Unit = {
    import spark.implicits._
    def run(n: Int): (Long, Double) = {
      val dir = freshDir()
      new java.io.File(dir, "_graft_log").mkdirs()
      val schema = Seq((0L, "x")).toDF("id", "text").schema
      val files = (0 until n).map(i => Snapshots.DataFile(
        f"fab$i%08x-00000.parquet", 1048576L, Snapshots.FileStats(100, Map(
          "id" -> Snapshots.NumStat(i * 100, i * 100 + 99, Some(0)),
          "text" -> Snapshots.StrStat("row", "roy", Some(0))))))
      writeV1(dir, Snapshots.renderEntry(1, "append", files, None, Some(schema)))
      val sec = seconds(require(
        Snapshots.writeAppend(Seq((1L, "row")).toDF("id", "text"), dir) == 2))
      val bytes = new java.io.File(new java.io.File(dir, "_graft_log"),
        "v00002.json").length
      (bytes, sec)
    }
    run(100) // warm codegen + parquet write path once
    val out = Seq(100, 1000, 10000).map { n =>
      val (bytes, sec) = run(n)
      s""""files_$n":{"entry_bytes":$bytes,"commit_sec":${f"$sec%.3f"}}"""
    }
    println(s"""{"metric":"entry_cost_vs_file_count",${out.mkString(",")}}""")
  }

  /** `clusup <sfDir>`: the SAME fixed 100-key update batch upserted
    * into the documents corpus twice — once key-CLUSTERED
    * (optimizeZorderN on the key), once hash-spread — at whatever scale
    * `sfDir` holds (sf0.1, /tmp/scale_x10, /tmp/scale_x100). With
    * range-pruned touched-file search (log-resident bounds since r17)
    * + range clustering, the clustered upsert's scan AND rewrite are
    * bounded by the key range (flat across scales); the spread layout
    * pays the corpus-wide worst case q240 documents. Prints seconds +
    * files rewritten. `clusupstr` runs the identical shape on a
    * DERIVED STRING key (`doc-%08d`) — the doc-id/UUID key shape the
    * r16 numeric-only prune could not bound. */
  private def clusup(spark: SparkSession, sfDir: String,
                     stringKey: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val (docs, key) =
      if (stringKey)
        (raw.withColumn("doc_key", concat(lit("doc-"),
          lpad(col("doc_id").cast("string"), 12, "0"))), "doc_key")
      else (raw, "doc_id")
    val lo = raw.agg(min(col("doc_id"))).head().getLong(0)
    val updates = docs.where(col("doc_id") < lo + 100)
      .withColumn("n_chars", col("n_chars") + 1)
    def run(cluster: Boolean): (Double, Int, Int) = {
      val dir = freshDir()
      Snapshots.writeOverwrite(docs.repartition(32, col(key)), dir)
      if (cluster)
        Snapshots.optimizeZorderN(spark, dir, Seq(key), 4L * 1024 * 1024)
      val before = Snapshots.versions(spark, dir).last
      val sec = seconds(Snapshots.upsert(updates, dir, key))
      val after = Snapshots.versions(spark, dir).last
      val rewritten = before.files.count(f => !after.files.contains(f))
      (sec, rewritten, before.files.size)
    }
    run(cluster = true); run(cluster = false) // discard: codegen/IO warmup
    val (cSec, cRew, cTot) = run(cluster = true)
    val (sSec, sRew, sTot) = run(cluster = false)
    val metric = if (stringKey) "clustered_upsert_string_key"
      else "clustered_upsert"
    println(f"""{"metric":"$metric%s","sf_dir":"$sfDir","clustered_sec":$cSec%.2f,"clustered_files_rewritten":$cRew,"clustered_files_total":$cTot,"spread_sec":$sSec%.2f,"spread_files_rewritten":$sRew,"spread_files_total":$sTot}""")
  }

  /** `schemaread`: what logging the schema buys at PLAN time — a
    * 256-file table read through the logged schema (r19 reads) vs the
    * legacy footer-union path (schema stripped from the entry, the
    * pre-r19 `mergeSchema` read). The gap is the distributed
    * footer-merge job the log eliminates; it grows with file count, so
    * at 10^5-file estates it is the difference between a metadata read
    * and a cluster job per plan. */
  private def schemaread(spark: SparkSession): Unit = {
    import spark.implicits._
    val dir = freshDir()
    val rows = (1 to 4096).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
    Snapshots.writeAppend(rows.repartition(256), dir)
    // time PLAN construction only — `spark.read.parquet` resolves the
    // schema eagerly, so this isolates exactly the metadata cost the
    // logged schema removes (the scan itself is identical both ways)
    def timePlan(): Double = median5(
      require(Snapshots.read(spark, dir).schema.fieldNames.length == 2))
    Snapshots.read(spark, dir).count() // warm
    val zeroStat = timePlan() // schema + sizes logged: no FS call at all
    val entry = Snapshots.versions(spark, dir).head
    def rewrite(keepSchema: Boolean): Unit =
      writeV1(dir, Snapshots.renderEntry(1, "append",
        entry.files.map(Snapshots.DataFile(_)), None,
        entry.schema.filter(_ => keepSchema)))
    // strip sizes only: explicit-schema read, one getFileStatus per file
    rewrite(keepSchema = true)
    Snapshots.read(spark, dir).count() // warm
    val statted = timePlan()
    // strip both: the pre-r19 footer-union path
    rewrite(keepSchema = false)
    Snapshots.read(spark, dir).count() // warm
    val merged = timePlan()
    println(f"""{"metric":"schema_from_log_plan","files":256,"zero_stat_sec":$zeroStat%.3f,"per_file_stat_sec":$statted%.3f,"footer_union_sec":$merged%.3f,"speedup_vs_footer":${merged / zeroStat}%.2f,"speedup_vs_stat":${statted / zeroStat}%.2f}""")
  }

  private def writers(spark: SparkSession): Unit = {
    // single-writer baseline: 16 sequential appends
    val seqDir = freshDir()
    Snapshots.writeAppend(frame(spark, 0), seqDir)
    val seqSec = seconds(
      (1 to 16).foreach(i => Snapshots.writeAppend(frame(spark, i), seqDir)))
    // four concurrent writers, 4 appends each
    val conDir = freshDir()
    Snapshots.writeAppend(frame(spark, 0), conDir)
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val errs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val conSec = seconds {
      val threads = (0 until 4).map { w =>
        new Thread(() => {
          try {
            barrier.await()
            (1 to 4).foreach(i => Snapshots.writeAppend(
              frame(spark, w * 100 + i), conDir))
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(600000))
    }
    require(errs.isEmpty, errs.toString)
    val vs = Snapshots.versions(spark, conDir)
    require(vs.map(_.version) == (1 to 17), s"versions: ${vs.map(_.version)}")
    val finalFiles = vs.last.files.toSet
    vs.foreach(v => require(v.files.toSet.subsetOf(finalFiles),
      s"lost delta at v${v.version}"))
    val rows = Snapshots.read(spark, conDir).count()
    require(rows == 17, s"expected 17 rows, got $rows")
    println(f"""{"metric":"snapshot_commit_throughput","sequential_16_sec":$seqSec%.2f,"concurrent_4x4_sec":$conSec%.2f,"seq_commits_per_sec":${16 / seqSec}%.2f,"con_commits_per_sec":${16 / conSec}%.2f,"lost_deltas":0}""")
  }

  private def polls(spark: SparkSession): Unit = {
    def build(commits: Int): String = {
      val dir = freshDir()
      (1 to commits).foreach(i => Snapshots.writeAppend(frame(spark, i), dir))
      dir
    }
    def poll(dir: String, commits: Int): Double = {
      // warm once, then median of 5
      Snapshots.addedSince(spark, dir, commits - 1).count()
      median5 {
        val n = Snapshots.addedSince(spark, dir, commits - 1).count()
        require(n == 1, s"delta rows: $n")
      }
    }
    val d25 = build(25)
    val d200 = build(200)
    val p25 = poll(d25, 25)
    val p200 = poll(d200, 200)
    println(f"""{"metric":"addedSince_poll_sec","commits_25":$p25%.3f,"commits_200":$p200%.3f,"ratio_200_over_25":${p200 / p25}%.2f}""")
  }
}
