package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round 17: per-file column bounds IN THE LOG ENTRY (the Delta
  * per-file `stats` idea, the sizes-in-the-log precedent extended).
  * What these tests pin:
  *  - land() logs min/max for numeric AND string columns; pruning
  *    reads them with ZERO filesystem calls and the prune SET equals
  *    the footer-manifest path's on the same table;
  *  - string-key touched-file search is bounded on a clustered table
  *    (the q245 win finally reaching the doc-id/UUID key shape);
  *  - truncated string bounds stay SOUND (upper bound incremented);
  *  - non-BMP bounds are dropped, never compared across the UTF-8 /
  *    UTF-16 order divide;
  *  - stats survive rebases and splice through rewrites;
  *  - `spark.graft.snapshots.statsColumns` pins or disables the set. */
class SnapshotStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_snapstats").toString
    new java.io.File(d).delete()
    d
  }

  private def frame(n: Int) =
    (0 until n).map(i => (i.toLong, f"doc-$i%05d", s"body $i"))
      .toDF("id", "key", "text")

  /** Strip the stats block from a committed entry — flips the SAME
    * table onto the legacy footer-manifest path for the equality
    * differential. */
  private def stripStats(dir: String, version: Int): Unit = {
    val f = new java.io.File(new java.io.File(dir, "_graft_log"),
      f"v$version%05d.json")
    val s = java.nio.file.Files.readString(f.toPath)
    // stop at the NEXT entry key — delta entries carry a "remove"
    // block between stats and schema that must survive the strip
    val stripped = s.replaceAll(""","stats":\[.*?\](?=,"(remove|schema)")""", "")
    assert(stripped != s, "entry had no stats block to strip")
    java.nio.file.Files.writeString(f.toPath, stripped)
    val snap = Snapshots.versions(spark, dir).find(_.version == version).get
    assert(snap.stats.isEmpty, "strip must land on the no-stats parse path")
  }

  test("land logs numeric AND string bounds; prune set equals the footer path's") {
    val dir = freshDir()
    Snapshots.writeOverwrite(
      frame(400).repartitionByRange(8, $"id"), dir)
    val snap = Snapshots.versions(spark, dir).last
    val dfs = snap.dataFiles
    assert(dfs.nonEmpty && dfs.forall(!_.stats.isEmpty), "bounds logged per file")
    dfs.foreach { f =>
      assert(f.stats.cols.get("id").exists(_.isInstanceOf[Snapshots.NumStat]),
        s"${f.name}: ${f.stats}")
      assert(f.stats.cols.get("key").exists(_.isInstanceOf[Snapshots.StrStat]))
      assert(f.stats.cols.get("text").isDefined)
    }
    // log-stats prune vs footer prune: SAME files kept, numeric + string
    def kept(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split('/').last).toSet
    val logNum = kept(Snapshots.prunedRead(spark, dir, "id", 10, 40))
    val logStr = kept(Snapshots.prunedReadStr(spark, dir, "key",
      "doc-00010", "doc-00040"))
    stripStats(dir, snap.version)
    val footNum = kept(Snapshots.prunedRead(spark, dir, "id", 10, 40))
    val footStr = kept(Snapshots.prunedReadStr(spark, dir, "key",
      "doc-00010", "doc-00040"))
    assert(logNum == footNum, s"num prune sets diverge: $logNum vs $footNum")
    assert(logStr == footStr, s"str prune sets diverge: $logStr vs $footStr")
    assert(logNum.size < dfs.size, "the range must actually prune")
    assert(logStr.size < dfs.size)
  }

  test("zero-IO pruning: log-stats prunedRead plans without touching data-file footers") {
    val dir = freshDir()
    Snapshots.writeOverwrite(frame(400).repartitionByRange(8, $"id"), dir)
    // make every data file unreadable as a FOOTER by moving it away;
    // the entry alone must still answer the pruning question (the
    // returned scan would fail — we only exercise plan-time pruning)
    val snap = Snapshots.versions(spark, dir).last
    val pruned = Snapshots.prunedRead(spark, dir, "id", 10, 40)
    assert(pruned.inputFiles.nonEmpty)
    // footer path on the same question WOULD need the files: prove the
    // log path never opened one by pointing the prune at a table root
    // whose data files are renamed aside
    val hidden = freshDir()
    new java.io.File(hidden).mkdirs()
    val rootFiles = new java.io.File(dir).listFiles
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    rootFiles.foreach(f => assert(f.renameTo(
      new java.io.File(hidden, f.getName))))
    try {
      val prunedBlind = Snapshots.prunedRead(spark, dir, "id", 10, 40)
      assert(prunedBlind.inputFiles.map(_.split('/').last).toSet ==
        pruned.inputFiles.map(_.split('/').last).toSet,
        "pruning must read bounds from the entry, not from footers")
    } finally rootFiles.foreach(f => assert(new java.io.File(hidden,
      f.getName).renameTo(f)))
    assert(Snapshots.versions(spark, dir).last.version == snap.version)
  }

  test("string-key upsert rewrites only the files its key range hits (clustered)") {
    val dir = freshDir()
    Snapshots.writeOverwrite(
      frame(400).repartitionByRange(8, $"key"), dir)
    val before = Snapshots.versions(spark, dir).last
    assert(before.files.size >= 6, s"need a spread table: ${before.files.size}")
    val updates = frame(400).where($"id" < 20)
      .withColumn("text", concat($"text", lit("!")))
    Snapshots.upsert(updates, dir, "key")
    val after = Snapshots.versions(spark, dir).last
    val rewritten = before.files.count(f => !after.files.contains(f))
    assert(rewritten <= 2,
      s"contiguous string-key batch must touch a bounded file set: " +
        s"$rewritten of ${before.files.size} rewritten")
    // and the values are right
    val got = Snapshots.read(spark, dir).where($"id" < 20)
      .select($"text").as[String].collect()
    assert(got.length == 20 && got.forall(_.endsWith("!")))
  }

  test("string-key deleteKeys prunes candidates the same way") {
    val dir = freshDir()
    Snapshots.writeOverwrite(
      frame(400).repartitionByRange(8, $"key"), dir)
    val before = Snapshots.versions(spark, dir).last
    val doomed = frame(400).where($"id" between(100, 119)).select($"key")
    assert(Snapshots.deleteKeys(spark, dir, "key", doomed).isDefined)
    val after = Snapshots.versions(spark, dir).last
    val rewritten = before.files.count(f => !after.files.contains(f))
    assert(rewritten <= 2, s"$rewritten of ${before.files.size} rewritten")
    assert(Snapshots.read(spark, dir).count() == 380)
  }

  test("truncated string bounds stay sound: long shared-prefix values prune correctly") {
    val dir = freshDir()
    val longPrefix = "a" * 70 // > the 64-char cap; truncated max must bump
    val df = (0 until 50).map(i => (i.toLong, f"$longPrefix$i%03d"))
      .toDF("id", "key")
    Snapshots.writeOverwrite(df, dir)
    val st = Snapshots.versions(spark, dir).last.dataFiles.head
      .stats.cols("key").asInstanceOf[Snapshots.StrStat]
    assert(st.min == "a" * 64, "min is the plain truncation prefix")
    assert(st.max == "a" * 63 + "b",
      s"max is the prefix with the last char bumped: '${st.max}'")
    // sound: a probe past the bumped upper bound prunes the file...
    assert(Snapshots.prunedReadStr(spark, dir, "key", "b", "c")
      .inputFiles.isEmpty)
    // ...a probe AT the real values does not (superset guarantee) and
    // the re-applied predicate returns the right rows
    val hit = Snapshots.prunedReadStr(spark, dir, "key",
      longPrefix + "010", longPrefix + "019")
      .where($"key" >= longPrefix + "010" && $"key" <= longPrefix + "019")
    assert(hit.count() == 10)
  }

  test("non-BMP string values drop the stat (order-regime guard) — never mis-pruned") {
    val dir = freshDir()
    val df = Seq((1L, "emoji 😀 key"), (2L, "plain key"))
      .toDF("id", "key")
    Snapshots.writeOverwrite(df.coalesce(1), dir)
    val st = Snapshots.versions(spark, dir).last.dataFiles.head.stats.cols
    assert(!st.get("key").exists(_.isInstanceOf[Snapshots.StrStat]),
      s"supplementary-plane BOUNDS must not be logged: $st")
    // the null count still rides (r17: a bound-less NullStat) — it
    // prunes IS (NOT) NULL without ever comparing across order regimes
    assert(st.get("key").forall(_.nulls.contains(0L)), st.toString)
    assert(st.get("id").isDefined, "the numeric column still logs")
    // the file is kept for ANY string range — correctness over pruning
    assert(Snapshots.prunedReadStr(spark, dir, "key", "a", "b")
      .inputFiles.nonEmpty)
  }

  test("stats ride through rebases and splice through rewrites") {
    val dir = freshDir()
    Snapshots.writeAppend(frame(100), dir)
    Snapshots.writeAppend(
      (100 until 200).map(i => (i.toLong, f"doc-$i%05d", s"body $i"))
        .toDF("id", "key", "text"), dir)
    val v2 = Snapshots.versions(spark, dir).last
    assert(v2.dataFiles.forall(!_.stats.isEmpty),
      "both appends' bounds present after the rebase-shaped union")
    // a CoW delete touching one end: untouched files keep their logged
    // bounds verbatim, the rewritten file gets fresh ones
    Snapshots.deleteWhere(spark, dir, $"id" === 150)
    val v3 = Snapshots.versions(spark, dir).last
    assert(v3.dataFiles.forall(!_.stats.isEmpty))
    val untouchedNames = v2.dataFiles.map(f => f.name -> f.stats).toMap
    v3.dataFiles.filter(f => untouchedNames.contains(f.name)).foreach(f =>
      assert(f.stats == untouchedNames(f.name), s"${f.name} bounds drifted"))
  }

  test("importDir adoption is heterogeneous-safe: a file lacking a statted column is UNKNOWN, never empty") {
    val dir = freshDir()
    // two adopted files: one predates the 'id' column entirely — the
    // multi-year-corpus shape; pin stats to 'id' so the old file has
    // NO manifest rows at all
    (0 until 50).map(i => (i.toLong, s"d $i")).toDF("id", "text")
      .coalesce(1).write.parquet(dir)
    Seq("old doc").toDF("text").coalesce(1)
      .write.mode("append").parquet(dir)
    spark.conf.set("spark.graft.snapshots.statsColumns", "id")
    try Snapshots.importDir(spark, dir)
    finally spark.conf.unset("spark.graft.snapshots.statsColumns")
    val dfs = Snapshots.versions(spark, dir).last.dataFiles
    val legacy = dfs.find(_.stats.cols.isEmpty).get
    assert(legacy.stats.rows == -1L,
      s"absence of statted columns must read as UNKNOWN, not empty: $legacy")
    // the legacy file's row survives EVERY filtered read — rows=0
    // inference here would have silently dropped it
    assert(Snapshots.read(spark, dir).where($"text" === "old doc").count() == 1)
    assert(Snapshots.read(spark, dir).count() == 51)
    assert(Snapshots.countRows(spark, dir).isEmpty,
      "metadata count must refuse while any file's rows are unknown")
  }

  test("Infinity bounds degrade to a null-count stat — the entry stays parseable") {
    val dir2 = freshDir()
    Snapshots.writeAppend(
      Seq((1L, 1.5), (2L, Double.PositiveInfinity)).toDF("id", "score")
        .coalesce(1), dir2)
    val snap = Snapshots.versions(spark, dir2).last
    assert(snap.stats.isDefined, "stats block must survive the render")
    val st = snap.dataFiles.head.stats
    assert(!st.cols.get("score").exists(_.isInstanceOf[Snapshots.NumStat]),
      s"JSON has no number for an infinite bound: $st")
    assert(st.cols.get("id").isDefined && st.rows == 2,
      "the finite column and the row count still log")
  }

  test("case-variant stats resolve: bounds logged as 'ID' prune a search on 'id'") {
    val dir = freshDir()
    Snapshots.writeAppend(
      (0 until 50).map(i => (i.toLong, s"a $i")).toDF("id", "text")
        .coalesce(1), dir)
    // a second writer spells the key 'ID' — same column under Spark's
    // case-insensitive resolution; its bounds log under its casing
    Snapshots.writeAppend(
      (100 until 150).map(i => (i.toLong, s"b $i")).toDF("ID", "text")
        .coalesce(1), dir)
    val kept = Snapshots.prunedRead(spark, dir, "id", 0, 49).inputFiles
    assert(kept.length == 1,
      s"the 'ID'-statted file must prune out of an 'id' range search: " +
        s"${kept.length} kept")
    assert(Snapshots.read(spark, dir).where($"id" >= 100).count() == 50)
  }

  test("mixed legacy+fresh: stat-less files still footer-prune (subset manifest)") {
    val dir = freshDir()
    // v1: a pre-r17 writer (stats disabled) lands CLUSTERED files
    spark.conf.set("spark.graft.snapshots.statsColumns", "")
    try Snapshots.writeAppend(
      (0 until 400).map(i => (i.toLong, s"d $i")).toDF("id", "text")
        .repartitionByRange(8, $"id"), dir)
    finally spark.conf.unset("spark.graft.snapshots.statsColumns")
    // v2: one fresh statted append — must NOT disable the footer
    // pruning the legacy files had
    Snapshots.writeAppend(
      Seq((1000L, "fresh")).toDF("id", "text"), dir)
    val total = Snapshots.versions(spark, dir).last.files.size
    val kept = Snapshots.prunedRead(spark, dir, "id", 0, 49).inputFiles.length
    assert(kept < total - 1,
      s"legacy files must footer-prune in a mixed table: $kept of $total kept")
    // and correctness holds
    assert(Snapshots.prunedRead(spark, dir, "id", 0, 49)
      .where($"id" <= 49).count() == 50)
  }

  test("statsColumns config pins the set; empty string disables stats") {
    val dir1 = freshDir(); val dir2 = freshDir()
    spark.conf.set("spark.graft.snapshots.statsColumns", "id")
    try {
      Snapshots.writeAppend(frame(10), dir1)
      val st = Snapshots.versions(spark, dir1).last.dataFiles.head.stats.cols
      assert(st.keySet == Set("id"), st.toString)
    } finally spark.conf.unset("spark.graft.snapshots.statsColumns")
    spark.conf.set("spark.graft.snapshots.statsColumns", "")
    try {
      Snapshots.writeAppend(frame(10), dir2)
      assert(Snapshots.versions(spark, dir2).last.stats.isEmpty,
        "empty config must disable the stats block entirely")
    } finally spark.conf.unset("spark.graft.snapshots.statsColumns")
  }

  test("statsColumns config resolves case-insensitively, like the rest of the stats system") {
    val dir = freshDir()
    // the config says 'ID'; the table spells it 'id' — same column
    // under Spark's resolution, so its bounds must still log (a
    // case-SENSITIVE match would silently log nothing and every prune
    // would degrade to a full scan)
    spark.conf.set("spark.graft.snapshots.statsColumns", "ID")
    try {
      Snapshots.writeAppend(frame(10), dir)
      val st = Snapshots.versions(spark, dir).last.dataFiles.head.stats.cols
      assert(st.keySet == Set("id"),
        s"'ID' config must select the 'id' column: $st")
    } finally spark.conf.unset("spark.graft.snapshots.statsColumns")
  }
}
