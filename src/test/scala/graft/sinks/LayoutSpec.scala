package graft.sinks

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Layout: the z-value bit algebra, and the actual skipping payoff —
  * per-file min/max ranges of BOTH interleaved columns come out narrow,
  * versus single-column sort where the second column's ranges are
  * full-width in every file. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue2: bit interleave matches a reference implementation") {
    def ref(x: Long, y: Long, bits: Int): Long = {
      var z = 0L
      for (i <- 0 until bits) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (12345L, 54321L), (65536L, 1L) /* high bits beyond `bits` drop */)
    val got = cases.toDF("x", "y")
      .select(Layout.zValue2($"x", $"y", 16).as("z")).as[Long].collect()
    assert(got.toSeq == cases.map { case (x, y) => ref(x, y, 16) })
    // z-order locality: close (x, y) pairs get close z-values
    assert(ref(2L, 3L, 16) == 14L) // 10 interleave 11 -> 1110
  }

  test("zValue: N-column interleave, column j owns bits j, j+n, ...") {
    def ref(vals: Seq[Long], bits: Int): Long = {
      val n = vals.length
      var z = 0L
      for (j <- vals.indices; i <- 0 until bits)
        z |= ((vals(j) >> i) & 1L) << (n * i + j)
      z
    }
    val cases = Seq(Seq(1L, 0L, 0L), Seq(0L, 1L, 0L), Seq(0L, 0L, 1L),
      Seq(7L, 7L, 7L), Seq(12345L, 54321L, 11111L))
    val got = cases.map(c => c.head).zip(cases.map(c => c(1)))
      .zip(cases.map(c => c(2))).map { case ((a, b), c) => (a, b, c) }
      .toDF("a", "b", "c")
      .select(Layout.zValue(Seq($"a", $"b", $"c"), 16).as("z"))
      .as[Long].collect()
    assert(got.toSeq == cases.map(ref(_, 16)))
    // single column degenerates to the identity on the low bits
    assert(Seq(42L).toDF("a").select(Layout.zValue(Seq($"a"), 16).as("z"))
      .as[Long].head() == 42L)
    // 4 x 16 would need 64 bits: rejected
    intercept[IllegalArgumentException] {
      Layout.zValue(Seq($"a", $"a", $"a", $"a").map(_ => $"a"), 16)
    }
  }

  test("z-ordered files have narrow min/max on BOTH columns; sorted files do not") {
    // one input partition: repartitionByRange samples per input
    // partition (seeded by partition id), so boundaries — and thus the
    // per-file ranges asserted below — stay identical whether the suite
    // session planned the parquet scan into 1 or 32 splits
    val l = Tables.load(spark, sf("sf0.01"), "lineitem")
      .select($"l_partkey", $"l_suppkey").coalesce(1)
    val dirZ = java.nio.file.Files.createTempDirectory("graft_z").toString
    val dirS = java.nio.file.Files.createTempDirectory("graft_s").toString
    val nFiles = 16
    Layout.zorderWrite(l, "l_partkey", "l_suppkey", dirZ, nFiles)
    l.repartitionByRange(nFiles, $"l_partkey")
      .sortWithinPartitions($"l_partkey")
      .write.mode("overwrite").parquet(dirS)

    def fileRanges(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"l_partkey").as("p_lo"), max($"l_partkey").as("p_hi"),
        min($"l_suppkey").as("s_lo"), max($"l_suppkey").as("s_hi"))
      .as[(String, Long, Long, Long, Long)].collect()

    val (zr, sr) = (fileRanges(dirZ), fileRanges(dirS))
    // empty range partitions write no file — assert against the files
    // that exist, not the requested count
    assert(zr.length >= nFiles / 2 && sr.length >= nFiles / 2,
      s"${zr.length} z-files, ${sr.length} sorted files")
    val (pMax, sMax) = l.agg(max($"l_partkey"), max($"l_suppkey"))
      .as[(Long, Long)].head()

    // a point predicate on either column must touch FEWER z-ordered
    // files than files sorted on partkey alone touch for suppkey
    def touched(ranges: Seq[(String, Long, Long, Long, Long)],
                onPart: Boolean, v: Long): Int =
      ranges.count { case (_, pLo, pHi, sLo, sHi) =>
        if (onPart) pLo <= v && v <= pHi else sLo <= v && v <= sHi }
    val probes = Seq(pMax / 7, pMax / 3, pMax / 2, 2 * pMax / 3)
    probes.foreach { v =>
      // partkey-sorted layout: suppkey predicate touches every file
      assert(touched(sr.toSeq, onPart = false, v * sMax / pMax) == sr.length,
        "single-column sort leaves the second column unskippable")
      // z-order: both columns skip a real fraction of the files that
      // exist (5/8 leaves headroom for boundary shifts from the range
      // partitioner's sampling while still pinning real skipping)
      val tp = touched(zr.toSeq, onPart = true, v)
      val ts = touched(zr.toSeq, onPart = false, v * sMax / pMax)
      assert(tp <= zr.length * 5 / 8, s"partkey probe $v touched $tp/${zr.length} z-files")
      assert(ts <= zr.length * 5 / 8, s"suppkey probe touched $ts/${zr.length} z-files")
    }
  }

  test("statsManifest: footer min/max/null-count match the data, per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mf").toString
    Tables.load(spark, sf("sf0.001"), "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
      .repartitionByRange(4, $"o_orderkey")
      .sortWithinPartitions($"o_orderkey")
      .write.mode("overwrite").parquet(dir)
    val mf = Layout.statsManifest(spark, dir)
    // footer-claimed bounds == actual per-file bounds (exact ints)
    val actual = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"o_orderkey").as("lo"), max($"o_orderkey").as("hi"),
        min($"o_orderpriority").as("slo"), max($"o_orderpriority").as("shi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => localPath(r.getString(0)).toString ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getLong(5)))
      .toMap
    assert(actual.size == 4)
    val claimed = mf.collect().map(r => (localPath(r.getString(0)).toString,
      r.getString(2)) -> r).toMap
    actual.foreach { case (f, (lo, hi, slo, shi, n)) =>
      val num = claimed((f, "o_orderkey"))
      assert(num.getDouble(3) == lo.toDouble && num.getDouble(4) == hi.toDouble)
      assert(num.getLong(1) == n && num.getLong(7) == 0L)
      val str = claimed((f, "o_orderpriority"))
      assert(str.isNullAt(3) && str.isNullAt(4), "string col has no numeric bounds")
      assert(str.getString(5) == slo && str.getString(6) == shi)
    }
  }

  test("pruneFiles: excludes exactly the provably-missing files; prunedRead == full scan under the predicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pr").toString
    val li = Tables.load(spark, sf("sf0.01"), "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    li.repartitionByRange(8, $"l_orderkey").sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(dir)
    val mf = Layout.statsManifest(spark, dir, Seq("l_orderkey"))
    val (lo, hi) = li.agg(min($"l_orderkey"), max($"l_orderkey"))
      .as[(Long, Long)].head()
    val mid = (lo + hi) / 2
    val kept = Layout.pruneFiles(mf, "l_orderkey", lo.toDouble, mid.toDouble)
    val all = mf.select($"file").distinct().collect().map(_.getString(0))
    assert(kept.size < all.length, "range predicate must skip files")
    // exactness: a file survives iff its true range overlaps [lo, mid]
    val overlapping = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"l_orderkey").as("flo"), max($"l_orderkey").as("fhi"))
      .where($"fhi" >= lo && $"flo" <= mid)
      .collect().map(r => localPath(r.getString(0)).toString).toSet
    assert(kept.map(f => localPath(f).toString).toSet == overlapping)
    // the skipping read, plus the residual predicate, equals the truth
    val viaPrune = Layout.prunedRead(spark, dir, mf, "l_orderkey",
        lo.toDouble, mid.toDouble)
      .where($"l_orderkey".between(lo, mid))
    val truth = spark.read.parquet(dir).where($"l_orderkey".between(lo, mid))
    assert(viaPrune.exceptAll(truth).isEmpty && truth.exceptAll(viaPrune).isEmpty)
    // an all-pruned range returns the empty scan with the table schema
    val none = Layout.prunedRead(spark, dir, mf, "l_orderkey",
      hi.toDouble + 1e6, hi.toDouble + 2e6)
    assert(none.isEmpty && none.columns.toSeq ==
      Seq("l_orderkey", "l_partkey", "l_quantity"))
  }

  test("compact: bin-packs small files, preserves rows exactly, atomic-ish swap leaves no temp") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cp").toString
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    docs.repartition(16).write.mode("overwrite").parquet(dir)
    def files() = new java.io.File(dir).listFiles.toSeq
      .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(files().count(_.endsWith(".parquet")) == 16)
    val stats = Layout.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(stats.size == 1 && stats.head.filesBefore == 16 &&
      stats.head.filesAfter == 1)
    val after = files()
    assert(after.count(_.endsWith(".parquet")) == 1 &&
      after.forall(_.startsWith("compacted-")), after.toString)
    assert(!new java.io.File(dir, "_graft_compact_tmp").exists)
    val back = spark.read.parquet(dir)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // idempotent: a second pass is a no-op (already at the bin count)
    val again = Layout.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(again.head.filesBefore == 1 && again.head.filesAfter == 1)
    assert(files() == after)
  }

  test("storageReport: per-column shares from footers alone; text dominates documents") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sr").toString
    Tables.load(spark, sf("sf0.01"), "documents")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val rep = Layout.storageReport(spark, dir).collect()
    assert(rep.map(_.getString(0)).toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars"))
    // shares are a probability vector and text is the heavy column
    assert(math.abs(rep.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    assert(rep.head.getString(0) == "text" && rep.head.getDouble(2) > 0.5,
      rep.map(r => (r.getString(0), r.getDouble(2))).mkString(", "))
    assert(rep.forall(r => r.getDouble(3) > 0 && r.getDouble(4) == 0.0))
  }

  test("compact: hive-partitioned layout compacts leaf-by-leaf, partition values intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cph").toString
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    docs.repartition(6).write.mode("overwrite").partitionBy("lang").parquet(dir)
    val stats = Layout.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(stats.nonEmpty && stats.forall(s => s.dir.contains("lang=")))
    assert(stats.forall(_.filesAfter == 1), stats.toString)
    val back = spark.read.parquet(dir).select(docs.columns.map(col): _*)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("pruneFilesStr: bounds containing surrogates — including PAIRED emoji — are treated as absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prstr").toString
    // one file keyed entirely in the supplementary plane (paired
    // surrogates in UTF-16), one in plain ASCII
    Seq("🙂 a", "🙂 b").toDF("k")
      .coalesce(1).write.parquet(s"$dir/emoji")
    Seq("aa", "ab").toDF("k").coalesce(1).write.parquet(s"$dir/plain")
    def parts(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    val manifest = Layout.statsManifestFiles(spark,
      parts("emoji") ++ parts("plain"), Seq("k"))
    // probe range in U+FFFD..U+FFFF: ABOVE the emoji bounds in UTF-16
    // code-unit order (\ud83d < �) but BELOW them in the footer's
    // UTF-8 byte order — the exact regime divergence the guard exists
    // for. A regex-class guard never fires on paired surrogates (Java
    // regexes match code POINTS), so only a char-wise check keeps the
    // emoji file.
    val kept = Layout.pruneFilesStr(manifest, "k", "\ufffd", "\uffff")
    assert(kept.exists(_.contains("emoji")),
      s"surrogate-bearing bounds must be treated as absent (file kept): $kept")
    assert(!kept.exists(_.contains("plain")),
      s"the ASCII file is provably out of range and must prune: $kept")
  }

  test("pruneFilesStr: a query bound past the BMP keeps every file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prstr").toString
    Seq("\ue000", "\ue000").toDF("k").coalesce(1).write.parquet(s"$dir/t")
    val parts = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    // U+E000 < U+1F600 by code point and in Spark's UTF-8 byte order,
    // but its UTF-16 unit sorts above the emoji's high surrogate
    assert(spark.read.parquet(s"$dir/t")
      .where($"k".between("a", "\ud83d\ude00")).count() == 2)
    val kept = Layout.pruneFilesStr(
      Layout.statsManifestFiles(spark, parts, Seq("k")), "k", "a", "\ud83d\ude00")
    assert(parts.size == 1 && kept.size == 1, kept)
  }
}
