package graft.operators

import graft.{SparkSpec, Tables}
import graft.sinks.Bucketing
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A crash inside a staged rewrite's drop/rename window leaves a store
  * table only under its staging name. Every store family's next open or
  * append completes the swap and sees the committed rows, instead of
  * throwing NoSuchTableException until the same rewrite is rerun. */
class StoreSwapSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf(), "documents")
  private lazy val emb = Tables.load(spark, sf(), "embeddings")
    .filter($"vec_id" < 120).select($"vec_id", $"embedding")

  private val stagings = Seq("__rewriting", "__compacting", "__rebucketing")

  private def drop(tables: String*): Unit =
    for (t <- tables; s <- "" +: stagings) spark.sql(s"DROP TABLE IF EXISTS `$t$s`")

  private def rows(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).toSeq.sorted

  /** Leaves `t` as a drop/rename crash does: only the staging copy. */
  private def interrupt(t: String, staging: String): Unit = {
    spark.sql(s"ALTER TABLE `$t` RENAME TO `$t$staging`")
    assert(!spark.catalog.tableExists(t))
  }

  /** Writes a store, snapshots `tables`, leaves each under `staging`,
    * runs `reopen`, and checks the swap finished with the same rows. */
  private def recovers(staging: String, tables: String*)(write: => Unit)(
      reopen: => Unit): Unit =
    try {
      drop(tables: _*)
      write
      val before = tables.map(rows)
      tables.foreach(interrupt(_, staging))
      reopen
      tables.foreach { t =>
        assert(spark.catalog.tableExists(t), t)
        stagings.foreach(s => assert(!spark.catalog.tableExists(t + s), t + s))
      }
      assert(tables.map(rows) == before)
    } finally drop(tables: _*)

  test("fingerprint store: an append completes an interrupted swap") {
    recovers("__compacting", "swap_fp")(
      Dedup.writeFingerprintStore(docs, "text", "swap_fp", 4))(
      Dedup.appendToFingerprintStore(docs, "text", "swap_fp"))
  }

  test("signature store: an append completes an interrupted swap") {
    recovers("__rewriting", "swap_sig")(
      Dedup.writeSignatureStore(docs, "text", "swap_sig", 4))(
      Dedup.appendToSignatureStore(docs, "text", "swap_sig"))
  }

  test("span store: an append completes an interrupted swap") {
    recovers("__rebucketing", "swap_span")(
      Spans.writeSpanStore(docs, "text", "swap_span", 4))(
      Spans.appendToSpanStore(docs, "text", "swap_span"))
  }

  test("postings store: an append completes interrupted swaps of all three tables") {
    recovers("__compacting",
        "swap_ss_postings", "swap_ss_termstats", "swap_ss_docs")(
      SearchStore.write(docs, "text", "doc_id", "swap_ss", 4))(
      SearchStore.append(docs, "text", "doc_id", "swap_ss"))
  }

  test("winnow store: an open completes an interrupted swap") {
    recovers("__compacting", "swap_win")(
        Winnow.writeFpStore(docs, "text", "doc_id", "swap_win", 4)) {
      val (fps, k, w) = Winnow.openFpStore(spark, "swap_win")
      assert((k, w) == (4, 4) && fps.count() > 0)
    }
  }

  test("k-NN store: an append completes interrupted swaps of both tables") {
    val t = "swap_knn"
    recovers("__rewriting",
        Similarity.knnVectorsTable(t), Similarity.knnEdgesTable(t))(
      Similarity.writeKnnStore(emb, "vec_id", "embedding", t, k = 3, bits = 4,
        buckets = 4))(
      Similarity.appendToKnnStore(emb, "vec_id", "embedding", t))
  }

  test("margin store: an append completes interrupted swaps of both tables") {
    val t = "swap_margin"
    recovers("__compacting",
        Similarity.marginVectorsTable(t), Similarity.marginSigsTable(t))(
      Similarity.writeMarginStore(emb, "vec_id", "embedding", t, bits = 4,
        buckets = 4))(
      Similarity.appendToMarginStore(emb, "vec_id", "embedding", t))
  }

  test("takedown: the live view completes an interrupted swap") {
    recovers("__rebucketing", "swap_td")(
      Dedup.writeFingerprintStore(docs, "text", "swap_td", 4))(
      assert(Takedown.live(spark, "swap_td").count() > 0))
  }

  private val corpus = Seq(
    (1L, Seq(1f, 0.1f, 0f, 0f)), (2L, Seq(0.9f, -0.4f, 0f, 0f)),
    (3L, Seq(0.1f, 1f, 0f, 0f)), (4L, Seq(-0.2f, 1f, 0f, 0f)),
    (5L, Seq(0.6f, 0.75f, 0f, 0f))).toDF("vec_id", "embedding")
  private val oldCentroids = Seq(
    (100L, Seq(1f, 0f, 0f, 0f)), (200L, Seq(0f, 1f, 0f, 0f)))
    .toDF("c_id", "embedding")
  private val newCentroids = Seq(
    (7L, Seq(0.7f, 0.7f, 0f, 0f)), (8L, Seq(1f, -0.5f, 0f, 0f)),
    (9L, Seq(-0.5f, 1f, 0f, 0f))).toDF("c_id", "embedding")

  test("semantic store: an open completes an interrupted swap") {
    recovers("__compacting", "swap_sem")(
      SemDedup.writeSemanticStore(corpus, oldCentroids, "vec_id", "embedding",
        "c_id", "swap_sem", buckets = 2))(
      SemDedup.openSemanticStore(spark, "swap_sem", oldCentroids, "c_id",
        "embedding"))
  }

  test("semantic store: a finished staged remap whose original was dropped " +
      "opens under the new centroids and fails fast under the old") {
    val t = "swap_sem_remap"
    try {
      drop(t, "swap_sem_scratch")
      SemDedup.writeSemanticStore(corpus, oldCentroids, "vec_id", "embedding",
        "c_id", t, buckets = 2)
      SemDedup.writeSemanticStore(corpus, newCentroids, "vec_id", "embedding",
        "c_id", "swap_sem_scratch", buckets = 2)
      // the remap's staged copy, written and stamped; then the crash
      // lands after the original's drop and before the rename
      Bucketing.writeBucketed(SemDedup.semanticStore(corpus, newCentroids,
        "vec_id", "embedding", "c_id"), t + "__rewriting", Seq("cluster"), 2)
      val fp = SemDedup.centroidFingerprint(newCentroids, "c_id", "embedding")
      spark.sql(s"ALTER TABLE `${t}__rewriting` SET TBLPROPERTIES " +
        s"('${SemDedup.CentroidsProp}' = '$fp')")
      spark.sql(s"DROP TABLE `$t`")
      SemDedup.openSemanticStore(spark, t, newCentroids, "c_id", "embedding")
      assert(rows(t) == rows("swap_sem_scratch"))
      intercept[IllegalArgumentException] {
        SemDedup.openSemanticStore(spark, t, oldCentroids, "c_id", "embedding")
      }
    } finally drop(t, "swap_sem_scratch")
  }

  test("operators commit stores only through Bucketing: no catalog " +
      "metadata reads and no table-property SQL of their own") {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root))
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("getTableMetadata(") ||
            line.contains("TBLPROPERTIES") => s"$f:${i + 1}"
      }).toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
