package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators.{DocEmbed, Similarity}
import graft.tools.Prof.timed

/** Dev tool: measures what CENTERING the LSH hyperplanes
  * ([[graft.operators.Similarity.corpusCenter]] →
  * `knnGraph(center = …)`) buys on the skewed hashed-BoW corpus,
  * against the uncentered skew-aware baseline ([[SkewScale]]):
  *   - the measured bits each geometry settles at (centered buckets are
  *     balanced, so the occupancy scan stops earlier),
  *   - candidate mass at each settled geometry,
  *   - knnGraph build wall time at each,
  *   - recall@k of each graph against exact brute-force cosine top-k
  *     over a deterministic md5 query sample (the quality axis: fewer
  *     bits from BALANCE, not from accepting more recall loss).
  * Usage: `runMain graft.tools.CenterScale [dir] [nQueries]`
  * (default the x10 ScaleUp fixture, 500 queries). Evidence lands in
  * SURVEY §6. */
object CenterScale {

  /** Candidate pairs (Σ b·(b−1)/2 over buckets) of two sign-LSH tables of
    * `bits` bits each over `emb`'s `embedding`, with hyperplanes through
    * `center` (the origin when empty). */
  def mass(emb: DataFrame, bits: Int, center: Seq[Double] = Nil): Long =
    (0 until 2).map { t =>
      val bucket =
        if (center.isEmpty)
          graft.functions.Vectors.signBucketAt(col("embedding"), bits, t * bits)
        else graft.functions.Vectors.signBucketCenteredAt(
          col("embedding"), bits, t * bits, center)
      emb.groupBy(bucket.as("b")).count()
        .agg(sum(col("count") * (col("count") - 1L)))
        .head().getLong(0) / 2
    }.sum

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale_x10")
    val nQ = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.load(spark, dir, "documents")
    val emb = timed("derive+checkpoint")(
      DocEmbed.hashedProjection(docs, "text", "doc_id").localCheckpoint())
    val n = emb.count()
    val center = timed("corpusCenter")(
      Similarity.corpusCenter(emb, "doc_id", "embedding"))
    val bitsPlain = timed("autoBitsSkewAware(plain)")(
      Similarity.autoBitsSkewAware(emb, "doc_id", "embedding", tables = 2))
    val bitsCentered = timed("autoBitsSkewAware(centered)")(
      Similarity.autoBitsSkewAware(emb, "doc_id", "embedding", tables = 2,
        center = center))
    println(s"== n=$n bitsPlain=$bitsPlain bitsCentered=$bitsCentered")
    println(s"== candMass(plain@$bitsPlain)=${mass(emb, bitsPlain)} " +
      s"candMass(centered@$bitsCentered)=${mass(emb, bitsCentered, center)} " +
      s"uniformTarget=${n * 64 * 2}")
    // exact ground truth over a deterministic md5 query sample — the
    // recall axis: centering must not pay for its cost win in quality
    val qs = emb
      .withColumn("__h", md5(concat(col("doc_id").cast("string"), lit(":cs"))))
      .orderBy(col("__h"), col("doc_id")).limit(nQ)
      .select(col("doc_id"), col("embedding")).localCheckpoint()
    val exact = timed("exact cosineTopK")(
      Similarity.cosineTopK(emb, qs, "doc_id", "embedding", k = 3)
        .localCheckpoint())
    def recall(corpus: DataFrame, truth: DataFrame, label: String, bits: Int,
        c: Seq[Double]): Unit = {
      val g = timed(s"knnGraph@$label($bits bits)")(
        Similarity.knnGraph(corpus, "doc_id", "embedding", k = 3, bits = bits,
            tables = 2, center = c).localCheckpoint())
      val r = Similarity.recallAtK(truth, g, "doc_id", k = 3)
        .agg(avg(col("recall"))).head().getDouble(0)
      println(f"== recall@3($label@$bits, mass=${mass(corpus, bits, c)}) = $r%.4f")
    }
    def run(label: String, bits: Int, c: Seq[Double]): Unit =
      recall(emb, exact, label, bits, c)
    run("plain", bitsPlain, Nil)
    run("centered", bitsCentered, center)
    // the frontier: recall at equal-bits points for both families —
    // does balance buy recall per candidate, or only cheaper settling?
    // (off by default past x1 — low-bit plain points get expensive)
    if (args.lift(2).contains("sweep"))
      (math.min(bitsCentered, bitsPlain) - 1 to bitsPlain + 1).foreach { b =>
        if (b >= 1 && b <= 32) { run("plain", b, Nil); run("centered", b, center) }
      }
    // ---- the metric-CONSISTENT variant: center the EMBEDDINGS (the
    // all-but-the-top recipe), so buckets AND scores live in the same
    // centered space — origin hyperplanes are again the locality family
    // of the scored similarity ----
    val cemb = emb.select(col("doc_id"),
      graft.functions.Vectors.centered(col("embedding"), center)
        .as("embedding")).localCheckpoint()
    val bitsC2 = timed("autoBitsSkewAware(centered-emb)")(
      Similarity.autoBitsSkewAware(cemb, "doc_id", "embedding", tables = 2))
    println(s"== centered-embedding corpus settles at $bitsC2 bits " +
      s"(formula=${Similarity.autoBits(n, 64, 2)})")
    val exactC = timed("exact centered cosineTopK")(
      Similarity.cosineTopK(cemb,
        qs.select(col("doc_id"),
          graft.functions.Vectors.centered(col("embedding"), center)
            .as("embedding")),
        "doc_id", "embedding", k = 3).localCheckpoint())
    (bitsC2 - 1 to bitsC2 + 1).filter(_ >= 1)
      .foreach(b => recall(cemb, exactC, "centered-emb", b, Nil))
    spark.stop()
  }
}
