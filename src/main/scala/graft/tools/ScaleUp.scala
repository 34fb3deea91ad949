package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dev tool: synthesize a larger-scale fixture from an existing one by
  * replicating `documents`/`embeddings` k× with per-copy decorrelation,
  * for scaling-exponent measurements (SURVEY §6) above the largest
  * driver-provided scale factor.
  *
  *   sbt "runMain graft.tools.ScaleUp <inDir> <outDir> <k>"
  *
  * Decorrelation design — the point is that each copy adds WORK, not
  * trivially-collapsible duplicates, while intra-copy structure (dup
  * fraction, near-dup clusters, embedding geometry) is preserved exactly:
  *
  *  - documents: copy c suffixes every word with `_c` (copy 0 is
  *    verbatim). Every shingle changes, so cross-copy 5-gram Jaccard is
  *    ~0 and MinHash/LSH workloads scale by k instead of collapsing into
  *    k-sized hot buckets; intra-copy Jaccard relations are untouched
  *    (uniform suffix). doc_id strides by 1,000,000 per copy — clear of
  *    the +10k/+20k/+30k offsets the incremental-batch fixtures add.
  *  - embeddings: copy c circularly shifts each vector by c positions —
  *    an orthogonal transform, so intra-copy inner products (cluster
  *    geometry) are exactly preserved while cross-copy pairs decorrelate
  *    like random unit vectors.
  *  - lineitem (round 13, the q204/q58 grouped-quantile scale rows):
  *    copy c strides l_orderkey by 10^8 (clear of TPC-H key ranges at
  *    any driver SF) and adds c·10⁻⁶ to l_quantity — the value
  *    multiset stays quantile-equivalent (quantiles shift by < 10⁻⁴)
  *    but every copy's values are DISTINCT, so sorts and rank scans do
  *    k× the comparison work instead of collapsing into duplicate runs,
  *    and the low-cardinality l_linestatus groups grow into exactly the
  *    giant-group regime the scan path exists for. Group/label columns
  *    are untouched.
  *  - events (round 18, the q233 manifest-skipping scale rows): copy c
  *    strides event_id by 10^9 and user_id by 10^6, so both id DOMAINS
  *    grow k× (the z-order grid and the per-file bounds must spread
  *    over k× the key space — striding is what keeps pruning honest; a
  *    verbatim copy would leave every file's range identical). Type,
  *    value, ts, props untouched.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(in, out, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = GraftSession.local()

    val copies = spark.range(k.toLong).toDF("c")

    val docs = spark.read.parquet(s"$in/documents.parquet")
    docs.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") + col("c") * 1000000L).as("doc_id"),
        when(col("c") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("c")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$in/embeddings.parquet")
    embs.crossJoin(broadcast(copies))
      .select(
        (col("vec_id") + col("c") * 1000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> embedding[int((i + c) % size(embedding))])")
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    if (new java.io.File(s"$in/lineitem.parquet").exists) {
      val li = spark.read.parquet(s"$in/lineitem.parquet")
      li.crossJoin(broadcast(copies))
        .withColumn("l_orderkey", col("l_orderkey") + col("c") * 100000000L)
        .withColumn("l_quantity",
          col("l_quantity") + col("c").cast("double") * 1e-6)
        .drop("c")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }

    if (new java.io.File(s"$in/events.parquet").exists) {
      val ev = spark.read.parquet(s"$in/events.parquet")
      ev.crossJoin(broadcast(copies))
        .withColumn("event_id", col("event_id") + col("c") * 1000000000L)
        .withColumn("user_id", col("user_id") + col("c") * 1000000L)
        .drop("c")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    println(s"scaled $in x$k -> $out: " +
      s"documents=${spark.read.parquet(s"$out/documents.parquet").count()} " +
      s"embeddings=${spark.read.parquet(s"$out/embeddings.parquet").count()}" +
      (if (new java.io.File(s"$out/lineitem.parquet").exists)
        s" lineitem=${spark.read.parquet(s"$out/lineitem.parquet").count()}"
      else ""))
    spark.stop()
  }
}
