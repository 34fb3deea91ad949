package graft.tools

import graft.GraftSession

/** Dev tool: time [[graft.operators.Similarity.knnGraph]] at a given LSH
  * sizing — the scale-study companion for SURVEY §6's x10/x100 runs. The
  * registered q145 pins correctness at the fixture-sized 2×8-bit tables;
  * this measures the documented contract that `bits` must grow with
  * log2(n) (expected bucket size n/2^bits, candidate volume n²/2^bits
  * per table).
  *
  *   sbt "runMain graft.tools.KnnScale <dir> <bits> <tables> [runs]"
  */
object KnnScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val bits = args(1).toInt
    val tables = args(2).toInt
    val runs = if (args.length > 3) args(3).toInt else 2
    val spark = GraftSession.local()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val times = (1 to runs).map(_ => graft.Bench.noop(
      graft.operators.Similarity.knnGraph(emb, "vec_id", "embedding",
        k = 5, bits = bits, tables = tables)))
    println(f"knnGraph bits=$bits tables=$tables n=${emb.count()}: " +
      times.map(t => f"$t%6.2f").mkString(" "))
    spark.stop()
  }
}
