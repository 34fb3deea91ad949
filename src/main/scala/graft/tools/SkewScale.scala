package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.Bench.noop
import graft.operators.{DocEmbed, Similarity}
import graft.tools.CenterScale.mass
import graft.tools.Prof.timed

/** Dev tool: measures what [[graft.operators.Similarity.autoBitsSkewAware]]
  * buys on the skewed hashed-BoW corpus at scale — formula vs measured
  * bits, their candidate masses, and the wall time of the full
  * [[graft.operators.Similarity.knnGraph]] build at each geometry.
  * Usage: `runMain graft.tools.SkewScale [dir]` (default the x100
  * ScaleUp fixture). Evidence lands in SURVEY §6. */
object SkewScale {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale_x100")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.load(spark, dir, "documents")
    val emb = timed("derive+checkpoint")(
      DocEmbed.hashedProjection(docs, "text", "doc_id").localCheckpoint())
    val n = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val formula = Similarity.autoBits(n, dim, tables = 2)
    val measured = timed("autoBitsSkewAware")(
      Similarity.autoBitsSkewAware(emb, "doc_id", "embedding", tables = 2))
    println(s"== n=$n dim=$dim formulaBits=$formula measuredBits=$measured")
    println(s"== candMass(formula)=${mass(emb, formula)} " +
      s"candMass(measured)=${mass(emb, measured)} uniformTarget=${n * 64 * 2}")
    Seq(("formula", formula), ("measured", measured)).foreach { case (l, b) =>
      timed(s"knnGraph@$l($b bits)")(noop(
        Similarity.knnGraph(emb, "doc_id", "embedding", k = 3, bits = b,
            tables = 2)))
    }
    spark.stop()
  }
}
