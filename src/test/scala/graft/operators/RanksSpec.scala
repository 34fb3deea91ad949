package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.window.WindowExec

/** Window-free top-k ranking: values, order and types must equal the
  * row_number window form exactly, and the plan must carry no Window. */
class RanksSpec extends SparkSpec {

  import spark.implicits._

  private val topk = Seq(
    (7L, 0.75, "a"), (3L, 0.9, "b"), (9L, 0.75, "c"),
    (1L, 0.3, "d"), (5L, 0.9, "e"))
    .toDF("id", "score", "payload")

  test("byScoreDesc == row_number over (score desc, id asc), order and types") {
    val ours = Ranks.byScoreDesc(topk, "score", "id")
    val w = Window.orderBy($"score".desc, $"id".asc)
    val ref = topk.withColumn("rank", row_number().over(w).cast("long"))
    assert(ours.schema == ref.schema)
    // collect() preserves output order — rank order must match the
    // window's emit order, not just the values
    assert(ours.collect().toSeq == ref.orderBy($"rank").collect().toSeq)
  }

  test("string ids tie-break like the window's asc ordering") {
    val df = Seq(("zz", 1.0), ("ab", 1.0), ("ba", 2.0)).toDF("id", "s")
    val ours = Ranks.byScoreDesc(df, "s", "id")
    val ref = df.withColumn("rank",
      row_number().over(Window.orderBy($"s".desc, $"id".asc)).cast("long"))
    assert(ours.collect().toSeq == ref.orderBy($"rank").collect().toSeq)
  }

  test("null scores rank last and NaN first, by id, as the desc window puts them") {
    val df = Seq[(Long, Option[Double])]((4L, None), (2L, Some(0.5)), (1L, None),
      (3L, Some(0.9)), (5L, Some(0.5)), (7L, Some(Double.NaN)), (6L, Some(Double.NaN)))
      .toDF("id", "score")
    val ours = Ranks.byScoreDesc(df, "score", "id")
    val ref = df.withColumn("rank",
      row_number().over(Window.orderBy($"score".desc, $"id".asc)).cast("long"))
    assert(ours.collect().toSeq == ref.orderBy($"rank").collect().toSeq)
    assert(ours.select($"id").as[Long].collect().toSeq == Seq(6L, 7L, 3L, 2L, 5L, 1L, 4L))
  }

  test("empty frame ranks to an empty frame") {
    assert(Ranks.byScoreDesc(topk.where(lit(false)), "score", "id")
      .collect().isEmpty)
  }

  test("plan carries no WindowExec at all") {
    val plan = Ranks.byScoreDesc(topk, "score", "id")
      .queryExecution.executedPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, s"expected window-free rank plan: $windows")
  }
}
