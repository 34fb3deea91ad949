package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank assignment over ALREADY top-k-bounded frames without an
  * unpartitioned window.
  *
  * The ranking sites this serves (RRF fusion, the q133 system
  * rankings) all rank the OUTPUT of a top-k heap — ≤ k rows by
  * construction — yet `row_number().over(Window.orderBy(...))` plans
  * as the empty-partition-spec WindowExec, the same "moving all data
  * to a single partition" node that is genuinely data-serial
  * elsewhere. Here the k rows instead collapse into ONE array
  * (`collect_list`), `array_sort` orders the structs by the rank key,
  * and `posexplode` re-emits the rows with their 0-based position:
  * serial state is k rows by CONSTRUCTION (the caller's heap bound),
  * and the plan carries no Window at all.
  *
  * Determinism: (score desc, id asc) is the engine's standard total
  * order (ids unique within a ranking), and `array_sort` on structs
  * compares fields left to right, so `(isnull(score), !isnan(score),
  * -score, id)` ascending is the identical order — double negation is
  * exact, a null score ranks last and a NaN first, as `desc` puts them
  * (`negate` alone would sort null first and NaN last), and the payload
  * struct is never reached by the comparison. Ids must be non-null. */
object Ranks {

  /** Append `rankCol` = 1-based rank by (`scoreCol` desc, `idCol` asc),
    * typed long, preserving all columns and emitting rows in rank
    * order — exactly `row_number().over(Window.orderBy(score.desc,
    * id.asc)).cast("long")` on a frame the caller has already bounded
    * to k rows. */
  def byScoreDesc(df: DataFrame, scoreCol: String, idCol: String,
                  rankCol: String = "rank"): DataFrame = {
    val payload = struct(df.columns.map(col): _*).as("__graft_rk_row")
    val keyed = struct(isnull(col(scoreCol)).as("__graft_rk_n"),
      not(isnan(col(scoreCol))).as("__graft_rk_f"),
      negate(col(scoreCol)).as("__graft_rk_s"),
      col(idCol).as("__graft_rk_i"), payload)
    df.agg(collect_list(keyed).as("__graft_rk_a"))
      .select(posexplode(array_sort(col("__graft_rk_a")))
        .as(Seq("__graft_rk_p", "__graft_rk_r")))
      .select(df.columns.map(c =>
        col(s"__graft_rk_r.__graft_rk_row.`$c`").as(c)) :+
        (col("__graft_rk_p") + 1).cast("long").as(rankCol): _*)
  }
}
