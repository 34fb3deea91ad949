package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles without per-group value buffers.
  *
  * Spark's built-in `percentile` is a TypedImperativeAggregate that holds
  * EVERY value of a group in an in-memory map on one task — the known
  * scale cliff for exact percentiles over high-cardinality groups (and,
  * at 8-16g heaps, a GC storm well before it OOMs). This operator
  * computes the same `quantile_cont` semantics from a distributed sort:
  *
  *   1. one shuffle+sort per value column: rows ranked within each group
  *      (`row_number`), with the group size and the next value in sort
  *      order (`lead`) carried alongside;
  *   2. the quantile-position rows are picked by rank arithmetic and
  *      interpolated — `v_lo + frac * (v_hi - v_lo)` where the target
  *      position is `(n-1) * p`, exactly DuckDB's / Spark's continuous-
  *      interpolation rule;
  *   3. a tiny final aggregation (one row per group) collects all
  *      requested percentiles.
  *
  * Memory per task is a sort spill buffer, never the whole group —
  * UnsafeExternalSorter spills to disk, so a 10^9-row group sorts; the
  * buffering built-in dies. The trade: one range-partition sort per value
  * column vs. the built-in's single pass, which is the right trade
  * precisely when groups are too big to buffer. Skew note: a window
  * partitioned by a low-cardinality group key funnels each group through
  * one task — inherent to exact rank semantics (same as q39); the sort
  * itself is what spills, so it completes regardless of group size.
  */
object Percentiles {

  /** Exact `quantile_cont` of `valueCol` at each `ps` within `groupCols`
    * groups. Output: one row per distinct group (NULL group keys are one
    * group, like any GROUP BY) with a column per (name, p). Nulls in
    * `valueCol` are ignored; a group whose values are ALL null keeps its
    * row with null percentiles — both matching the built-in. */
  def quantileCont(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   ps: Seq[(String, Double)]): DataFrame =
    joinOnGroups(df.select(groupCols.map(col): _*).distinct(),
      rawQuantiles(df, groupCols, valueCol, ps), groupCols, ps.map(_._1))

  /** Multi-column form: one sort per value column, each result left-joined
    * onto the shared distinct-groups frame (one row per group per side, so
    * the joins are trivially small). */
  def quantileContMulti(df: DataFrame, groupCols: Seq[String],
                        specs: Seq[(String, Seq[(String, Double)])]): DataFrame = {
    require(specs.nonEmpty, "need at least one value column")
    specs.foldLeft(df.select(groupCols.map(col): _*).distinct()) {
      case (acc, (vc, ps)) =>
        joinOnGroups(acc, rawQuantiles(df, groupCols, vc, ps), groupCols, ps.map(_._1))
    }
  }

  /** The sort/rank/interpolate pass. Omits groups with no non-null value
    * (the callers' groups-frame join restores them with nulls). */
  private def rawQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                           ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    // the value column rides under an internal alias so a caller column
    // named like one of the scratch columns below can't be clobbered by
    // the withColumns (a value column literally named "__n" used to be
    // silently replaced by the group count)
    val gcols = groupCols.map(col)
    val v = col("__graft_q_v")
    val w = Window.partitionBy(gcols: _*).orderBy(v)
    val wp = Window.partitionBy(gcols: _*)
    val ranked = df.select(gcols :+ col(valueCol).as("__graft_q_v"): _*)
      .where(v.isNotNull)
      .withColumn("__graft_q_rn", row_number().over(w))
      .withColumn("__graft_q_nv", lead(v, 1).over(w))
      .withColumn("__graft_q_n", count(lit(1)).over(wp))
    val aggs = ps.map { case (name, p) =>
      val target = (col("__graft_q_n") - 1) * lit(p)
      val frac = target - floor(target)
      // exactly one row per group matches floor(target); max() just
      // collapses the non-matching nulls
      max(when(col("__graft_q_rn") - 1 === floor(target),
        v + frac * (coalesce(col("__graft_q_nv"), v) - v))).as(name)
    }
    ranked.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Left-join `right`'s `rightCols` onto `left` by NULL-SAFE group-key
    * equality — plain `join(..., groupCols)` uses EqualTo, which would
    * split a NULL group into disjoint half-populated rows. */
  private def joinOnGroups(left: DataFrame, right: DataFrame,
                           groupCols: Seq[String], rightCols: Seq[String]): DataFrame = {
    val l = left.as("l")
    val r = right.as("r")
    val cond = groupCols.map(c => col(s"l.`$c`") <=> col(s"r.`$c`")).reduce(_ && _)
    l.join(r, cond, "left")
      .select(left.columns.toSeq.map(c => col(s"l.`$c`").as(c)) ++
        rightCols.map(c => col(s"r.`$c`")): _*)
  }

  /** Exact GLOBAL `quantile_cont` via a (value, count) histogram — one
    * row out, a column per (name, p), bit-identical to [[quantileCont]]
    * (same `(n-1)·p` rank arithmetic, same `lo + frac·(hi − lo)`
    * interpolation operand order). The scale shape for DISCRETE value
    * columns (token counts, lengths, small ints): the corpus collapses
    * to its distinct-value histogram in ONE shuffle, and the
    * cumulative-rank window runs over the HISTOGRAM — rows = distinct
    * values, not corpus rows. [[quantileCont]] with a constant group
    * funnels the whole corpus through one window task (right for
    * grouped or continuous data, where a histogram would itself be
    * corpus-sized); THIS is the right global form when
    * distinct values ≪ rows. Nulls ignored; all-null input yields one
    * row of null quantiles. Runs Spark jobs when the frame is built,
    * not when it is consumed: the global [[Prefix.cumsum]] path's
    * `driverPrefix` collects the histogram's subtotals and its total. */
  def quantileContHist(df: DataFrame, valueCol: String,
                       ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    val v = col("__graft_q_v")
    val hist = df.select(col(valueCol).as("__graft_q_v"))
      .where(v.isNotNull)
      .groupBy(v).agg(count(lit(1)).as("__graft_q_c"))
    // cumulative count over the histogram via the two-pass range scan —
    // the histogram is bounded by |distinct values| but can still be
    // large for wide discrete domains, and the old
    // `sum(c) over (order by v)` form funneled it through ONE window
    // task (the empty-partition-spec WindowExec). Histogram values are
    // distinct, so the scan's arbitrary tie-break never applies and the
    // inclusive running count is identical.
    // total n rides out of the SAME per-partition subtotal collect the
    // prefix scan folds on — a fresh `hist.agg(sum)` would re-evaluate
    // the whole upstream plan (for LM-scored corpora that is the full
    // scoring pipeline), and an aggregate over the folded frame re-runs
    // the mapPartitions fold's row ser/de. Driver total == sum of
    // counts; None (no rows) keeps the null-quantiles contract.
    val (cum, n) = Prefix.cumsumWithTotal(hist, "__graft_q_v",
      "__graft_q_c", "__graft_q_cum")
    interpFromCum(cum, n, ps)
  }

  /** Exact GLOBAL `quantile_cont` for CONTINUOUS value columns — the
    * third member of the global family: [[quantileContHist]] collapses
    * DISCRETE values to a histogram; for continuous values (prices,
    * norms, scores) the histogram is itself corpus-sized, so THIS
    * ranks every row with [[Prefix.cumsum]]'s two-pass range-partition
    * scan instead — the only unpartitioned window is the per-partition
    * subtotal frame, never the data. Same `(n-1)·p` interpolation, same
    * results as the sort path and the built-in (PercentilesSpec).
    * (The streaming member is [[graft.functions.QuantileSketch]];
    * grouped exact quantiles stay on [[quantileCont]], whose window
    * partitions by the group key.) Runs Spark jobs when the frame is
    * built, not when it is consumed: the global [[Prefix.cumsum]]
    * path's `driverPrefix` collects the subtotals and the row count. */
  def quantileContScan(df: DataFrame, valueCol: String,
                       ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    val v = col("__graft_q_v")
    val vals = df.select(col(valueCol).as("__graft_q_v"))
      .where(v.isNotNull)
      .withColumn("__graft_q_c", lit(1L))
    // rank in value order == cumulative count; ties get arbitrary
    // distinct ranks, which picks the same VALUE at every rank anyway
    // n rides out of the SAME subtotal collect the prefix scan folds on
    // — a fresh count over `vals` would re-evaluate the whole upstream
    // plan per quantile call (the thresholds step of scoreBuckets/
    // winsorize/madOutliers pays it on the full scoring pipeline), and
    // an aggregate over the ranked frame re-runs the fold's row ser/de.
    // Driver total == row count; None keeps the null-quantiles contract.
    val (ranked, n) = Prefix.cumsumWithTotal(vals, "__graft_q_v",
      "__graft_q_c", "__graft_q_cum")
    interpFromCum(ranked, n, ps)
  }

  /** Exact PER-GROUP `quantile_cont` WITHOUT the per-group single-task
    * window — [[quantileCont]]'s documented skew note ("a window
    * partitioned by a low-cardinality group key funnels each group
    * through one task — inherent to exact rank semantics") removed:
    * values rank WITHIN their group via [[Prefix.cumsumByGroup]]'s
    * range-partition scan, so a giant group spreads across partitions
    * and the only windows are partition-local or over the group-keyed
    * subtotal frame. Same `(n−1)·p` interpolation — bit-identical to
    * [[quantileCont]] (PercentilesSpec pins it). Output contract
    * matches [[quantileCont]]: one row per distinct group incl. NULL
    * keys; groups whose values are all null keep a row with null
    * quantiles. Costs one materialization ([[Prefix.cumsum]]'s pinned
    * range boundaries) — the price of removing the funnel; prefer
    * [[quantileCont]] when every group comfortably fits one task's
    * sort spill. */
  def quantileContScanGrouped(df: DataFrame, groupCols: Seq[String],
                              valueCol: String,
                              ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    require(groupCols.nonEmpty,
      "quantileContScanGrouped: use quantileContScan for the global form")
    val v = col("__graft_q_v")
    val vals = df
      .select(groupCols.map(col) :+ col(valueCol).as("__graft_q_v"): _*)
      .where(v.isNotNull)
      .withColumn("__graft_q_c", lit(1L))
    // per-group n from the tiny (partition, group) SUBTOTAL frame, not
    // a max over the folded data — the latter re-ran the whole
    // partition-local sort+fold a second time (measured r19 q204 at
    // x10: a duplicate 26 s-CPU pass). Exact same long counts: ranges
    // keep groups contiguous, so the last running value == the group's
    // count == the sum of its stretch subtotals.
    val (ranked, totals0) = Prefix.cumsumByGroupWithTotals(vals, groupCols,
      "__graft_q_v", "__graft_q_c", "__graft_q_cum", "__graft_q_n")
    val totals = totals0
    val r = ranked.as("r")
    val t = totals.as("t")
    val cond = groupCols.map(c => col(s"r.`$c`") <=> col(s"t.`$c`"))
      .reduce(_ && _)
    val withN = r.join(broadcast(t), cond)
      .select(ranked.columns.map(c => col(s"r.`$c`")) :+
        col("t.__graft_q_n"): _*)
    val n = col("__graft_q_n")
    val aggs = ps.flatMap { case (name, p) =>
      val target = (n - 1) * lit(p)
      Seq(
        min(when(col("__graft_q_cum") >= floor(target) + 1, v))
          .as(s"__graft_lo_$name"),
        min(when(col("__graft_q_cum") >= floor(target) + 2, v))
          .as(s"__graft_hi_$name"))
    } :+ max(n).as("__graft_q_n2")
    val agged = withN.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val quantiles = agged.select(groupCols.map(col) ++
      ps.map { case (name, p) =>
        val target = (col("__graft_q_n2") - 1) * lit(p)
        val frac = target - floor(target)
        val lo = col(s"__graft_lo_$name")
        val hi = coalesce(col(s"__graft_hi_$name"), lo)
        (lo + frac * (hi - lo)).as(name)
      }: _*)
    joinOnGroups(df.select(groupCols.map(col): _*).distinct(),
      quantiles, groupCols, ps.map(_._1))
  }

  /** Shared interpolation tail of the global exact-quantile paths: a
    * `(__graft_q_v, __graft_q_cum)` frame (cum = inclusive count of
    * rows with value ≤ this row's, under any tie layout) + the
    * driver-known total row count (None ⇒ empty input, which keeps the
    * all-null-quantiles contract because the aggregate below runs over
    * zero rows) → one row with a column per (name, p). v at 0-indexed
    * rank r = min value whose cum > r; `quantile_cont` interpolates
    * ranks floor(target) and floor(target)+1 at target = (n−1)·p. */
  private def interpFromCum(cum: DataFrame, total: Option[Any],
                            ps: Seq[(String, Double)]): DataFrame = {
    val v = col("__graft_q_v")
    val n = col("__graft_q_n")
    val withN = cum.withColumn("__graft_q_n",
      total.map(lit).getOrElse(lit(null).cast("long")))
    val aggs = ps.flatMap { case (name, p) =>
      val target = (n - 1) * lit(p)
      Seq(
        min(when(col("__graft_q_cum") >= floor(target) + 1, v))
          .as(s"__graft_lo_$name"),
        min(when(col("__graft_q_cum") >= floor(target) + 2, v))
          .as(s"__graft_hi_$name"))
    } :+ max(n).as("__graft_q_n2")
    val agged = withN.agg(aggs.head, aggs.tail: _*)
    agged.select(ps.map { case (name, p) =>
      val target = (col("__graft_q_n2") - 1) * lit(p)
      val frac = target - floor(target)
      val lo = col(s"__graft_lo_$name")
      // rank floor(target)+1 does not exist only at p = 1 exactly
      val hi = coalesce(col(s"__graft_hi_$name"), lo)
      (lo + frac * (hi - lo)).as(name)
    }: _*)
  }

  /** Column helper matching the built-in's name for spec readability. */
  def builtinPercentile(c: Column, p: Double): Column = percentile(c, lit(p))

  /** GLOBAL exact interpolated quantiles (driver state: one double per
    * p) — the shared threshold step behind [[winsorize]] /
    * [[madOutliers]] / `Quality.scoreBuckets`. Rides
    * [[quantileContScan]] (bit-identical to the sort path, which it
    * replaced here: the constant-group form funneled the corpus
    * through one window task). */
  private[operators] def globalQuantiles(df: DataFrame, valueCol: String,
                                         ps: Seq[Double]): Seq[Double] = {
    val named = ps.zipWithIndex.map { case (p, i) => (s"__q$i", p) }
    val row = quantileContScan(df, valueCol, named).collect()
    require(row.nonEmpty && !row(0).isNullAt(0),
      s"no non-null '$valueCol' values")
    ps.indices.map(row(0).getDouble)
  }

  private def globalQuantile(df: DataFrame, valueCol: String, p: Double): Double =
    globalQuantiles(df, valueCol, Seq(p)).head

  /** Winsorization — clip `valueCol` into its own [lo, hi] exact-quantile
    * band (the tabular data-cleaning step that tames fat tails without
    * dropping rows; the numeric sibling of the text side's Repetition
    * ceilings). Thresholds come from the exact rank-scan quantile pass
    * ([[quantileContScan]]; driver state = two doubles), the clip itself is a
    * narrow codegen'd least/greatest fold — the corpus never shuffles.
    * Adds `<valueCol>_w`.
    *
    * `roundTo >= 0` quantizes the thresholds to that many decimals
    * (HALF_UP) — use the column's own precision for money-like data:
    * interpolated quantiles are engine-arithmetic-sensitive in the last
    * ulp (measured: p95 over 600 k prices differs by 1 ulp between the
    * rank/interpolate pass and DuckDB's quantile_cont), and a quantized
    * threshold is both reproducible and semantically cleaner than a
    * 12-significant-digit clip bound. */
  def winsorize(df: DataFrame, valueCol: String,
                lo: Double = 0.05, hi: Double = 0.95,
                roundTo: Int = -1): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1: $lo/$hi")
    def r(t: Double): Double =
      if (roundTo < 0) t
      else BigDecimal(t).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val Seq(tLo0, tHi0) = globalQuantiles(df, valueCol, Seq(lo, hi))
    val tLo = r(tLo0)
    val tHi = r(tHi0)
    df.withColumn(s"${valueCol}_w",
      least(greatest(col(valueCol), lit(tLo)), lit(tHi)))
  }

  /** Median/MAD robust outlier flags — the outlier detector that
    * survives the outliers it hunts (mean/stddev get dragged by the
    * very tail being flagged): robust z = 0.6745·(x − median) / MAD,
    * MAD = median(|x − median|), flag |z| > `cut`. Two exact quantile
    * passes (driver state = two doubles) + a narrow scoring fold; every
    * number derives from the same IEEE operand chain in any engine.
    * Adds `robust_z` and `is_outlier`. */
  def madOutliers(df: DataFrame, valueCol: String,
                  cut: Double = 3.5): DataFrame = {
    require(cut > 0, s"cut must be positive: $cut")
    val med = globalQuantile(df, valueCol, 0.5)
    val mad = globalQuantile(
      df.withColumn("__dev", abs(col(valueCol) - lit(med))), "__dev", 0.5)
    require(mad != 0.0,
      s"MAD of '$valueCol' is zero (>=50% identical values) — robust z undefined")
    val rz = lit(0.6745) * (col(valueCol) - lit(med)) / lit(mad)
    df.withColumn("robust_z", rz)
      .withColumn("is_outlier", abs(rz) > lit(cut))
  }
}
