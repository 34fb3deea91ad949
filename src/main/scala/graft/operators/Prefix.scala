package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Distributed prefix sum — a running total in global `orderCol` order
  * WITHOUT the single-task trap.
  *
  * The naive form, `sum(v) over (order by o)`, has an empty partition
  * spec: Spark funnels the ENTIRE dataset through one task. This is the
  * classic two-pass scan instead:
  *
  *   1. range-partition by `orderCol` (so partition i holds keys below
  *      partition i+1's), then materialize ONCE (`localCheckpoint`) —
  *      range boundaries come from sampling, so the frame must be pinned
  *      for the partition ids to be consistent across the two reads;
  *   2. per-partition subtotals (tiny: one row per partition) get their
  *      exclusive running offsets on a single-task window over that tiny
  *      frame — bounded by partition COUNT, not data;
  *   3. offsets broadcast back; each partition computes its interior
  *      running sum locally — a partition-local sort plus one
  *      `mapPartitions` fold, so the checkpoint's range layout is never
  *      re-shuffled. (The checkpoint erases `outputPartitioning`, so a
  *      window over (partition, group) here would make Catalyst
  *      re-shuffle the full data onto a clustering that is already
  *      physically true — the second exchange rounds 9–12 documented;
  *      the fold keeps the plan exchange-free past the checkpoint.
  *      PrefixSpec pins it: every exchange in the plan is
  *      subtotal-sized.)
  *
  * Cost at 100 TB: ONE corpus shuffle (the range partitioning), the
  * materialization, and a partition-local sort — never a single-task
  * sort, never a second corpus move. The fold resets on every
  * (partition, group) change, so a coalesced or re-split layout stays
  * correct: each stretch adds its own broadcast offset.
  *
  * The fold path covers integral and floating `valueCol` (sum types
  * LongType/DoubleType — token counts and scores, every shipped
  * consumer) over atomic non-binary group keys; exotic sum types
  * (decimal) and binary/nested group keys take the legacy window form,
  * which pays the extra narrow exchange but keeps exact semantics
  * (binary keys surface to the fold as Array[Byte] — reference
  * equality, the one comparison the fold's boundary check can't use).
  *
  * The use case this ships for is sequence packing (training shards cut
  * at a token budget): see [[packIntoShards]].
  */
object Prefix {

  /** Adds `outCol` = running sum of `valueCol` in ascending `orderCol`
    * order (inclusive of the current row). Ties in `orderCol` are broken
    * arbitrarily but consistently within the run; use a unique order
    * column for fully deterministic output.
    *
    * This global form runs Spark jobs when the frame is BUILT, not when
    * it is consumed: [[driverPrefix]] collects the per-partition
    * subtotals, which samples the range bounds, shuffles `df` by range
    * and materializes the pinned layout. An `explain`, or a frame that
    * is never consumed, still pays for that. [[cumsumByGroup]] stays
    * lazy. */
  def cumsum(df: DataFrame, orderCol: String, valueCol: String,
             outCol: String): DataFrame =
    cumsumByGroup(df, Nil, orderCol, valueCol, outCol)

  /** Global [[cumsum]] that ALSO returns the exact grand total of
    * `valueCol` (what `df.agg(sum(valueCol))` would), read off the SAME
    * per-partition subtotal collect the offsets fold on — `None` when
    * every subtotal is null (no rows / all-null values). Callers that
    * need the total alongside the running sum (quantile rank targets)
    * would otherwise pay a second full evaluation of the source
    * subtree, or of the folded frame, for one number the driver
    * already held. Long subtotals add exactly in any order; double
    * subtotals add in ascending-partition order — the same
    * left-to-right chain `sum()` uses over the sorted range layout. */
  private[operators] def cumsumWithTotal(
      df: DataFrame, orderCol: String, valueCol: String,
      outCol: String): (DataFrame, Option[Any]) =
    cumsumImpl(df, Nil, orderCol, valueCol, outCol)

  /** [[cumsum]] restarting at zero per `groupCols` group — the same
    * two-pass scan with the group key prepended everywhere: range
    * partitioning on (groups, order) keeps each group's order
    * contiguous, subtotals key on (partition, groups) — still one small
    * row per partition-group stretch — and the interior fold resets per
    * (partition, group), so no data-sized window (partitioned or not)
    * exists anywhere in the plan. */
  def cumsumByGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
                    valueCol: String, outCol: String): DataFrame =
    cumsumImpl(df, groupCols, orderCol, valueCol, outCol)._1

  /** [[cumsumByGroup]] that ALSO returns the exact per-group grand
    * totals of `valueCol` (`groupCols :+ totalCol`, one row per group
    * present in the scan — what `out.groupBy(groups).agg(max(outCol))`
    * would give, since ranges keep each group contiguous and the last
    * running value IS the group sum), derived from the tiny
    * per-(partition, group) SUBTOTAL frame instead of a second full
    * sort+fold pass over the data (measured r19 q204 at x10: the
    * totals pass was a duplicate 26 s-CPU fold). Long subtotals add
    * exactly in any order — the integral-sum contract every shipped
    * grouped-quantile caller satisfies (valueCol = lit(1L)); callers
    * needing double group totals should aggregate the folded frame. */
  private[operators] def cumsumByGroupWithTotals(
      df: DataFrame, groupCols: Seq[String], orderCol: String,
      valueCol: String, outCol: String,
      totalCol: String): (DataFrame, DataFrame) = {
    val (out, _, subtotals) =
      cumsumImpl3(df, groupCols, orderCol, valueCol, outCol)
    (out, subtotals.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__psum")).as(totalCol)))
  }

  private def cumsumImpl(df: DataFrame, groupCols: Seq[String], orderCol: String,
                         valueCol: String, outCol: String): (DataFrame, Option[Any]) = {
    val r = cumsumImpl3(df, groupCols, orderCol, valueCol, outCol)
    (r._1, r._2)
  }

  private def cumsumImpl3(df: DataFrame, groupCols: Seq[String], orderCol: String,
                          valueCol: String, outCol: String)
      : (DataFrame, Option[Any], DataFrame) = {
    val gcols = groupCols.map(col)
    // pin sampled range boundaries + partition ids. LAZY: the pin
    // materializes inside the first action over it (the subtotal
    // aggregate / driver collect just below) instead of paying its own
    // job — measured r19: each global-quantile call is a chain of tiny
    // sequential jobs and the eager pin was one of them; semantics are
    // identical (cache-backed either way), the second pass still reads
    // the pinned blocks.
    val ranged = df.repartitionByRange(gcols :+ col(orderCol): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val subtotals = ranged.groupBy(col("__pid") +: gcols: _*)
      .agg(sum(col(valueCol)).as("__psum"))
    // one row per partition-group stretch — bounded by partition count
    // plus group count (ranges are contiguous), never by data
    val (offsets, total) =
      if (gcols.nonEmpty) {
        // per-group exclusive running subtotal: the window partitions by
        // the group key, so its spec is never empty (no single-partition
        // WindowExec warning) and each group's stretch list is tiny
        val wOff = Window.partitionBy(gcols: _*).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        (subtotals
          .withColumn("__offset",
            coalesce(sum(col("__psum")).over(wOff), lit(0L)))
          .select(col("__pid") +: gcols :+ col("__offset"): _*), None)
      } else driverPrefix(df.sparkSession, subtotals)
    // NULL-SAFE group equality on the offsets join — a NULL group key is
    // one group (like any GROUP BY); plain USING would orphan its rows
    val l = ranged.as("l")
    val o = broadcast(offsets).as("o")
    val cond = ((col("l.__pid") === col("o.__pid")) +:
      groupCols.map(c => col(s"l.`$c`") <=> col(s"o.`$c`"))).reduce(_ && _)
    val joined = l.join(o, cond)
      .select(ranged.columns.map(c => col(s"l.`$c`")) :+
        col("o.__offset"): _*)
    val sumType: DataType =
      df.select(sum(col(valueCol)).as("__s")).schema.head.dataType
    // the fold detects group-stretch boundaries by comparing raw row
    // values — structural for atomic types, but BinaryType surfaces as
    // Array[Byte] (reference equality: every row would "start" a new
    // stretch and the running total silently degenerate to offset +
    // own value) and nested types can embed binaries; those keys take
    // the legacy window form, which keys the window on the values
    // themselves and stays correct for any comparable type
    val keysFoldable = groupCols.forall { c =>
      import org.apache.spark.sql.types._
      df.schema(c).dataType match {
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType => true
        case _ => false // binary, array, struct, map, …
      }
    }
    val out = sumType match {
      case LongType | DoubleType if keysFoldable =>
        foldInterior(joined, groupCols, orderCol, valueCol, outCol,
          sumType == LongType)
      case _ => // decimal sums / non-atomic keys: legacy window form
        //        (extra narrow exchange)
        val wIn = Window.partitionBy(col("__pid") +: gcols: _*)
          .orderBy(col(orderCol))
          .rowsBetween(Window.unboundedPreceding, 0)
        joined.withColumn(outCol, col("__offset") + sum(col(valueCol)).over(wIn))
    }
    (out.drop("__pid", "__offset"), total, subtotals)
  }

  /** Global (no-group) exclusive prefix of the per-partition subtotals,
    * computed on the DRIVER: the subtotal frame is one row per range
    * partition — bounded by partition COUNT, never by data — so a
    * collect + left fold is the honest shape for it (the window
    * alternative has an empty partition spec, i.e. the exact
    * "WindowExec: No Partition Defined" plan node this operator exists
    * to avoid, even though the frame here is tiny). The fold adds in
    * ascending `__pid` order with the same skip-nulls semantics and the
    * same left-to-right `+` chain as the window form, so long offsets
    * are exact and double offsets are bit-identical. */
  private def driverPrefix(spark: SparkSession,
                           subtotals: DataFrame): (DataFrame, Option[Any]) = {
    val sumType = subtotals.schema("__psum").dataType
    val rows = subtotals.collect().sortBy(_.getInt(0))
    var accL = 0L
    var accD = 0.0
    var accB: java.math.BigDecimal = java.math.BigDecimal.ZERO
    var seen = false
    val out: Seq[Row] = rows.toSeq.map { r =>
      val off: Any = sumType match {
        case LongType   => accL
        case DoubleType => accD
        case _          => accB
      }
      if (!r.isNullAt(1)) {
        seen = true
        sumType match {
          case LongType   => accL += r.getLong(1)
          case DoubleType => accD += r.getDouble(1)
          case _          => accB = accB.add(r.getDecimal(1))
        }
      }
      Row(r.getInt(0), off)
    }
    val total: Option[Any] =
      if (!seen) None // sum() over no rows / all nulls is null
      else Some(sumType match {
        case LongType   => accL
        case DoubleType => accD
        case _          => accB
      })
    (spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__offset", sumType)))), total)
  }

  /** The exchange-free interior pass: partition-local sort on
    * (partition, groups, order), then one fold per partition that
    * resets its accumulator on every (partition-id, group-key) change
    * and emits `__offset + running-interior-sum`. Matches the window
    * form bit for bit, nulls included: null values don't advance the
    * accumulator, and a row before the first non-null value of its
    * stretch gets a NULL running total (x + NULL = NULL in the window
    * form, whatever the offset).
    *
    * Runs over INTERNAL rows ([[org.apache.spark.sql.graftshim
    * .InternalRows]]): the Dataset `mapPartitions[Row]` form paid a
    * full RowEncoder round-trip per row — measured r19 at 60 M rows,
    * a third of the fold stage's CPU was collecting boxed Row garbage
    * (12.6 s GC / 37.5 s CPU). Here each output row is a reused
    * JoinedRow view (input row + one-slot run row) that the re-entry
    * scan re-projects; per-row allocation is one boxed run value. */
  private def foldInterior(joined: DataFrame, groupCols: Seq[String],
                           orderCol: String, valueCol: String,
                           outCol: String, isLong: Boolean): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.unsafe.types.UTF8String
    val sortKeys = (col("__pid") +: groupCols.map(col)) :+ col(orderCol)
    val sorted = joined.sortWithinPartitions(sortKeys: _*)
    val inSchema = sorted.schema
    val outSchema = inSchema.add(outCol, if (isLong) LongType else DoubleType)
    val pIdx = inSchema.fieldIndex("__pid")
    val gIdx = groupCols.map(inSchema.fieldIndex).toArray
    val gTypes = gIdx.map(inSchema(_).dataType)
    val vIdx = inSchema.fieldIndex(valueCol)
    val vType = inSchema(vIdx).dataType
    val oIdx = inSchema.fieldIndex("__offset")
    org.apache.spark.sql.graftshim.InternalRows
      .mapPartitions(sorted, outSchema) { it =>
        // group-key values may point into the reused row buffer
        // (UTF8String) — copy on capture so the boundary compare
        // against the NEXT row reads stable bytes
        def keyOf(r: org.apache.spark.sql.catalyst.InternalRow): Array[Any] = {
          val k = new Array[Any](gIdx.length + 1)
          k(0) = r.getInt(pIdx)
          var i = 0
          while (i < gIdx.length) {
            val v = r.get(gIdx(i), gTypes(i))
            k(i + 1) = v match {
              case s: UTF8String => s.copy()
              case other => other
            }
            i += 1
          }
          k
        }
        var key: Array[Any] = null
        var seen = false
        var accL = 0L
        var accD = 0.0
        val runRow = new GenericInternalRow(1)
        val out = new JoinedRow
        it.map { r =>
          val k = keyOf(r)
          if (key == null || !java.util.Arrays.equals(key, k)) {
            key = k; seen = false; accL = 0L; accD = 0.0
          }
          if (!r.isNullAt(vIdx)) {
            seen = true
            val v = r.get(vIdx, vType).asInstanceOf[Number]
            if (isLong) accL += v.longValue() else accD += v.doubleValue()
          }
          if (!seen) runRow.update(0, null)
          else if (isLong) runRow.update(0, r.getLong(oIdx) + accL)
          else runRow.update(0, r.getDouble(oIdx) + accD)
          out(r, runRow)
        }
      }
  }

  /** Sequence packing: assign each row the shard in which its token run
    * STARTS, cutting shards at `budget` tokens — greedy first-fit in
    * `orderCol` order, the standard pre-tokenization shard layout for
    * training data. shard = floor(exclusive_prefix / budget).
    *
    * Built on the global [[cumsum]], so it runs Spark jobs when the
    * frame is built: [[driverPrefix]] collects the subtotals. */
  def packIntoShards(df: DataFrame, orderCol: String, tokenCol: String,
                     budget: Long, shardCol: String = "shard"): DataFrame =
    cumsum(df, orderCol, tokenCol, "__cum")
      .withColumn(shardCol,
        floor((col("__cum") - col(tokenCol)) / lit(budget)).cast("long"))
      .drop("__cum")
}
