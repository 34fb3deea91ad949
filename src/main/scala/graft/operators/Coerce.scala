package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Lenient

/** T1 assembled — the schema-driven lenient coercion stage (reference
  * dump-es-parquet:112-183, SURVEY.md §1.4): walk a target StructType and
  * coerce whatever the source DataFrame holds into it, field by field,
  * with the reference's log-and-null semantics.
  *
  * Rules reproduced:
  *   - unknown source fields are dropped (projection to the target schema,
  *     reference :117-118);
  *   - missing target fields become typed nulls (schema fixed up front);
  *   - list values scalarize to their first element, empty -> null (:132-137);
  *   - numerics/timestamps/strings go through the Lenient combinators;
  *   - nested structs recurse (:139-144).
  *
  * Everything is a pure Column expression — the whole stage collapses into
  * one codegen'd projection, so at 100 TB it costs a map, never a shuffle.
  * Observability (T6) is via `counted`, the one counting entry point:
  * `observe` metrics counting rows nulled per field — Spark's
  * accumulator-backed, dedup-by-definition equivalent of the reference's
  * warning counters (:85,304-305,352-353).
  */
object Coerce {

  /** Expression coercing `src` (typed as in the source schema) to `target`. */
  def coerceColumn(src: Column, srcType: DataType, target: DataType): Column =
    (srcType, target) match {
      // native ArrayType target (beyond the reference, e.g. embeddings)
      case (ArrayType(_, _), at: ArrayType) => src.cast(at)
      // T2 first-of-list scalarization, then coerce the element
      case (ArrayType(et, _), t) =>
        coerceColumn(Lenient.firstOfList(src), et, t)
      case (s, t) if s == t => src
      case (_, ByteType | ShortType | IntegerType | LongType) =>
        Lenient.lenientLong(src).cast(target)
      case (_, FloatType | DoubleType) =>
        Lenient.lenientDouble(src).cast(target)
      case (st: StructType, TimestampType) => lit(null).cast(TimestampType)
      // numeric sources skip string round-tripping: a double epoch like
      // 1.7000000005e9 stringifies in E-notation, which the digits regex
      // would miss — truncate toward zero (Python int(float)) and apply
      // the epoch heuristic directly, matching MapSource's number branch
      case (ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType,
            TimestampType) =>
        Lenient.epochToTimestamp(src.cast("long"))
      case (_, TimestampType) => Lenient.lenientTimestamp(src)
      case (st: StructType, StringType) => to_json(src) // object -> raw JSON
      case (_, StringType) => Lenient.lenientString(src)
      case (_, BooleanType) => src.cast("string").cast(BooleanType)
      // nested struct target: rebuild field by field (recursion, :139-144)
      case (s: StructType, t: StructType) =>
        val fields = t.fields.flatMap { tf =>
          s.find(_.name == tf.name) match {
            case Some(sf) =>
              Seq(lit(tf.name), coerceColumn(src.getField(tf.name), sf.dataType, tf.dataType))
            case None => Seq(lit(tf.name), lit(null).cast(tf.dataType))
          }
        }
        when(src.isNotNull, struct_from(fields.toSeq)).otherwise(lit(null).cast(t))
      case _ => lit(null).cast(target)
    }

  private def struct_from(nameValuePairs: Seq[Column]): Column = {
    // named_struct('a', col, 'b', col, ...)
    call_function("named_struct", nameValuePairs: _*)
  }

  /** Project `df` onto `target`: drop unknown columns, null-fill missing
    * ones, lenient-coerce the rest. The one projection body; [[counted]]
    * wraps the same columns with the T6 counters. */
  def apply(target: StructType)(df: DataFrame): DataFrame =
    df.select(columns(target, df, ""): _*)

  /** The coerced target columns, each named `prefix + field`. */
  private def columns(target: StructType, df: DataFrame, prefix: String): Seq[Column] = {
    val srcFields = df.schema.fields.map(f => f.name -> f).toMap
    target.fields.toSeq.map { tf =>
      val c = srcFields.get(tf.name) match {
        case Some(sf) => coerceColumn(col(s"`${tf.name}`"), sf.dataType, tf.dataType)
        case None     => lit(null).cast(tf.dataType)
      }
      c.as(prefix + tf.name)
    }
  }

  /** T6 — [[apply]] plus, per target field the source holds, a
    * `null_<field>` count of rows whose present input coerced to null
    * (the reference's per-message warning counters, flushed once per
    * table). In batch they attach through the returned [[Observation]]
    * `name`, read by `obs.get` after the first action (DumpJob's
    * warnings); Spark refuses an Observation on a streaming Dataset, so
    * there a named `observe` feeds `StreamingQueryProgress.observedMetrics`
    * and None is returned — as when no field is shared, where `obs.get`
    * would never return. */
  def counted(target: StructType, name: String)(df: DataFrame): (DataFrame, Option[Observation]) = {
    val present = df.columns.toSet
    val counters = target.fields.toSeq.collect {
      case tf if present(tf.name) =>
        sum(when(col(s"`${tf.name}`").isNotNull &&
                 col(s"`__coerced_${tf.name}`").isNull, 1L).otherwise(0L))
          .as(s"null_${tf.name}")
    }
    if (counters.isEmpty) (apply(target)(df), None)
    else {
      // keep source and coerced columns side by side so the counters can
      // compare "input present, output lost" per field, then project down
      val wide = df.select(df.columns.toSeq.map(c => col(s"`$c`")) ++
        columns(target, df, "__coerced_"): _*)
      val obs = if (df.isStreaming) None else Some(Observation(name))
      val observed = obs.fold(wide.observe(name, counters.head, counters.tail: _*))(
        o => wide.observe(o, counters.head, counters.tail: _*))
      (observed.select(target.fieldNames.toSeq.map(n => col(s"`__coerced_$n`").as(n)): _*), obs)
    }
  }
}
