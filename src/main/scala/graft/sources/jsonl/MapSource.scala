package graft.sources.jsonl

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken, StreamReadFeature}
import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.io.JsonEOFException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Lenient

/** The reference's `map_source` document→row coercion
  * (dump-es-parquet:112-183, SURVEY §1.4) as a streaming kernel: JSON
  * tokens go straight into the row, with no JSON tree in between. Shares
  * its semantics (and constants) with the Column-based Coerce/Lenient
  * stage; CoerceSpec, JsonlSourceSpec and MapSourceSpec pin the two
  * implementations to each other.
  *
  * Rules: unknown fields dropped (skipped unparsed); missing/null -> null;
  * array -> first element, empty -> null (:132-137); nested object ->
  * recurse (:139-144); every conversion failure -> null, never throw.
  * Duplicate keys: the last one wins, as in a JSON tree. Malformed or
  * truncated JSON throws the parser's exception — the caller decides
  * whether that skips a line or fails a page.
  */
object MapSource {

  /** The parser factory of every document read. Jackson's fast double
    * parser is correctly rounded: it yields the JDK's doubles. */
  val json: JsonFactory =
    new JsonFactoryBuilder().enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER).build()

  // objects and arrays read into string columns keep their raw JSON as a
  // tree prints it (normalized numbers, last duplicate key)
  private val mapper = new ObjectMapper(json)

  private final val KLong = 0; private final val KInt = 1; private final val KShort = 2
  private final val KByte = 3; private final val KFloat = 4; private final val KDouble = 5
  private final val KBool = 6; private final val KString = 7; private final val KTime = 8
  private final val KStruct = 9; private final val KArray = 10; private final val KOther = 11

  /** One target type, compiled: its kind, and the layout of a struct or
    * the element of an array. */
  private final class Slot(dt: DataType) {
    val kind: Int = dt match {
      case LongType => KLong; case IntegerType => KInt; case ShortType => KShort
      case ByteType => KByte; case FloatType => KFloat; case DoubleType => KDouble
      case BooleanType => KBool; case StringType => KString; case TimestampType => KTime
      case _: StructType => KStruct; case _: ArrayType => KArray; case _ => KOther
    }
    val struct: Layout = dt match { case st: StructType => new Layout(st); case _ => null }
    val elem: Slot = dt match { case ArrayType(et, _) => new Slot(et); case _ => null }
  }

  /** A schema compiled once: field name -> ordinal, and one slot per
    * field. A name the schema holds twice maps to all its ordinals. */
  private final class Layout(val schema: StructType) {
    val slots: Array[Slot] = schema.fields.map(f => new Slot(f.dataType))
    val ordinals: java.util.HashMap[String, Array[Int]] = {
      val m = new java.util.HashMap[String, Array[Int]]()
      schema.fields.indices.foreach(i =>
        m.merge(schema(i).name, Array(i), (a: Array[Int], b: Array[Int]) => a ++ b))
      m
    }
  }

  // one layout per reader thread: a partition reader decodes every
  // document against the same schema instance
  private val cached = new ThreadLocal[Layout]

  private def layout(schema: StructType): Layout = {
    val l = cached.get()
    if (l != null && (l.schema eq schema)) l
    else { val n = new Layout(schema); cached.set(n); n }
  }

  /** Reads the JSON value at the parser's current token into a row of
    * `schema` and leaves the parser on the value's last token. A value
    * that is not an object gives a row of nulls. */
  def read(p: JsonParser, schema: StructType): InternalRow = readRow(p, layout(schema))

  /** The row of a document that has no `_source`. */
  def nulls(schema: StructType): InternalRow = new GenericInternalRow(schema.length)

  def coerce(doc: JsonNode, schema: StructType): InternalRow =
    if (doc == null) nulls(schema) else read(at(doc), schema)

  def coerceValue(raw: JsonNode, target: DataType): Any =
    if (raw == null) null else value(at(raw), new Slot(target))

  private def at(node: JsonNode): JsonParser = {
    val p = node.traverse()
    p.nextToken()
    p
  }

  private def readRow(p: JsonParser, l: Layout): InternalRow = {
    val values = new Array[Any](l.slots.length)
    if (p.currentToken() == JsonToken.START_OBJECT) {
      var name = p.nextFieldName()
      while (name != null) {
        p.nextToken()
        val ords = l.ordinals.get(name)
        if (ords == null) p.skipChildren()
        else if (ords.length == 1) values(ords(0)) = value(p, l.slots(ords(0)))
        else {
          // a name the schema holds twice: read once, coerce per field
          val node: JsonNode = mapper.readTree(p)
          ords.foreach(o => values(o) = value(at(node), l.slots(o)))
        }
        name = p.nextFieldName()
      }
      endOf(p, JsonToken.END_OBJECT)
    } else p.skipChildren()
    new GenericInternalRow(values)
  }

  /** A field value: T2 scalarizes a list to its first element, except
    * into array columns, which take the list itself. */
  private def value(p: JsonParser, s: Slot): Any =
    if (p.currentToken() != JsonToken.START_ARRAY || s.kind == KArray) direct(p, s)
    else if (p.nextToken() == JsonToken.END_ARRAY) null
    else {
      val v = direct(p, s)
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY) {
        if (t == null) endOf(p, JsonToken.END_ARRAY)
        p.skipChildren()
        t = p.nextToken()
      }
      v
    }

  /** The value at the current token, coerced without scalarizing. */
  private def direct(p: JsonParser, s: Slot): Any = {
    val t = p.currentToken()
    if (t == JsonToken.VALUE_NULL) return null
    val v: Any = (s.kind: @annotation.switch) match {
      case KLong  => longOf(p, t)
      case KInt   => narrow(longOf(p, t))(_.toInt)
      case KShort => narrow(longOf(p, t))(_.toShort)
      case KByte  => narrow(longOf(p, t))(_.toByte)
      case KDouble => doubleOf(p, t)
      case KFloat => val d = doubleOf(p, t); if (d == null) null else d.floatValue
      case KBool  => booleanOf(p, t)
      case KString =>
        // str(v); objects/arrays keep their raw JSON (reference's
        // `object` handling)
        val text = t match {
          case JsonToken.VALUE_STRING => p.getText
          case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => numberText(p)
          case JsonToken.VALUE_TRUE => "true"
          case JsonToken.VALUE_FALSE => "false"
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY => mapper.readTree[JsonNode](p).toString
          case _ => null
        }
        if (text == null) null else UTF8String.fromString(text)
      case KTime => t match {
        case JsonToken.VALUE_NUMBER_INT => epochMicros(integral(p))
        case JsonToken.VALUE_NUMBER_FLOAT => epochMicros(p.getDoubleValue.toLong)
        case JsonToken.VALUE_STRING => timestampMicros(p.getText)
        case _ => null
      }
      case KStruct => if (t == JsonToken.START_OBJECT) readRow(p, s.struct) else null
      case KArray =>
        if (t != JsonToken.START_ARRAY) null
        else {
          val out = new java.util.ArrayList[Any]()
          var e = p.nextToken()
          while (e != JsonToken.END_ARRAY) {
            if (e == null) endOf(p, JsonToken.END_ARRAY)
            out.add(value(p, s.elem))
            e = p.nextToken()
          }
          new GenericArrayData(out.toArray)
        }
      case _ => null
    }
    // a container this slot cannot take is skipped whole
    if (v == null) p.skipChildren()
    v
  }

  /** A structure the parser left without its closing token was cut. */
  private[sources] def endOf(p: JsonParser, close: JsonToken): Unit =
    if (p.currentToken() != close)
      throw new JsonEOFException(p, p.currentToken(), s"unexpected end of input: expected $close")

  private def narrow(l: java.lang.Long)(f: Long => Any): Any =
    if (l == null) null else f(l.longValue)

  /** A JSON integer as a Long; beyond the Long range, int(float(v)) — it
    * saturates, like the same digits in a string and like the Column
    * stage's cast. */
  private def integral(p: JsonParser): Long =
    if (p.getNumberType == NumberType.BIG_INTEGER) p.getDoubleValue.toLong
    else p.getLongValue

  /** Python int(v) with int(float(v)) fallback (reference :163-170). */
  private def longOf(p: JsonParser, t: JsonToken): java.lang.Long = t match {
    case JsonToken.VALUE_NUMBER_INT => integral(p)
    case JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue.toLong // trunc toward 0
    case JsonToken.VALUE_STRING =>
      val s = p.getText.trim
      s.toLongOption.orElse(s.toDoubleOption.map(_.toLong)).map(Long.box).orNull
    case _ => null
  }

  /** Python float(v) (reference :171-175). */
  private def doubleOf(p: JsonParser, t: JsonToken): java.lang.Double = t match {
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue
    case JsonToken.VALUE_STRING => p.getText.trim.toDoubleOption.map(Double.box).orNull
    case _ => null
  }

  /** Mirrors the Column stage's `cast(string).cast(boolean)` (Coerce:46):
    * Spark's non-ANSI string→boolean accepts t/true/y/yes/1 and
    * f/false/n/no/0, trimmed and case-insensitive — so the same dumped
    * document reads back identically through either path. */
  private def booleanOf(p: JsonParser, t: JsonToken): Any = {
    val text = t match {
      case JsonToken.VALUE_TRUE => return java.lang.Boolean.TRUE
      case JsonToken.VALUE_FALSE => return java.lang.Boolean.FALSE
      case JsonToken.VALUE_STRING => p.getText
      case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => numberText(p)
      case _ => return null
    }
    text.trim.toLowerCase match {
      case "t" | "true" | "y" | "yes" | "1" => java.lang.Boolean.TRUE
      case "f" | "false" | "n" | "no" | "0" => java.lang.Boolean.FALSE
      case _                                => null
    }
  }

  /** A number as a JSON tree prints it: `1.50` -> `1.5`, `1E3` ->
    * `1000.0`, `-0` -> `0`, and a double beyond range quoted
    * (`"Infinity"`). */
  private def numberText(p: JsonParser): String = p.getNumberType match {
    case NumberType.INT | NumberType.LONG => java.lang.Long.toString(p.getLongValue)
    case NumberType.BIG_INTEGER => p.getBigIntegerValue.toString
    case NumberType.BIG_DECIMAL => p.getDecimalValue.toString
    case NumberType.FLOAT =>
      val f = p.getFloatValue
      if (f.isInfinite || f.isNaN) s"\"$f\"" else java.lang.Float.toString(f)
    case _ =>
      val d = p.getDoubleValue
      if (d.isInfinite || d.isNaN) s"\"$d\"" else java.lang.Double.toString(d)
  }

  /** The epoch heuristic: below 2e10 seconds, else millis, bounded to
    * Python datetime's range (reference :145-162). */
  private def epochMicros(l: Long): Any =
    if (l < Lenient.EpochBoundary) {
      if (l >= Lenient.MinEpochSeconds) java.lang.Long.valueOf(l * 1000000L) else null
    } else {
      if (l <= Lenient.MaxEpochMillis) java.lang.Long.valueOf(l * 1000L) else null
    }

  /** A textual timestamp: an integer takes the epoch heuristic, anything
    * else is read as ISO-8601; null on anything unparseable. Returns
    * micros since epoch (UTC). */
  def timestampMicros(text: String): Any = {
    val s = text.trim
    if (isInteger(s)) s.toLongOption.map(epochMicros).orNull
    else {
      val fast = isoInstantMicros(s)
      if (fast != NotIso) java.lang.Long.valueOf(fast) else parseIso(s)
    }
  }

  /** `-?[0-9]+`, ASCII digits only. */
  private def isInteger(s: String): Boolean = {
    var i = if (s.startsWith("-")) 1 else 0
    if (i == s.length) return false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      i += 1
    }
    true
  }

  private final val NotIso = Long.MinValue

  /** The canonical instant `yyyy-MM-ddTHH:mm:ss[.f{1,9}](Z|±HH:MM)` (a
    * space for the `T` too, as [[parseIso]] normalizes it) in micros, with
    * every field range-checked; `NotIso` for any other shape or any field
    * out of range, which leaves the answer to the java.time chain. */
  private def isoInstantMicros(s: String): Long = {
    val n = s.length
    if (n < 20) return NotIso
    def d2(i: Int): Int = {
      val a = s.charAt(i) - '0'; val b = s.charAt(i + 1) - '0'
      if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
    }
    val c10 = s.charAt(10)
    if (s.charAt(4) != '-' || s.charAt(7) != '-' || (c10 != 'T' && c10 != ' ') ||
        s.charAt(13) != ':' || s.charAt(16) != ':') return NotIso
    val (y1, y2) = (d2(0), d2(2))
    val (month, day) = (d2(5), d2(8))
    val (hour, minute, second) = (d2(11), d2(14), d2(17))
    if (y1 < 0 || y2 < 0) return NotIso
    val year = y1 * 100 + y2
    if (month < 1 || month > 12 || day < 1 || day > monthLength(year, month) ||
        hour < 0 || hour > 23 || minute < 0 || minute > 59 ||
        second < 0 || second > 59) return NotIso
    var i = 19
    var nanos = 0
    if (s.charAt(i) == '.') {
      i += 1
      val start = i
      while (i < n && i - start < 9 && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        nanos = nanos * 10 + (s.charAt(i) - '0')
        i += 1
      }
      if (i == start) return NotIso
      var k = i - start
      while (k < 9) { nanos *= 10; k += 1 }
    }
    val offset =
      if (i == n - 1 && s.charAt(i) == 'Z') 0
      else if (i == n - 6 && (s.charAt(i) == '+' || s.charAt(i) == '-') &&
               s.charAt(i + 3) == ':') {
        val (oh, om) = (d2(i + 1), d2(i + 4))
        if (oh < 0 || oh > 17 || om < 0 || om > 59) return NotIso
        (oh * 3600 + om * 60) * (if (s.charAt(i) == '-') -1 else 1)
      } else return NotIso
    val secs = epochDay(year, month, day) * 86400L +
      hour * 3600 + minute * 60 + second - offset
    secs * 1000000L + nanos / 1000
  }

  private def isLeap(y: Int): Boolean = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)

  private def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days from 1970-01-01 to a proleptic Gregorian date of year 0..9999
    * (the computation of `LocalDate.toEpochDay`). */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    var total = 365L * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
    total += (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (isLeap(y)) 1 else 2)
    total - 719528L
  }

  private def parseIso(s: String): Any = {
    import java.time._
    import java.time.format.DateTimeFormatter
    val norm = if (s.length > 10 && s.charAt(10) == ' ') s.updated(10, 'T') else s
    def micros(i: Instant) = java.lang.Long.valueOf(
      i.getEpochSecond * 1000000L + i.getNano / 1000L)
    try micros(OffsetDateTime.parse(norm).toInstant)
    catch { case _: Exception =>
      try micros(LocalDateTime.parse(norm).toInstant(ZoneOffset.UTC))
      catch { case _: Exception =>
        try micros(LocalDate.parse(norm, DateTimeFormatter.ISO_LOCAL_DATE)
          .atStartOfDay(ZoneOffset.UTC).toInstant)
        catch { case _: Exception => null }
      }
    }
  }
}
