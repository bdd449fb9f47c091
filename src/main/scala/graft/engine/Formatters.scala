package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.RebaseDateTime
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

/** Row-to-text encoders replicating the reference formatters'
  * byte-level output (chiv_formatters.go: CSV 42–96, YAML 98–143,
  * JSON 145–221) against the golden corpus in
  * /root/reference/testdata/postgres/.
  *
  * The Engine formats through [[RowWriter]]s. Each built-in formatter
  * compiles one writer per schema: key order, pre-encoded key
  * prefixes, the null text and one cell writer per column type are
  * decided once, and every row's UTF-8 bytes are appended straight
  * from Spark's `InternalRow` into a reused [[Utf8Buffer]] — no
  * external `Row`, no per-cell `String`, no second encode. Cells
  * without a fast path (decimal, float, date, binary, nested, and
  * timestamps outside the fast range) convert only that one cell and
  * take [[Render]]'s text. Every text a format emits — string cells,
  * converted cells, the null placeholder, CSV's header — goes through
  * that format's one [[Text]], its quoting and escaping over UTF-8
  * bytes. The public `row(schema, Row, nullValue)` entry point
  * converts the `Row` and runs the same writer: one copy of the byte
  * rules.
  *
  * [[Render]] stays the value-level helper for `Format.Custom`
  * authors, whose formatters see external `Row`s (adapted at the edge
  * by [[RowFormatter.writer]]).
  */
object Render {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val tsFracFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

  /** Scalar → text; None = SQL NULL. Numeric rendering matches Go's
    * strconv/json.Marshal shortest forms (42, 3.14, integral doubles
    * without ".0").
    */
  def scalar(v: Any): Option[String] = v match {
    case null => None
    case d: Double => Some(num(d))
    // floats keep their own shortest form — widening to double would
    // print binary noise (3.14f.toDouble = 3.140000104904175)
    case f: Float =>
      Some(if (f.isWhole && math.abs(f) < 1e15f) f.toLong.toString else f.toString)
    case dec: java.math.BigDecimal => Some(dec.stripTrailingZeros.toPlainString)
    case i: Instant => Some(ts(i))
    case t: java.sql.Timestamp => Some(ts(t.toInstant))
    case ldt: LocalDateTime => Some(ts(ldt.toInstant(ZoneOffset.UTC)))
    case d: java.time.LocalDate => Some(d.toString)
    case d: java.sql.Date => Some(d.toLocalDate.toString)
    case b: Array[Byte] => Some(java.util.Base64.getEncoder.encodeToString(b))
    case other => Some(other.toString)
  }

  private def num(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** [[scalar]]'s double rule, appended without a String when whole. */
  private[engine] def double(d: Double, out: Utf8Buffer): Unit = {
    val l = d.toLong
    if (l.toDouble == d && math.abs(d) < 1e15) out.long(l)
    else out.string(java.lang.Double.toString(d))
  }

  private def ts(i: Instant): String = {
    val utc = i.atZone(ZoneOffset.UTC)
    if (i.getNano == 0) tsFmt.format(utc) else tsFracFmt.format(utc)
  }

  /** [[scalar]]'s timestamp text straight from epoch micros (UTC,
    * proleptic Gregorian): `yyyy-MM-ddTHH:mm:ssZ`, with `.SSSSSS`
    * only for a non-zero fraction. Years 1–9999 only; callers fall
    * back to [[scalar]] outside them (the formatter prints a `+`
    * above 9999 and the year of era below 1).
    */
  private[engine] def timestamp(micros: Long, out: Utf8Buffer): Unit = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L).toInt
    val sod = Math.floorMod(secs, 86400L).toInt
    // civil-from-days (H. Hinnant): era-relative day → (y, m, d)
    val z = Math.floorDiv(secs, 86400L) + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = (yoe + era * 400L + (if (month <= 2) 1 else 0)).toInt
    out.padded(year, 4); out.byte('-'); out.padded(month, 2); out.byte('-')
    out.padded(day, 2); out.byte('T'); out.padded(sod / 3600, 2); out.byte(':')
    out.padded(sod / 60 % 60, 2); out.byte(':'); out.padded(sod % 60, 2)
    if (frac != 0) { out.byte('.'); out.padded(frac, 6) }
    out.byte('Z')
  }

  /** Null overlay (chiv.go:175–181): placeholder replaces NULL in any
    * column and is rendered as a plain string downstream.
    */
  def cell(v: Any, nullValue: Option[String]): Option[String] =
    scalar(v).orElse(nullValue)
}

/** A growable byte buffer that [[RowWriter]]s append UTF-8 into.
  * Reused across rows: `reset()` keeps the capacity.
  */
final class Utf8Buffer(initialCapacity: Int = 1 << 12) {
  private var buf = new Array[Byte](initialCapacity)
  private var len = 0

  def length: Int = len
  def reset(): Unit = len = 0
  def byteAt(i: Int): Byte = buf(i)
  /** A copy of the first `n` bytes. */
  def slice(n: Int): Array[Byte] = java.util.Arrays.copyOf(buf, n)
  def writeTo(out: java.io.OutputStream): Unit = out.write(buf, 0, len)
  override def toString: String = new String(buf, 0, len, UTF_8)

  private def reserve(n: Int): Unit =
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  def byte(b: Int): Unit = {
    reserve(1)
    buf(len) = b.toByte
    len += 1
  }

  def bytes(a: Array[Byte]): Unit = {
    reserve(a.length)
    System.arraycopy(a, 0, buf, len, a.length)
    len += a.length
  }

  def utf8(s: UTF8String): Unit = {
    val n = s.numBytes
    reserve(n)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
    len += n
  }

  def string(s: String): Unit = bytes(s.getBytes(UTF_8))

  /** Decimal digits of `v`, as `v.toString` spells them. */
  def long(v: Long): Unit =
    if (v == Long.MinValue) string(v.toString)
    else {
      var x = math.abs(v)
      var n = 1
      var p = 10L
      while (n < 19 && x >= p) { n += 1; p *= 10 }
      if (v < 0) byte('-')
      reserve(n)
      var i = len + n - 1
      while (i >= len) { buf(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
      len += n
    }

  /** Non-negative `v` left-padded with zeros to `width` digits. */
  def padded(v: Int, width: Int): Unit = {
    reserve(width)
    var x = v
    var i = len + width - 1
    while (i >= len) { buf(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    len += width
  }
}

/** One schema's compiled row writer: appends one row's bytes. The
  * Engine compiles it on the driver and ships it to the tasks.
  */
trait RowWriter extends Serializable {
  def write(row: InternalRow, out: Utf8Buffer): Unit
}

/** Formatter SPI (reference `Formatter`: Open/Format/Close,
  * chiv_formatters.go:23–35): optional prologue, per-row text, row
  * separator, optional epilogue. OPEN for user implementations — the
  * reference accepts any `Formatter`/`FormatterFunc` via `WithFormat`
  * (chiv_formatters.go:23–40, chiv_options.go:7–12); the Spark-side
  * equivalent is `Format.Custom(myFormatter, ext)` in [[ArchiveConfig]],
  * flowing through both the single-object and sharded row paths.
  * Implementations run inside partition iterators on executors, hence
  * `Serializable`; they must be pure functions of (schema, row) — any
  * speculative re-execution must produce identical bytes.
  */
trait RowFormatter extends Serializable {
  def open(schema: StructType): String
  def row(schema: StructType, r: Row, nullValue: Option[String]): String
  def separator: String
  def close: String

  /** The writer the Engine formats rows with, compiled once per
    * schema. This default adapts [[row]] at the edge — each
    * `InternalRow` becomes an external `Row` — so a custom formatter
    * implements `row` only; the built-ins override it.
    */
  def writer(schema: StructType, nullValue: Option[String]): RowWriter = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    (r, out) => out.string(row(schema, toRow(r).asInstanceOf[Row], nullValue))
  }
}

/** A cell writer for one non-null column value. */
private[engine] trait Cell extends Serializable {
  def write(row: InternalRow, ord: Int, out: Utf8Buffer): Unit
}

/** One format's quoting and escaping of a text value, over its UTF-8
  * bytes. Every text a format emits goes through it: string cells,
  * the text of converted cells, the null placeholder and CSV's header.
  */
private[engine] trait Text extends Serializable {
  def write(s: UTF8String, out: Utf8Buffer): Unit
}

/** The shipped formats: per-schema compiled byte writers. A subclass
  * fixes the cell order, the bytes around each cell, the null text and
  * its [[Text]] rules; `row` is the same writer behind a
  * `Row` → `InternalRow` conversion.
  */
sealed abstract class CompiledFormatter extends RowFormatter {

  /** Indices of `schema`'s fields in output order. */
  protected def order(schema: StructType): Array[Int]

  /** Bytes before each cell (in output order) and after the last. */
  protected def frame(names: Array[String]): (Array[String], String)

  /** This format's text rules. */
  protected def text: Text

  /** A NULL cell's text when no placeholder is set. */
  protected def nullLiteral: String

  /** True when timestamps are wrapped in double quotes. */
  protected def quotesTimestamps: Boolean

  override def writer(schema: StructType, nullValue: Option[String]): RowWriter = {
    val ords = order(schema)
    val (pre, post) = frame(ords.map(schema.fields(_).name))
    val nulls = nullValue match {
      case Some(v) => val b = new Utf8Buffer(); text.write(UTF8String.fromString(v), b); b.slice(b.length)
      case None => nullLiteral.getBytes(UTF_8)
    }
    new CompiledWriter(ords, pre.map(_.getBytes(UTF_8)), post.getBytes(UTF_8),
      ords.map(i => cell(schema.fields(i).dataType)), nulls)
  }

  private def cell(dt: DataType): Cell = dt match {
    case BooleanType => (r, o, out) => out.bytes(if (r.getBoolean(o)) Bytes.True else Bytes.False)
    case ByteType => (r, o, out) => out.long(r.getByte(o))
    case ShortType => (r, o, out) => out.long(r.getShort(o))
    case IntegerType => (r, o, out) => out.long(r.getInt(o))
    case LongType => (r, o, out) => out.long(r.getLong(o))
    case DoubleType => (r, o, out) => Render.double(r.getDouble(o), out)
    case _: StringType => val t = text; (r, o, out) => t.write(r.getUTF8String(o), out)
    // Spark rebases LTZ timestamps to the hybrid Julian calendar when
    // it builds the external java.sql.Timestamp; that is the identity
    // from its last calendar switch (1900-01-01 in every zone) on, so
    // only there is the text a pure function of the micros
    case TimestampType => timestamp(dt, RebaseDateTime.lastSwitchGregorianTs)
    case TimestampNTZType => timestamp(dt, Bytes.MinMicros)
    case _ => converted(dt)
  }

  private def timestamp(dt: DataType, from: Long): Cell = {
    val slow = converted(dt)
    val quote = quotesTimestamps
    (r, o, out) => {
      val us = r.getLong(o)
      if (us < from || us >= Bytes.MaxMicros) slow.write(r, o, out)
      else {
        if (quote) out.byte('"')
        Render.timestamp(us, out)
        if (quote) out.byte('"')
      }
    }
  }

  /** Every cell without a fast path: convert that one value and take
    * [[Render]]'s text of it — numbers bare, everything else through
    * this format's [[Text]].
    */
  private def converted(dt: DataType): Cell = {
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    (r, o, out) => toScala(r.get(o, dt)) match {
      case v @ (_: Boolean | _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
          _: java.math.BigDecimal) => out.string(Render.scalar(v).get)
      case v => text.write(UTF8String.fromString(Render.scalar(v).get), out)
    }
  }

  /** One row through the compiled writer. The row must match `schema`
    * exactly — each value of the external type Spark maps the field's
    * type to (`Long` for LongType, `java.sql.Timestamp` or `Instant`
    * for TimestampType, …) — since it is converted to Spark's internal
    * form first; a mismatched value throws. Compiles the writer on
    * every call: the Engine compiles once per schema through
    * [[writer]].
    */
  final def row(schema: StructType, r: Row, nullValue: Option[String]): String = {
    val b = new Utf8Buffer(256)
    writer(schema, nullValue)
      .write(CatalystTypeConverters.createToCatalystConverter(schema)(r).asInstanceOf[InternalRow], b)
    b.toString
  }
}

private final class CompiledWriter(ords: Array[Int], pre: Array[Array[Byte]],
    post: Array[Byte], cells: Array[Cell], nulls: Array[Byte]) extends RowWriter {
  def write(row: InternalRow, out: Utf8Buffer): Unit = {
    var k = 0
    while (k < ords.length) {
      out.bytes(pre(k))
      val o = ords(k)
      if (row.isNullAt(o)) out.bytes(nulls) else cells(k).write(row, o, out)
      k += 1
    }
    out.bytes(post)
  }
}

private object Bytes {
  val True: Array[Byte] = "true".getBytes(UTF_8)
  val False: Array[Byte] = "false".getBytes(UTF_8)
  /** 0001-01-01T00:00:00Z and 10000-01-01T00:00:00Z as epoch micros. */
  val MinMicros: Long = -62135596800L * 1000000L
  val MaxMicros: Long = 253402300800L * 1000000L

  /** True when `s` holds bytes ≥ 0x80 that are not valid UTF-8. Its
    * external String decodes them to U+FFFD, so a [[Text]] writes that
    * String's bytes instead.
    */
  def invalid(s: UTF8String, ascii: Boolean): Boolean = !ascii && !s.isValid

  def decoded(s: UTF8String): UTF8String = UTF8String.fromString(s.toString)

  private val hex = "0123456789abcdef".getBytes(UTF_8)
  def hex2(out: Utf8Buffer, b: Int): Unit = { out.byte(hex(b >> 4)); out.byte(hex(b & 15)) }
}

/** Go encoding/csv semantics: comma delimiter, `\n` terminator,
  * minimal quoting (quote only fields containing `"` `,` CR LF or
  * leading space/tab), `"` escaped by doubling. Header on open.
  */
object CsvFormatter extends CompiledFormatter {
  def open(schema: StructType): String = {
    val b = new Utf8Buffer()
    schema.fieldNames.zipWithIndex.foreach { case (name, k) =>
      if (k > 0) b.byte(',')
      CsvText.write(UTF8String.fromString(name), b)
    }
    b.byte('\n')
    b.toString
  }
  val separator = ""
  val close = ""

  protected def order(schema: StructType): Array[Int] = schema.fields.indices.toArray
  protected def frame(names: Array[String]): (Array[String], String) =
    (names.indices.map(k => if (k == 0) "" else ",").toArray, "\n")
  protected val text: Text = CsvText
  protected val nullLiteral = ""
  protected val quotesTimestamps = false

  private object CsvText extends Text {
    def write(t: UTF8String, out: Utf8Buffer): Unit = {
      val n = t.numBytes
      var quoted = n > 0 && (t.getByte(0) == ' ' || t.getByte(0) == '\t')
      var ascii = true
      var i = 0
      while (i < n) {
        val b = t.getByte(i)
        if (b == ',' || b == '"' || b == '\n' || b == '\r') quoted = true
        else if (b < 0) ascii = false
        i += 1
      }
      if (Bytes.invalid(t, ascii)) write(Bytes.decoded(t), out)
      else if (!quoted) out.utf8(t)
      else {
        out.byte('"')
        i = 0
        while (i < n) {
          val b = t.getByte(i)
          if (b == '"') out.byte('"')
          out.byte(b)
          i += 1
        }
        out.byte('"')
      }
    }
  }
}

/** Keys in alphabetical order (Go map marshaling order), stable for
  * equal names.
  */
private object SortedKeys {
  def apply(schema: StructType): Array[Int] =
    schema.fields.indices.sortBy(schema.fields(_).name).toArray
}

/** One JSON array of objects with alphabetically ordered keys (Go map
  * marshaling order) and Go's HTML-escaping of `<` `>` `&`
  * (json.Marshal default) — byte-compatible with the golden corpus.
  */
object JsonArrayFormatter extends CompiledFormatter {
  def open(schema: StructType): String = "["
  val separator = ","
  val close = "]"

  protected def order(schema: StructType): Array[Int] = SortedKeys(schema)
  protected def frame(names: Array[String]): (Array[String], String) =
    if (names.isEmpty) (Array.empty, "{}")
    else (names.indices.map(k => (if (k == 0) "{" else ",") + "\"" + names(k) + "\":").toArray, "}")
  protected val text: Text = JsonText
  protected val nullLiteral = "null"
  protected val quotesTimestamps = true

  private object JsonText extends Text {
    private def escapes(b: Byte): Boolean =
      (b >= 0 && b < ' ') || b == '"' || b == '\\' || b == '<' || b == '>' || b == '&'

    def write(t: UTF8String, out: Utf8Buffer): Unit = {
      val n = t.numBytes
      var plain = true
      var ascii = true
      var i = 0
      while (i < n) {
        val b = t.getByte(i)
        if (b < 0) ascii = false else if (escapes(b)) plain = false
        i += 1
      }
      if (Bytes.invalid(t, ascii)) write(Bytes.decoded(t), out)
      else {
        out.byte('"')
        if (plain) out.utf8(t)
        else {
          i = 0
          while (i < n) {
            val b = t.getByte(i)
            if (!escapes(b)) out.byte(b)
            else b match {
              case '"' => out.byte('\\'); out.byte('"')
              case '\\' => out.byte('\\'); out.byte('\\')
              case '\n' => out.byte('\\'); out.byte('n')
              case '\r' => out.byte('\\'); out.byte('r')
              case '\t' => out.byte('\\'); out.byte('t')
              case _ => out.byte('\\'); out.byte('u'); out.byte('0'); out.byte('0'); Bytes.hex2(out, b)
            }
            i += 1
          }
        }
        out.byte('"')
      }
    }
  }
}

/** go-yaml block-sequence style: `- key: value` entries, keys sorted,
  * `null` for NULL; strings quoted only when plain style would
  * misresolve — double quotes when the text resolves to another type
  * (timestamp/bool/number/null), single quotes when it contains flow
  * punctuation (golden: ts_column double-quoted, json_column
  * single-quoted, plain strings bare).
  */
object YamlFormatter extends CompiledFormatter {
  def open(schema: StructType): String = ""
  val separator = ""
  val close = ""

  protected def order(schema: StructType): Array[Int] = SortedKeys(schema)
  protected def frame(names: Array[String]): (Array[String], String) =
    (names.indices.map(k => (if (k == 0) "- " else "\n  ") + names(k) + ": ").toArray, "\n")
  protected val text: Text = YamlText
  protected val nullLiteral = "null"
  // every timestamp in the fast range resolves as one: double-quoted,
  // and its text holds nothing to escape
  protected val quotesTimestamps = true

  private val typedLike =
    ("^(true|false|yes|no|on|off|null|~|[-+]?[0-9]+|[-+]?(\\.inf)|\\.nan|" +
      "[-+]?[0-9]*\\.[0-9]+([eE][-+]?[0-9]+)?|" +
      "[0-9]{4}-[0-9]{2}-[0-9]{2}([Tt ][0-9:.]+([Zz]|[-+][0-9:]+)?)?)$").r

  private def typed(s: String): Boolean = typedLike.matches(s.toLowerCase)

  private val flowMask: Array[Boolean] =
    Array.tabulate(128)(c => "{}[]#&*!|>'\"%@`,\n\r\t".contains(c.toChar))

  private val words =
    Array("true", "false", "yes", "no", "on", "off", "null").map(_.getBytes(UTF_8))

  /** [[typed]] without the regex for most strings: a match that does
    * not start with a digit, sign, dot or `~` is one of its words, in
    * any case (`b | 0x20` folds only the upper-case letter onto each
    * lower-case one; no other character lower-cases into a word).
    */
  private def typedBytes(s: UTF8String): Boolean = {
    val n = s.numBytes
    val b0 = if (n > 0) s.getByte(0) else 0
    if ((b0 >= '0' && b0 <= '9') || b0 == '+' || b0 == '-' || b0 == '.' || b0 == '~')
      typed(s.toString)
    else words.exists { w =>
      var i = 0
      while (i < n && i < w.length && (s.getByte(i) | 0x20) == w(i)) i += 1
      i == n && i == w.length
    }
  }

  /** Double quotes when the text has control characters or resolves to
    * another type (the only style that represents control characters
    * faithfully: single-quoted folds raw newlines); single quotes when
    * plain style would misread it (flow punctuation, `: `, edge
    * spaces, a leading `- `, empty); plain otherwise.
    */
  private object YamlText extends Text {
    def write(t: UTF8String, out: Utf8Buffer): Unit = {
      val n = t.numBytes
      var control = false
      var flow = n == 0
      var ascii = true
      var i = 0
      while (i < n) {
        val b = t.getByte(i)
        if (b < 0) ascii = false
        else if (b < ' ') control = true
        else if (flowMask(b) || (b == ':' && (i + 1 == n || t.getByte(i + 1) == ' '))) flow = true
        i += 1
      }
      if (Bytes.invalid(t, ascii)) write(Bytes.decoded(t), out)
      else if (control || typedBytes(t)) {
        out.byte('"')
        i = 0
        while (i < n) {
          t.getByte(i) match {
            case '\\' => out.byte('\\'); out.byte('\\')
            case '"' => out.byte('\\'); out.byte('"')
            case '\n' => out.byte('\\'); out.byte('n')
            case '\r' => out.byte('\\'); out.byte('r')
            case '\t' => out.byte('\\'); out.byte('t')
            case b if b >= 0 && b < ' ' => out.byte('\\'); out.byte('x'); Bytes.hex2(out, b)
            case b => out.byte(b)
          }
          i += 1
        }
        out.byte('"')
      } else if (flow || t.getByte(0) == ' ' || t.getByte(n - 1) == ' ' ||
          (n > 1 && t.getByte(0) == '-' && t.getByte(1) == ' ')) {
        out.byte('\'')
        i = 0
        while (i < n) {
          val b = t.getByte(i)
          if (b == '\'') out.byte('\'')
          out.byte(b)
          i += 1
        }
        out.byte('\'')
      } else out.utf8(t)
    }
  }
}

object RowFormatter {
  def of(format: Format): RowFormatter = format match {
    case Format.Csv => CsvFormatter
    case Format.JsonArray => JsonArrayFormatter
    case Format.Yaml => YamlFormatter
    case Format.Custom(formatter, _) => formatter
    case columnar => throw new IllegalArgumentException(
      s"$columnar has no row formatter — columnar formats go through Spark's writers")
  }
}
