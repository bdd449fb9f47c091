package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

/** A frozen copy of the Row-based CSV, JSON and YAML formatters that
  * the compiled InternalRow writers replaced, kept as the reference
  * [[FormatterKernelSpec]] compares the writers' bytes with. Do not
  * edit: its bytes are the contract.
  */
object LegacyRender {

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

  private def ts(i: Instant): String = {
    val utc = i.atZone(ZoneOffset.UTC)
    if (i.getNano == 0) tsFmt.format(utc) else tsFracFmt.format(utc)
  }

  /** Null overlay (chiv.go:175–181): placeholder replaces NULL in any
    * column and is rendered as a plain string downstream.
    */
  def cell(v: Any, nullValue: Option[String]): Option[String] =
    scalar(v).orElse(nullValue)
}

/** Go encoding/csv semantics: comma delimiter, `\n` terminator,
  * minimal quoting (quote only fields containing `"` `,` CR LF or
  * leading space/tab), `"` escaped by doubling. Header on open.
  */
object LegacyCsv extends RowFormatter {
  def open(schema: StructType): String =
    schema.fieldNames.map(quoteIfNeeded).mkString(",") + "\n"
  def row(schema: StructType, r: Row, nullValue: Option[String]): String =
    (0 until r.length)
      .map(i => LegacyRender.cell(r.get(i), nullValue).fold("")(quoteIfNeeded))
      .mkString(",") + "\n"
  val separator = ""
  val close = ""

  private def quoteIfNeeded(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r') ||
      s.startsWith(" ") || s.startsWith("\t"))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}

/** One JSON array of objects with alphabetically ordered keys (Go map
  * marshaling order) and Go's HTML-escaping of `<` `>` `&`
  * (json.Marshal default) — byte-compatible with the golden corpus.
  */
object LegacyJson extends RowFormatter {
  def open(schema: StructType): String = "["
  def row(schema: StructType, r: Row, nullValue: Option[String]): String = {
    val fields = schema.fields.zipWithIndex
      .sortBy(_._1.name)
      .map { case (f, i) =>
        val v = r.get(i) match {
          case null => nullValue.map(escape).getOrElse("null")
          case b: Boolean => b.toString
          case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
          case d: Double => LegacyRender.scalar(d).get
          case fl: Float => LegacyRender.scalar(fl).get
          case dec: java.math.BigDecimal => dec.stripTrailingZeros.toPlainString
          case other => escape(LegacyRender.scalar(other).get)
        }
        "\"" + f.name + "\":" + v
      }
    "{" + fields.mkString(",") + "}"
  }
  val separator = ","
  val close = "]"

  private def escape(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '<' => sb.append("\\u003c")
      case '>' => sb.append("\\u003e")
      case '&' => sb.append("\\u0026")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }
}

/** go-yaml block-sequence style: `- key: value` entries, keys sorted,
  * `null` for NULL; strings quoted only when plain style would
  * misresolve — double quotes when the text resolves to another type
  * (timestamp/bool/number/null), single quotes when it contains flow
  * punctuation (golden: ts_column double-quoted, json_column
  * single-quoted, plain strings bare).
  */
object LegacyYaml extends RowFormatter {
  def open(schema: StructType): String = ""
  def row(schema: StructType, r: Row, nullValue: Option[String]): String = {
    val fields = schema.fields.zipWithIndex
      .sortBy(_._1.name)
      .map { case (f, i) =>
        val v = r.get(i) match {
          case null => nullValue.map(scalarStyle).getOrElse("null")
          case b: Boolean => b.toString
          case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
          case d: Double => LegacyRender.scalar(d).get
          case fl: Float => LegacyRender.scalar(fl).get
          case dec: java.math.BigDecimal => dec.stripTrailingZeros.toPlainString
          case other => scalarStyle(LegacyRender.scalar(other).get)
        }
        s"${f.name}: $v"
      }
    fields.zipWithIndex
      .map { case (line, idx) => (if (idx == 0) "- " else "  ") + line }
      .mkString("", "\n", "\n")
  }
  val separator = ""
  val close = ""

  private val typedLike =
    ("^(true|false|yes|no|on|off|null|~|[-+]?[0-9]+|[-+]?(\\.inf)|\\.nan|" +
      "[-+]?[0-9]*\\.[0-9]+([eE][-+]?[0-9]+)?|" +
      "[0-9]{4}-[0-9]{2}-[0-9]{2}([Tt ][0-9:.]+([Zz]|[-+][0-9:]+)?)?)$").r

  private def plainSafe(s: String): Boolean =
    s.nonEmpty && !s.exists(c => "{}[]#&*!|>'\"%@`,\n\r\t".contains(c)) &&
      !s.startsWith(" ") && !s.endsWith(" ") && !s.startsWith("- ") &&
      !s.contains(": ") && !s.endsWith(":")

  private def scalarStyle(s: String): String =
    if (s.exists(c => c == '\n' || c == '\r' || c == '\t' || c < ' ') ||
      typedLike.matches(s.toLowerCase))
      // double-quoted style: the only style that represents control
      // characters faithfully (single-quoted folds raw newlines)
      "\"" + s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\x${c.toInt}%02x"
        case c => c.toString
      } + "\""
    else if (!plainSafe(s))
      "'" + s.replace("'", "''") + "'"
    else s
}
