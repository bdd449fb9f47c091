package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, RebaseDateTime}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.charset.StandardCharsets.UTF_8

/** Differential test of the compiled InternalRow writers against the
  * frozen Row-based formatters ([[LegacyFormatters]]). Fixed-seed
  * ScalaCheck rows over every atomic type and nested values are put in
  * a DataFrame as internal rows; the frozen formatter renders what the
  * DataFrame's external rows hold (what `df.rdd` gave the Engine), the
  * writer renders the scan's reused internal rows inside the tasks
  * (what the Engine feeds it now), and `row` renders the external rows
  * through the writer.
  * All three must be the same bytes, with and without a null
  * placeholder.
  */
class FormatterKernelSpec extends SparkSpec {

  private val fields: Seq[(StructField, Gen[Any])] = {
    val micros = 1000000L
    val year1 = -62135596800L * micros
    val year10000 = 253402300800L * micros
    val ts: Gen[Any] = Gen.frequency(
      4 -> Gen.choose(year1 - 400L * 86400 * micros, year10000 + 400L * 86400 * micros),
      2 -> Gen.choose(-3000000000L, 4000000000L).map(_ * micros), // whole seconds
      2 -> Gen.choose(-3000000000L * micros, 4000000000L * micros),
      1 -> Gen.oneOf(0L, -1L, 1L, year1, year1 - 1, year10000, year10000 - 1,
        RebaseDateTime.lastSwitchGregorianTs, RebaseDateTime.lastSwitchGregorianTs - 1,
        -12219292800L * micros, -12220156800L * micros, // 1582-10-15 and -05
        Long.MaxValue / 2, Long.MinValue / 2))
    val strings: Gen[String] = Gen.frequency(
      4 -> Gen.alphaNumStr,
      3 -> Gen.listOf(Gen.frequency(
        6 -> Gen.alphaNumChar,
        3 -> Gen.oneOf(',', '"', '\'', '\n', '\r', '\t', '\\', ' ', ':', '-', '#', '{', '}',
          '[', ']', '&', '*', '!', '|', '>', '<', '%', '@', '`', '~', '.', '+'),
        2 -> Gen.oneOf('é', 'ß', '中', '文', 'İ', 'K', ' ', '\u0000', '\u0001', '\b',
          '\f', '\u001f', '\u007f', ' '),
        1 -> Gen.choose(Char.MinValue, Char.MaxValue))).map(_.mkString),
      1 -> Gen.oneOf("😀", "a😀b", "\ud83d", "x\udc00y"), // surrogate pairs, lone halves
      3 -> Gen.oneOf("", " ", "true", "False", "YES", "no", "On", "off", "null", "NULL", "~",
        "123", "-42", "+7", "0.5", ".5", "-1.5e3", "1E10", ".inf", "-.Inf", ".NaN", "1_000",
        "2018-01-04", "2018-01-04T00:00:00Z", "2018-01-04 10:11:12.5+01:00", "2018-1-4",
        "- item", "key: value", "ends:", "a:b", " lead", "trail ", "it's", "<a&b>",
        "0x1F", "12345678901234567890123456789012345", "+.inf", "nan", "y", "n",
        "tRuE", "OFF", "Null", "tru", "falsey", "ON!", "Ôn", "@n", "N", "A"))
    val doubles: Gen[Double] = Gen.frequency(
      3 -> Gen.choose(-1e6, 1e6),
      2 -> Gen.choose(-1000000L, 1000000L).map(_.toDouble),
      1 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        1e15, 1e15 - 1, -1e15, 1e20, 1e-7, 123456789.125, Double.MinPositiveValue,
        Double.MaxValue, 9.007199254740993e15, 3.14, 0.1 + 0.2),
      1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))
    val floats: Gen[Float] = Gen.frequency(
      3 -> Gen.choose(-1e6f, 1e6f),
      1 -> Gen.oneOf(0f, -0f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
        1e15f, 3.14f, 1e20f, 16777217f))
    val utf8: Gen[Any] = Gen.frequency(
      12 -> strings.map(UTF8String.fromString),
      1 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(b => UTF8String.fromBytes(b.toArray))) // invalid UTF-8 too
    Seq(
      StructField("bool", BooleanType) -> Gen.oneOf(true, false),
      StructField("byte", ByteType) -> Gen.choose(Byte.MinValue, Byte.MaxValue),
      StructField("short", ShortType) -> Gen.choose(Short.MinValue, Short.MaxValue),
      StructField("int", IntegerType) -> Gen.choose(Int.MinValue, Int.MaxValue),
      StructField("long", LongType) ->
        Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue), Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue)),
      StructField("float", FloatType) -> floats,
      StructField("double", DoubleType) -> doubles,
      StructField("dec", DecimalType(20, 6)) ->
        Gen.choose(-99999999999999L, 99999999999999L).map(v =>
          Decimal(BigDecimal(v, 6).bigDecimal, 20, 6)),
      StructField("dec0", DecimalType(38, 0)) ->
        Gen.oneOf(BigDecimal(0), BigDecimal("12345678901234567890"), BigDecimal(-100))
          .map(b => Decimal(b.bigDecimal, 38, 0)),
      StructField("str", StringType) -> utf8,
      StructField("Zstr", StringType) -> utf8, // sorts before lowercase keys
      StructField("date", DateType) ->
        Gen.oneOf(Gen.choose(-720000, 2933000), Gen.oneOf(0, -1, -141427, -141437, -719162, -719528)),
      StructField("ts", TimestampType) -> ts,
      StructField("ntz", TimestampNTZType) -> ts,
      StructField("bin", BinaryType) ->
        Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      StructField("ym", YearMonthIntervalType()) -> Gen.choose(-1000, 1000),
      StructField("dt", DayTimeIntervalType()) -> Gen.choose(-1000000000000L, 1000000000000L),
      StructField("arr", ArrayType(IntegerType)) ->
        Gen.listOf(Gen.choose(-100, 100)).map(l => new GenericArrayData(l.toArray[Any])),
      StructField("sarr", ArrayType(StringType)) ->
        Gen.listOfN(3, strings).map(l => new GenericArrayData(l.map(UTF8String.fromString).toArray[Any])),
      StructField("st", StructType(Seq(StructField("i", IntegerType), StructField("s", StringType)))) ->
        Gen.zip(Gen.choose(-5, 5), strings).map { case (i, s) => InternalRow(i, UTF8String.fromString(s)) },
      StructField("m", MapType(StringType, IntegerType)) ->
        Gen.choose(0, 6).map(n => ArrayBasedMapData(
          (0 until n).map(k => UTF8String.fromString(s"k$k")).toArray,
          (0 until n).map(k => k * 3).toArray[Any])))
  }

  private val schema = StructType(fields.map(_._1))

  private def rows(n: Int): Seq[InternalRow] = (0 until n).map { i =>
    val cells = fields.zipWithIndex.map { case ((_, gen), c) =>
      val seed = Seed(7919L * i + c)
      val nul = Gen.choose(0, 9).apply(Gen.Parameters.default, seed).contains(0)
      if (nul) null else gen.apply(Gen.Parameters.default, seed.next).get
    }
    InternalRow.fromSeq(cells)
  }

  private val formats = Seq(
    (CsvFormatter: RowFormatter) -> (LegacyCsv: RowFormatter),
    (JsonArrayFormatter: RowFormatter) -> (LegacyJson: RowFormatter),
    (YamlFormatter: RowFormatter) -> (LegacyYaml: RowFormatter))

  private val nullValues =
    Seq(None, Some("custom_null"), Some("a,b \"q\""), Some("<&> : x"), Some("true"), Some(""))

  private def check(sch: StructType, data: Seq[InternalRow]): Unit = {
    val df = GraftBridge.internalDataFrame(spark, spark.sparkContext.parallelize(data, 3), sch)
    val external = df.collect()
    assert(external.length == data.length)
    for ((fmt, legacy) <- formats; nv <- nullValues) {
      // as in the Engine: compiled on the driver, run over the scan's
      // reused rows inside the tasks
      val writer = fmt.writer(sch, nv)
      val written = df.queryExecution.toRdd.mapPartitions { it =>
        val buf = new Utf8Buffer(16)
        it.map { r => buf.reset(); writer.write(r, buf); buf.slice(buf.length) }
      }.collect()
      external.indices.foreach { i =>
        val want = legacy.row(sch, external(i), nv)
        assert(java.util.Arrays.equals(written(i), want.getBytes(UTF_8)),
          s"$fmt nullValue=$nv row $i (InternalRow writer):\n" +
            s" got  ${new String(written(i), UTF_8).toList}\n want ${want.toList}")
        assert(fmt.row(sch, external(i), nv) == want, s"$fmt nullValue=$nv row $i (Row entry point)")
      }
      assert(fmt.open(sch) == legacy.open(sch) && fmt.separator == legacy.separator &&
        fmt.close == legacy.close)
    }
  }

  test("compiled writers match the frozen Row formatters byte for byte (every type, nulls)") {
    check(schema, rows(1500))
  }

  test("one-column schemas: every type alone, and the empty schema") {
    fields.foreach { case (f, _) =>
      val one = StructType(Seq(f))
      val i = schema.fieldIndex(f.name)
      check(one, rows(120).map(r => InternalRow(r.get(i, f.dataType))))
    }
    val empty = StructType(Nil)
    val legacyBytes = formats.map { case (_, legacy) =>
      legacy.row(empty, org.apache.spark.sql.Row(), None) }
    assert(formats.map(_._1.row(empty, org.apache.spark.sql.Row(), None)) == legacyBytes)
  }

  test("CSV header names take the same quoting as cells") {
    val sch = StructType(Seq("plain", "a,b", " lead", "q\"x", "multi\nline", "é")
      .map(StructField(_, LongType)))
    assert(CsvFormatter.open(sch) == LegacyCsv.open(sch))
    assert(CsvFormatter.open(sch) == "plain,\"a,b\",\" lead\",\"q\"\"x\",\"multi\nline\",é\n")
  }

  test("row() takes schema-exact rows: values are converted by the field's type") {
    import org.apache.spark.sql.Row
    val sch = StructType(Seq(StructField("n", LongType), StructField("t", TimestampType)))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2020-01-02T03:04:05Z"))
    assert(CsvFormatter.row(sch, Row(7L, ts), None) == "7,2020-01-02T03:04:05Z\n")
    // an Int under LongType or a String under TimestampType is not
    // dispatched on at runtime (the Row-based formatters did): it throws
    intercept[RuntimeException](CsvFormatter.row(sch, Row(7, ts), None))
    intercept[RuntimeException](JsonArrayFormatter.row(sch, Row(7L, "2020-01-02"), None))
  }

  test("custom formatters are adapted at the edge: the writer runs their row()") {
    object Pipe extends RowFormatter {
      def open(schema: StructType): String = ""
      def row(schema: StructType, r: org.apache.spark.sql.Row, nullValue: Option[String]): String =
        (0 until r.length).map(i => Render.cell(r.get(i), nullValue).getOrElse("NULL")).mkString("|")
      val separator = "\n"
      val close = ""
    }
    val sch = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val buf = new Utf8Buffer()
    Pipe.writer(sch, Some("-")).write(InternalRow(7L, null), buf)
    assert(buf.toString == "7|-")
  }
}
