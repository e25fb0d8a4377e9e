package graft.functions

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.SparkSuite
import graft.operators.{WeatherOps, WeatherOpsSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JsonToStructs}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Differential fuzzer: [[JsonStruct.parse]] against `from_json` on the
  * weather, address and keyed-weather schemas.
  *
  * The corpus is seeded: the golden and malformed lines of WeatherOpsSpec,
  * about 2,000 byte-level mutants of them (byte flips, truncations, byte
  * insertions), and hand-written edge cases around the decoder and the
  * tokenizer, the flat scan's edges among them. Each line is built as
  * `unhex(..).cast("string")`, so invalid UTF-8 reaches both parsers as it
  * would from a text file. Doubles are compared by their bits, so a lost
  * sign of zero or a last-digit rounding shows.
  */
class JsonStructSpec extends SparkSuite {
  import spark.implicits._

  /** Bytes from a string whose chars are all below U+0100, one byte each:
    * `"\u00ff"` is the byte 0xFF, not its UTF-8 encoding. */
  private def latin1(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private val reading =
    """{"lat":39.6467,"lng":-89.8455,"wthr_date":"%s","avg_tmpr_f":67.7,"avg_tmpr_c":19.8}"""
  private def withDate(date: String): Array[Byte] = latin1(reading.format(date))

  private val handWritten: Seq[Array[Byte]] = Seq(
    // invalid UTF-8 inside a string value: a stray byte, a lone continuation
    // byte, a truncated sequence, an overlong encoding, a 5-byte lead
    withDate("2020-01-0\u00ff"), withDate("2020-01-0\u0080"), withDate("2020\u00e2\u0082-01"),
    withDate("\u00c0\u00af2020"), withDate("2020\u00f8\u0088\u0080\u0080\u0080"),
    // CESU-8 surrogates inside a string value: a pair, and each half alone
    withDate("2020\u00ed\u00a0\u00bd\u00ed\u00b8\u0080"), withDate("\u00ed\u00a0\u0080"),
    withDate("x\u00ed\u00b0\u0080"),
    // valid multi-byte UTF-8: a 2-, 3- and 4-byte char
    withDate("caf\u00c3\u00a9"), withDate("\u00e2\u0082\u00ac"), withDate("\u00f0\u009f\u0098\u0080"),
    // invalid UTF-8 outside a string value: before a key, in a key, in a number
    latin1("{\u00ff" + """"lat":1.0,"wthr_date":"d","avg_tmpr_f":1,"avg_tmpr_c":2}"""),
    latin1("{\"l\u00ffat\":1.0,\"Hash\":\"h\u00fe\",\"wthr_date\":\"d\"}"),
    latin1("{\"lat\":1\u00ff.0,\"wthr_date\":\"d\"}"),
    // a UTF-8 byte-order mark: leading, inside a value, after the object
    latin1("\u00ef\u00bb\u00bf") ++ latin1(reading.format("2020-01-01")),
    withDate("2020\u00ef\u00bb\u00bf-01"),
    latin1(reading.format("2020-01-01") + "\u00ef\u00bb\u00bf"),
    // NUL bytes: in a value, between tokens, trailing, alone
    withDate("2020\u0000-01"), latin1("""{"lat":1.0,""" + "\u0000" + """"wthr_date":"d"}"""),
    latin1(reading.format("d") + "\u0000"), latin1("\u0000"),
    // \\u escapes: plain, a surrogate pair, lone surrogates, NUL, malformed
    withDate("\\u0032\\u0030\\u0032\\u0030"), withDate("\\ud83d\\ude00"), withDate("\\ud800"),
    withDate("\\udc00x"), withDate("\\u0000"), withDate("\\u12G4"), withDate("\\u00"),
    latin1("{\"\\u0048ash\":\"dp01\",\"Id\":\"\\u0031\"}"),
    // other escapes, good and bad
    withDate("a\\n\\t\\\"\\\\\\/b"), withDate("\\x41"), withDate("a\tb"),
    // duplicate keys, same and different types
    latin1("""{"lat":1.0,"lat":2.0,"lng":3.0,"wthr_date":"a","wthr_date":"b","avg_tmpr_f":1,"avg_tmpr_c":2}"""),
    latin1("""{"Hash":"a","Hash":"b","Id":"1","Id":2}"""),
    latin1("""{"tmp_f":1.0,"tmp_f":"x","date":"d","date":null}"""),
    // nested values where a scalar is expected, and deep nesting
    latin1("""{"lat":{"a":1},"lng":[1,2],"wthr_date":{"x":[1,{"y":2}]},"avg_tmpr_f":[],"avg_tmpr_c":{}}"""),
    latin1("""{"Hash":["dp01"],"Country":{"c":"US"},"Id":1}"""),
    latin1("""{"date":""" + "[" * 200 + "]" * 200 + ""","tmp_f":1}"""),
    latin1("""{"lat":""" + "[" * 200 + ""","tmp_f":1}"""),
    // numbers: exponents, overflow, underflow, big integers, odd forms
    latin1("""{"lat":1e2,"lng":-1E-2,"wthr_date":"d","avg_tmpr_f":-0.5e+3,"avg_tmpr_c":1.5E+1}"""),
    latin1("""{"lat":1e400,"lng":-1e400,"wthr_date":"d","avg_tmpr_f":1e-400,"avg_tmpr_c":-0.0}"""),
    latin1("""{"lat":123456789012345678901234567890,"wthr_date":"d","tmp_f":9223372036854775808}"""),
    latin1("""{"lat":01,"wthr_date":"d"}"""), latin1("""{"lat":+1,"wthr_date":"d"}"""),
    latin1("""{"lat":.5,"wthr_date":"d"}"""), latin1("""{"lat":1.,"wthr_date":"d"}"""),
    latin1("""{"lat":1e,"wthr_date":"d"}"""), latin1("""{"lat":0x10,"wthr_date":"d"}"""),
    latin1("""{"lat":NaN,"lng":Infinity,"wthr_date":"d","avg_tmpr_f":-Infinity,"avg_tmpr_c":+INF}"""),
    latin1("""{"lat":"NaN","lng":"-Infinity","wthr_date":"d","avg_tmpr_f":"1e2","avg_tmpr_c":"Inf"}"""),
    latin1("""{"tmp_f":true,"tmp_c":null,"date":false,"Hash":1.5,"Id":12}"""),
    // structure: whitespace, trailing text, several values, arrays, comments
    latin1(" \t\r\n" + reading.format("d") + " \n"), latin1(reading.format("d") + " x"),
    latin1(reading.format("d") + reading.format("e")), latin1("[" + reading.format("d") + "]"),
    latin1("[" + reading.format("d") + "," + reading.format("e") + "]"),
    latin1("""{/* c */"lat":1}"""), latin1("""{'lat':1,'wthr_date':'d'}"""),
    latin1("""{lat:1,wthr_date:"d"}"""), latin1("""{"lat":1,}"""), latin1("{"), latin1("}"),
    latin1(""), latin1(" "), latin1("\"\""),
    // longer than Jackson's 32 Ki-char in-memory buffer for a String input
    withDate("x" * 40000), withDate("\u00c3\u00a9" * 20000 + "\u00ff")) ++ flatEdges

  /** Lines at the edges of the flat scan (see [[FlatJsonScan]]). */
  private def flatEdges: Seq[Array[Byte]] = {
    def lat(num: String) = latin1(s"""{"lat":$num,"lng":$num,"wthr_date":"d","avg_tmpr_f":$num,"tmp_f":$num}""")
    val nums = Seq(
      // 15, 16 and 17 significant digits, as fractions and integers
      "0.123456789012345", "0.1234567890123456", "0.12345678901234567",
      "123456789012345", "-1234567890123456", "12345678901234567", "1234567.89012345",
      "0.000000000000000000001", "0.0000000000000000000001", "0.00000000000000000000001",
      "100000000000000.0", "1000000000000000.0", "999999999999999", "0.30000000000000",
      "0.3", "-0", "-0.0", "0", "0.0", "9007199254740993", "1.7976931348623157", "-12.5", "2.675",
      "0.1", "0.7", "123.456", "-89.8455", "1.00", "-", "-a", "1.", "1..2", "1.2.3", "00.5", "-01")
    val ws = Seq(" ", "\t", "\n", "\r", "\f", "\u000b", "\u00c2\u00a0", "\u00a0")
    nums.map(lat) ++ ws.flatMap { w =>
      Seq(latin1(s"""$w{$w"lat"$w:${w}1.5$w,$w"wthr_date"$w:$w"d"$w}$w"""),
        latin1(s"""{"lat":1.5$w}"""), latin1(s"""{$w}"""), latin1(s"""{"wthr_date":"d"}$w$w"""))
    } ++ (Seq(
      // numbers right before `,` and `}`, and run into other bytes
      """{"lat":1.5,"lng":-2}""", """{"lng":-2,"lat":0}""", """{"lat":1.5x}""",
      """{"lat":1.5"lng":2}""", """{"lat":1,5}""", """{"lat":-2null}""",
      // keys that match a field only by prefix or case
      """{"la":1.0,"latitude":2.0,"Lat":3.0,"LAT":4.0,"wthr_date":"d"}""",
      """{"hash":"h","HASH":"x","Has":"y","Hash ":"z","Id":"1","id":"2"}""",
      """{"tmp":1.0,"tmp_f_":2.0,"Date":"x","date":"d"}""",
      // unknown keys with nested, boolean and null values
      """{"x":{"a":1},"lat":1.0,"y":[1,"a"],"z":true,"w":false,"v":null,"wthr_date":"d"}""",
      """{"lat":1.0,"x":[],"wthr_date":"d","y":{}}""",
      // null in known keys, empty strings, empty key
      """{"lat":null,"lng":null,"wthr_date":null,"avg_tmpr_f":null,"avg_tmpr_c":null}""",
      """{"wthr_date":"","Hash":"","date":"","":"","":1}""",
      """{"lat":nul}""", """{"lat":nulll}""", """{"lat":Null}""",
      // a DEL byte, a double quote and a backslash inside values
      "{\"wthr_date\":\"a\u007fb\",\"Hash\":\"\u007f\"}", """{"wthr_date":"a\"b"}""",
      """{"wthr_date":"a\\b","Hash":"\\"}""",
      // a string in a double field, a number in a string field
      """{"lat":"1.5","wthr_date":"d"}""", """{"wthr_date":20170101,"Hash":12,"date":1.5}""",
      // an unterminated or cut-off object
      """{"lat":1.5""", """{"lat":1.5,""", """{"lat":""", """{"lat""", """{"""") ++
      Generated.all).map(latin1)
  }

  /** The benchmark generator's line shapes: weather readings with `", "`
    * separators, its three kinds of malformed line, a hotel with string
    * Latitude/Longitude, and an intermediate-topic value. */
  private object Generated {
    val weather = Seq(
      """{"avg_tmpr_c": -6.7, "avg_tmpr_f": 19.9, "lat": 25.0000, "lng": -124.9999, "wthr_date": "2017-01-01"}""",
      """{"avg_tmpr_c": 0.0, "avg_tmpr_f": 32.0, "lat": 48.9999, "lng": -67.0001, "wthr_date": "2017-12-31"}""")
    val cutOff = """{"avg_tmpr_c": 43.3, "avg_tmpr_f": 109.9, "lat": 39.6467, "lng": -89.8455, """
    val noDate = """{"avg_tmpr_c": -28.9, "lat": 33.3333, "lng": -100.0}"""
    val garbage = "garbage-123456"
    val hotel = """{"Address": "42 Main Street", "City": "City 4711", "Country": "US", "Hash": "9q5c", "Id": "1000000042", "Latitude": "34.0522", "Longitude": "-118.2437", "Name": "Hotel 42"}"""
    val keyed = """{"tmp_f":23.8,"tmp_c":-4.6,"date":"2016-10-31"}"""
    val all: Seq[String] = weather ++ Seq(cutOff, noDate, garbage, hotel, keyed)
  }

  /** Flip, cut or insert bytes: one to three edits per mutant. */
  private def mutants(seeds: Seq[Array[Byte]], n: Int, rnd: scala.util.Random): Seq[Array[Byte]] =
    Seq.fill(n) {
      var b = seeds(rnd.nextInt(seeds.length))
      (0 to rnd.nextInt(3)).foreach { _ =>
        val at = rnd.nextInt(b.length + 1)
        rnd.nextInt(3) match {
          case 0 if b.nonEmpty =>
            val i = at % b.length
            b = b.updated(i, (if (rnd.nextBoolean()) b(i) ^ (1 << rnd.nextInt(8))
              else rnd.nextInt(256)).toByte)
          case 1 => b = b.take(at)
          case _ => b = (b.take(at) :+ rnd.nextInt(256).toByte) ++ b.drop(at)
        }
      }
      b
    }

  private lazy val corpus: Seq[Array[Byte]] = {
    val seeds = WeatherOpsSpec.parserLines.map(_.getBytes(UTF_8))
    seeds ++ handWritten ++ mutants(seeds ++ handWritten.filter(_.length < 400), 2000,
      new scala.util.Random(1301))
  }

  /** One row per corpus line: its index `id`, `hex` and `value`, the
    * line's bytes as a string column, spread over three partitions so that
    * the parsers run in tasks rather than folding into the local relation. */
  private def lines: DataFrame =
    corpus.zipWithIndex.map { case (b, i) => (i, b.map("%02X".format(_)).mkString) }
      .toDF("id", "hex")
      .select(col("id"), col("hex"), unhex(col("hex")).cast("string").as("value"))
      .repartition(3)

  private val schemas: Seq[(String, StructType)] = Seq(
    "weather" -> WeatherOps.weatherSchema,
    "address" -> WeatherOps.addressSchema,
    "keyed weather" -> WeatherOps.keyedWeatherSchema)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Each schema's `from_json` and kernel structs, compared line by line.
    * They run as two queries: `from_json` is a `CodegenFallback`, which
    * keeps the projection holding it out of whole-stage codegen. */
  private def sameAsFromJson(codegen: Boolean): Unit = schemas.foreach { case (name, schema) =>
    val parsed = lines.select(col("id"), col("hex"), hex(col("value")).as("back"),
      JsonStruct.parse(col("value"), schema).as("graft"))
    val graft = parsed.collect()
    val plan = parsed.queryExecution.executedPlan
    val inStage = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case w: WholeStageCodegenExec => w
    }.exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonStructParse]))))
    assert(inStage == codegen, s"$name: json_struct in a codegen stage: $inStage\n$plan")
    val fromJson = lines.select(col("id"), from_json(col("value"), schema)).collect()
      .map(r => r.getInt(0) -> r.get(1)).toMap
    assert(graft.length == corpus.length && fromJson.size == corpus.length)
    graft.foreach { case Row(id: Int, hex: String, back: String, b) =>
      assert(back == hex, s"$name: the line's bytes did not survive the cast: $hex")
      assert(sameBits(fromJson(id), b), s"$name: $hex\nfrom_json: ${fromJson(id)}\njson_struct: $b")
    }
  }

  /** Equality that tells doubles apart by all their bits (`-0.0` from
    * `0.0`), in rows and in their nested values. */
  private def sameBits(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => sameBits(x.get(i), y.get(i)))
    case _ => a == b
  }

  test("json_struct equals from_json on every fuzz line, with whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true") { sameAsFromJson(codegen = true) }
  }

  test("json_struct equals from_json on every fuzz line, interpreted (NO_CODEGEN)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { sameAsFromJson(codegen = false) }
  }

  test("all four weather/hotel parsers run the fuzz corpus without failing the job") {
    val raw = lines
    val n = corpus.length.toLong
    Seq(false, true).foreach { lenient =>
      assert(WeatherOps.parseWeather(raw, lenient = lenient).collect().length <= n)
    }
    val tagged = WeatherOps.parseWeatherWithRejects(raw).select("ok", "raw").collect()
    assert(tagged.length == n, "the dead-letter parser keeps one row per line")
    assert(WeatherOps.parseAddress(raw).collect().length <= n)
    val keyed = raw.withColumn("key", concat(lit("u09t_2016-10-"), substring(col("hex"), 1, 2)))
    assert(WeatherOps.parseKeyedWeather(keyed).collect().length <= n)
  }

  private def evaluator(schema: StructType) = new JsonStructEvaluator(schema,
    spark.conf.get("spark.sql.session.timeZone"), spark.conf.get("spark.sql.columnNameOfCorruptRecord"))

  test("the flat scan reads the golden and generator-shaped lines; Jackson reads the rest") {
    val weather = evaluator(WeatherOps.weatherSchema)
    val address = evaluator(WeatherOps.addressSchema)
    val keyed = evaluator(WeatherOps.keyedWeatherSchema)
    def scanned(ev: JsonStructEvaluator, line: String) = ev.scan(UTF8String.fromString(line)) != null
    val weatherLines = WeatherOpsSpec.golden ++ Seq(WeatherOpsSpec.noTemp.head, WeatherOpsSpec.deadLetters(1),
      Generated.noDate) ++ Generated.weather
    weatherLines.foreach(l => assert(scanned(weather, l), l))
    (WeatherOpsSpec.goldenAddresses ++ Seq(WeatherOpsSpec.address, WeatherOpsSpec.noHash, Generated.hotel))
      .foreach(l => assert(scanned(address, l), l))
    (WeatherOpsSpec.goldenKeyed.map(_._2) ++ Seq(WeatherOpsSpec.keyedNoDate, Generated.keyed))
      .foreach(l => assert(scanned(keyed, l), l))
    val reading = WeatherOpsSpec.golden.head
    val outOfShape = Seq(
      "", " ", "null", "[]", "123", "\"s\"", "garbage", Generated.cutOff, Generated.garbage,
      "\ufeff" + reading, reading + " x", reading + reading, "[" + reading + "]",
      reading.replace("2017-08-29", "2017\\u002d08-29"), reading.replace("2017-08-29", "caf\u00e9"),
      reading.replace("19.8", "1.98e1"), reading.replace("19.8", "NaN"), reading.replace("19.8", "019.8"),
      reading.replace("19.8", "true"), reading.replace("19.8", "{}"), reading.replace("19.8", "[19.8]"),
      reading.replace("19.8", "\"19.8\""), reading.replace("\"2017-08-29\"", "20170829"),
      reading.replace("19.8", "19.8,\"lat\":1.0"), reading.replace("19.8", "0.12345678901234567"),
      reading.replace("19.8", "1.7976931348623157"), reading.replace(":", " :\f"),
      reading.replace("{", "{'lat':1.0,"), "{\"wthr_date\":\"a\tb\"}")
    outOfShape.foreach(l => assert(!scanned(weather, l), l))
  }

  test("the evaluator reads a record at an offset in its bytes, and one off the heap") {
    val schema = WeatherOps.weatherSchema
    val ev = evaluator(schema)
    val fromJson = JsonToStructs(schema, Map.empty, BoundReference(0, StringType, nullable = true),
      Some(spark.conf.get("spark.sql.session.timeZone")))
    def same(a: InternalRow, b: InternalRow): Boolean = schema.fields.indices.forall { i =>
      a.isNullAt(i) == b.isNullAt(i) && (a.isNullAt(i) || (schema(i).dataType match {
        case DoubleType => java.lang.Double.doubleToRawLongBits(a.getDouble(i)) ==
          java.lang.Double.doubleToRawLongBits(b.getDouble(i))
        case _ => a.getUTF8String(i) == b.getUTF8String(i)
      }))
    }
    // each line, and whether the scan reads it
    val lines = Seq(WeatherOpsSpec.golden.head -> true,
      """{"lat":-0.0,"lng":-0,"wthr_date":"d","avg_tmpr_f":0.3,"avg_tmpr_c":null}""" -> true,
      WeatherOpsSpec.noTemp(1) -> false,
      "{\"lat\":-0.0,\"wthr_date\":\"caf\u00e9\",\"avg_tmpr_f\":1e1,\"avg_tmpr_c\":0.3}" -> false)
    lines.foreach { case (line, scanned) =>
      val bytes = line.getBytes(UTF_8)
      val pad = "}{\"lat\":9".getBytes(UTF_8)
      val atOffset = UTF8String.fromBytes(pad ++ bytes ++ pad, pad.length, bytes.length)
      val addr = Platform.allocateMemory(bytes.length)
      try {
        Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, addr, bytes.length)
        val offHeap = UTF8String.fromAddress(null, addr, bytes.length)
        assert(offHeap.toString == line && atOffset.toString == line)
        Seq(atOffset, offHeap).foreach { s =>
          val expected = fromJson.eval(InternalRow(s)).asInstanceOf[InternalRow]
          assert(same(ev.evaluate(s), expected), s"$line: ${ev.evaluate(s)} vs $expected")
        }
        assert(ev.scan(offHeap) == null, "off-heap bytes go to Jackson")
        assert((ev.scan(atOffset) != null) == scanned, line)
      } finally Platform.freeMemory(addr)
    }
  }
}
