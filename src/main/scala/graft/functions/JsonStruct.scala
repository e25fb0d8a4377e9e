package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, Expression, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode, ResolveDefaultColumns}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** JSON text → struct, with `from_json(json, schema)`'s result on every
  * input, valid or not.
  *
  * Two readers share the work. When every schema field is a string or a
  * double, [[FlatJsonScan]] reads a flat record (one object of ASCII
  * strings, plain numbers of at most 15 significant digits and `null`)
  * straight from its bytes, with no tokenizer, symbol table or
  * `Double.parseDouble`, and builds the row `JacksonParser` would. Any other
  * record, and every record of any other schema, goes to Jackson as below.
  * The input picks the reader; there is no option.
  *
  * Spark's `from_json` builds each record's Jackson parser through
  * `CreateJacksonParser.utf8String`, which wraps the bytes in an
  * `InputStreamReader`: every record pays for a fresh `StreamDecoder` and
  * its 8 KiB buffer before the tokenizer runs. This kernel hands Jackson the
  * record as a `String` instead. The chars come from the JDK's UTF-8 decoder
  * with replacement, the one `InputStreamReader` uses, and Jackson's char
  * parser reads them, so a record with invalid UTF-8, an encoded surrogate
  * or a leading byte-order mark parses exactly as under `from_json`. Parsing
  * the raw bytes with Jackson's byte parser would not: it rejects such a
  * string value where `from_json` keeps U+FFFD, and it skips a leading BOM
  * that `from_json` rejects. JsonStructSpec checks the equality, doubles
  * bit for bit, on a fuzzed corpus, with codegen and without, and pins
  * which lines the scan reads.
  *
  * `from_json` is also a `CodegenFallback` in Spark 4.1, which keeps the
  * operator holding it out of whole-stage codegen; this kernel's generated
  * code is one call into its evaluator.
  */
object JsonStruct {

  /** Column API: `parse(value, schema)`, the struct of `from_json(value,
    * schema)`. The corrupt-record column name is the session's at this call;
    * the time zone is resolved with the plan, as for `from_json`. */
  def parse(json: Column, schema: StructType): Column =
    Bridge.column(JsonStructParse(Bridge.asNullable(schema), Bridge.expression(json),
      SQLConf.get.columnNameOfCorruptRecord))
}

/** Catalyst expression behind [[JsonStruct.parse]]. Generated code makes one
  * call into the evaluator, shipped with each task as a reference object, so
  * every task builds its own parser once. */
case class JsonStructParse(schema: StructType, child: Expression,
    corruptRecordCol: String, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "json_struct"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_struct expects a string input, got ${other.catalogString}")
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val evaluator =
    new JsonStructEvaluator(schema, timeZoneId.get, corruptRecordCol)

  override def nullSafeEval(json: Any): Any =
    evaluator.evaluate(json.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonStruct", evaluator)
    nullSafeCodeGen(ctx, ev, json =>
      s"""${ev.value} = $ref.evaluate($json);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonStructParse =
    copy(child = newChild)
}

/** `JsonToStructsEvaluator` for a struct schema in PERMISSIVE mode, with two
  * changes. A record of the flat shape is read by [[FlatJsonScan]] straight
  * from its bytes; every other record goes to Jackson as a `String` (see
  * [[JsonStruct]]). Both readers are transient, so each deserialized copy
  * builds its own. */
final class JsonStructEvaluator(schema: StructType, timeZoneId: String,
    corruptRecordCol: String) extends Serializable {

  @transient private lazy val options =
    new JSONOptions(Map.empty[String, String], timeZoneId, corruptRecordCol)

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val corrupt = options.columnNameOfCorruptRecord
    ExprUtils.verifyColumnNameOfCorruptRecord(schema, corrupt)
    val jackson = new JacksonParser(StructType(schema.filterNot(_.name == corrupt)),
      options, allowArrayAsStructs = false)
    val createParser = (factory: JsonFactory, record: UTF8String) =>
      factory.createParser(record.toString): JsonParser
    new FailureSafeParser[UTF8String](
      record => jackson.parse(record, createParser, identity[UTF8String]),
      PermissiveMode, schema, corrupt)
  }

  /** Null when the schema is not one the scan reads. */
  @transient private lazy val flat: FlatJsonScan = FlatJsonScan.forSchema(schema, options)

  /** `from_json`'s struct for `json`: a malformed record gives a struct of
    * nulls (PERMISSIVE), a record the parser yields no row for gives null. */
  def evaluate(json: UTF8String): InternalRow = {
    val row = scan(json)
    if (row != null) row
    else {
      val rows = parser.parse(json)
      if (rows.hasNext) rows.next() else null
    }
  }

  /** The row of a record the scan reads; null hands the record to Jackson. */
  private[functions] def scan(json: UTF8String): InternalRow = {
    val f = flat
    if (f == null) null else f.scan(json)
  }
}

/** A reader for the flat JSON records the weather and hotel feeds carry:
  * one object of string, number and `null` values. On every record it
  * reads, its row equals the one `JacksonParser` builds; it reads no other
  * record and returns null for it.
  *
  * It reads a record when:
  *  - the record's bytes are on the heap, no longer than Jackson's name and
  *    string length limits;
  *  - they hold one object, with JSON whitespace (space, tab, LF, CR) around
  *    its tokens and nothing else after it;
  *  - each key is a `"`-quoted run of bytes 0x20–0x7F without `\`, matched
  *    case-sensitively, and a schema field's key appears at most once;
  *  - each value is `null`, a string of bytes 0x20–0x7F without `\` (into a
  *    string field or an unknown key), or a number in JSON's grammar
  *    without an exponent and with at most 15 significant digits (into a
  *    double field or an unknown key).
  * Escapes, bytes of 0x80 and above, exponents, `NaN`, leading zeros,
  * `true`/`false`, nested values, type mismatches, duplicate fields, a
  * byte-order mark and blank input all go to Jackson.
  *
  * Values are exact. An integer is its `long`'s double, as Jackson's
  * `getDoubleValue` gives it, so `-0` is `0.0`. A fraction with digits `m`
  * and `k` decimals is `m / 10^k`: both are exact doubles (`m < 2^53`,
  * `k <= 22`), so the one rounding of the division is `Double.parseDouble`'s
  * (Clinger's fast path), and `-0.0` keeps its sign. A string is its bytes,
  * which ASCII decodes to unchanged.
  */
private[functions] final class FlatJsonScan private (schema: StructType, maxBytes: Int) {
  import FlatJsonScan._

  private val names: Array[Array[Byte]] = schema.fieldNames.map(_.getBytes(UTF_8))
  private val isDouble: Array[Boolean] = schema.fields.map(_.dataType == DoubleType)

  def scan(json: UTF8String): InternalRow = json.getBaseObject match {
    case b: Array[Byte] if json.numBytes <= maxBytes =>
      val from = (json.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      scan(b, from, from + json.numBytes)
    case _ => null
  }

  private def scan(b: Array[Byte], from: Int, end: Int): InternalRow = {
    var i = skipWs(b, from, end)
    if (i == end || b(i) != '{') return null
    val row = new GenericInternalRow(names.length)
    var seen = 0L
    i = skipWs(b, i + 1, end)
    if (i < end && b(i) == '}') return if (skipWs(b, i + 1, end) == end) row else null
    while (true) {
      if (i == end || b(i) != '"') return null
      val key = i + 1
      i = endOfString(b, key, end)
      if (i < 0) return null
      val field = fieldOf(b, key, i)
      i = skipWs(b, i + 1, end)
      if (i == end || b(i) != ':') return null
      i = skipWs(b, i + 1, end)
      if (i == end) return null
      val c = b(i)
      if (c == '"') {
        if (field >= 0 && isDouble(field)) return null
        val v = i + 1
        i = endOfString(b, v, end)
        if (i < 0) return null
        if (field >= 0) row.update(field, UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, v, i)))
        i += 1
      } else if (c == 'n') {
        if (end - i < 4 || b(i + 1) != 'u' || b(i + 2) != 'l' || b(i + 3) != 'l') return null
        i += 4
      } else {
        if (field >= 0 && !isDouble(field)) return null
        // -?(0|[1-9][0-9]*)(.[0-9]+)?, its digits gathered into m
        val neg = c == '-'
        if (neg) i += 1
        if (i == end || !isDigit(b(i)) || b(i) == '0' && i + 1 < end && isDigit(b(i + 1))) return null
        var m = 0L
        var sig = 0
        var frac = -1
        while (i < end && (isDigit(b(i)) || b(i) == '.' && frac < 0)) {
          if (b(i) == '.') {
            frac = 0
            if (i + 1 == end || !isDigit(b(i + 1))) return null
          } else {
            m = m * 10 + (b(i) - '0')
            if (m != 0) sig += 1
            if (frac >= 0) frac += 1
            if (sig > MaxDigits || frac > MaxDecimals) return null
          }
          i += 1
        }
        if (field >= 0) row.update(field,
          if (frac < 0) (if (neg) -m else m).toDouble
          else { val d = m.toDouble / Pow10(frac); if (neg) -d else d })
      }
      if (field >= 0) {
        if ((seen & (1L << field)) != 0) return null
        seen |= 1L << field
      }
      i = skipWs(b, i, end)
      if (i == end) return null
      if (b(i) == '}') return if (skipWs(b, i + 1, end) == end) row else null
      if (b(i) != ',') return null
      i = skipWs(b, i + 1, end)
    }
    null
  }

  /** The index of the closing quote of a string starting at `from`, or -1
    * when a byte outside 0x20–0x7F, a `\` or the end comes first. */
  private def endOfString(b: Array[Byte], from: Int, end: Int): Int = {
    var i = from
    while (i < end) {
      val c = b(i)
      if (c == '"') return i
      if (c < 0x20 || c == '\\') return -1 // bytes >= 0x80 are negative
      i += 1
    }
    -1
  }

  /** The field named by bytes `[from, until)`, or -1. The last of equal
    * names wins, as in `StructType.getFieldIndex`. */
  private def fieldOf(b: Array[Byte], from: Int, until: Int): Int = {
    var f = names.length - 1
    while (f >= 0) {
      val name = names(f)
      if (name.length == until - from) {
        var j = 0
        while (j < name.length && name(j) == b(from + j)) j += 1
        if (j == name.length) return f
      }
      f -= 1
    }
    -1
  }
}

private[functions] object FlatJsonScan {
  private val MaxDigits = 15
  private val MaxDecimals = 22
  private val Pow10: Array[Double] = Array.tabulate(MaxDecimals + 1)(k => s"1e$k".toDouble)

  /** The scan for `schema`, or null unless every field is a string or a
    * double without an existence default, there are at most 64 of them, no
    * corrupt-record column, and `JacksonParser` keeps its rows generic. */
  def forSchema(schema: StructType, options: JSONOptions): FlatJsonScan = {
    val flat = schema.length <= 64 && !options.useUnsafeRow &&
      !schema.fieldNames.contains(options.columnNameOfCorruptRecord) &&
      schema.fields.forall(f => f.dataType == StringType || f.dataType == DoubleType) &&
      !ResolveDefaultColumns.hasExistenceDefaultValues(schema)
    if (!flat) null
    else {
      val limits = options.buildJsonFactory().streamReadConstraints()
      new FlatJsonScan(schema, math.min(limits.getMaxNameLength, limits.getMaxStringLength))
    }
  }

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  private def skipWs(b: Array[Byte], from: Int, end: Int): Int = {
    var i = from
    while (i < end && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' || b(i) == '\t')) i += 1
    i
  }
}
