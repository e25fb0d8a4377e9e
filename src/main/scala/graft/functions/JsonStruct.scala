package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** JSON text → struct, with `from_json(json, schema)`'s result on every
  * input, valid or not.
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
  * that `from_json` rejects. JsonStructSpec checks the equality on a fuzzed
  * corpus, with codegen and without.
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

/** `JsonToStructsEvaluator` for a struct schema in PERMISSIVE mode, with one
  * change: each record's parser reads the record as a `String` (see
  * [[JsonStruct]]). The parser is transient, so each deserialized copy builds
  * its own. */
final class JsonStructEvaluator(schema: StructType, timeZoneId: String,
    corruptRecordCol: String) extends Serializable {

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId, corruptRecordCol)
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

  /** `from_json`'s struct for `json`: a malformed record gives a struct of
    * nulls (PERMISSIVE), a record the parser yields no row for gives null. */
  def evaluate(json: UTF8String): InternalRow = {
    val rows = parser.parse(json)
    if (rows.hasNext) rows.next() else null
  }
}
