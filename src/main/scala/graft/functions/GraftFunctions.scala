package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Column-level function library for the graft engine.
  *
  * Everything here composes built-in (codegen'd) `org.apache.spark.sql.functions`
  * — no Scala UDFs in hot paths. Reference semantics covered:
  *   - F3 composite-key synthesis  (WeatherHotelsApp.java:73,80)
  *   - F4 composite-key split      (WeatherHotelsApp.java:105, MyStream.java:124)
  *   - F1 lenient JSON numeric extraction, mirroring Jackson's
  *     `JsonNode.doubleValue()` → 0.0 coercion for non-numeric nodes
  *     (WeatherHotelsApp.java:72-81; pinned by WeatherStreamsTest.java:206-214)
  *   - vector primitives for the similarity-search extensions (dot/cosine over
  *     ARRAY<FLOAT>/ARRAY<DOUBLE> via higher-order functions, codegen'd).
  */
object GraftFunctions {

  // ---- composite keys (F3/F4) -------------------------------------------

  /** `"{part1}_{part2}"` — reference key synthesis (F3). */
  def compositeKey(parts: Column*): Column = concat_ws("_", parts: _*)

  /** n-th 1-based component of a `_`-joined composite key (F4). */
  def keyPart(key: Column, n: Int): Column = element_at(split(key, "_"), n)

  // ---- lenient JSON numeric extraction (F1 fidelity shim) ---------------

  /** Extract `field` from a JSON string column as double with Jackson
    * `doubleValue()` semantics: numeric *node* → its value, anything else
    * (quoted string, missing, malformed) → 0.0. The reference relies on this
    * (string `"11111"` lat/lng → 0.0 → geohash "s000",
    * WeatherStreamsTest.java:206-214). `get_json_object` can't express this —
    * it strips quotes, making `"11111"` and `11111` indistinguishable — so we
    * match the *unquoted* numeric token in the raw text, which preserves the
    * node-type distinction. Flat-object assumption documented; the normal
    * (non-fidelity) path is [[JsonStruct.parse]] with an explicit schema.
    */
  def jsonDoubleLenient(jsonCol: Column, field: String): Column =
    coalesce(
      nullif(regexp_extract(jsonCol,
        "\"" + field + "\"\\s*:\\s*(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)\\s*[,}]", 1),
        lit("")).cast("double"),
      lit(0.0))

  /** Extract `field` from a JSON string column as text (Jackson `textValue()`:
    * null when absent). */
  def jsonText(jsonCol: Column, field: String): Column =
    get_json_object(jsonCol, "$." + field)

  // ---- vector primitives (similarity-search extensions) -----------------

  /** Dot product of two equal-length ARRAY<DOUBLE> columns.
    *
    * A custom codegen'd expression rather than the
    * `aggregate(zip_with(a,b,_*_), ...)` HOF composition: the HOF chain
    * materializes an intermediate array per row-pair and evaluates a lambda
    * per element — in the quadratic similarity joins that allocation is the
    * hot path. [[DotProductDouble]] is a single fused multiply-add loop over
    * the two ArrayDatas (left-to-right, same IEEE order as the HOF form, so
    * results are unchanged). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(DotProductDouble(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Euclidean norm of an ARRAY<DOUBLE> column. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two equal-length array columns; 0.0 when either
    * norm is zero (avoids NaN poisoning downstream top-k ordering). */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0d, lit(0.0d)).otherwise(dot(a, b) / denom)
  }

  /** Kernel shared by interpreted eval and generated code: left-to-right
    * multiply-add over the shorter of the two arrays. */
  def dotKernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  // ---- registration ------------------------------------------------------

  /** The graft scalar-function catalog: name → expression builder. Shared by
    * session-local registration ([[register]]) and the cluster-wide
    * [[graft.GraftExtensions]] entry point. */
  def functionBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    Seq(
      "geohash" -> (exprs => GeohashEncode(
        Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType),
        Cast(exprs(2), IntegerType))),
      "dot_double" -> (exprs => DotProductDouble(exprs(0), exprs(1))),
      "shingle_hashes" -> (exprs => ShingleHashes(exprs(0),
        intLit(exprs(1), "shingle_hashes k"))),
      "minhash_sig" -> (exprs => MinHashSig(exprs(0),
        intLit(exprs(1), "minhash_sig numHashes"),
        if (exprs.length > 2) intLit(exprs(2), "minhash_sig seed").toLong else 42L)),
      "simhash64" -> (exprs => SimHash64(exprs(0))),
      "nfc_normalize" -> (exprs => NfcNormalize(exprs(0))),
      "sorted_intersect_count" -> (exprs => SortedIntersectCount(exprs(0), exprs(1))),
      // aggregate: the analyzer wraps a bare AggregateFunction into an
      // AggregateExpression during resolution, same as built-in max/min
      "topk_by_ord" -> (exprs => TopKByOrd(exprs(0),
        Cast(exprs(1), DoubleType),
        Cast(exprs(2), org.apache.spark.sql.types.LongType),
        intLit(exprs(3), "topk_by_ord k"))),
      "topk_by_ord_str" -> (exprs => TopKByOrd(exprs(0),
        Cast(exprs(1), DoubleType),
        Cast(exprs(2), org.apache.spark.sql.types.StringType),
        intLit(exprs(3), "topk_by_ord_str k"))))
  }

  /** Register graft scalar functions on an existing session
    * (`SELECT geohash(lat, lng, 4)`, `minhash_sig(...)`, ...).
    *
    * Idempotent: names already in the session registry are left untouched,
    * so repeated calls (every `q_flagship_sql` build, each bench iteration)
    * neither churn the registry nor spam "replaced a previously registered
    * function" warnings. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionBuilders.foreach { case (name, builder) =>
      if (!reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `dot(a, b)` over two ARRAY<DOUBLE> columns: one fused loop, no
  * intermediate array (see [[GraftFunctions.dot]]). Sums left-to-right —
  * bit-identical to the sequential HOF formulation it replaces. */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_double"

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftFunctions.dotKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.GraftFunctions.dotKernel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}
