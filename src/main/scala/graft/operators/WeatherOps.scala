package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Geohash.geohash
import graft.functions.GraftFunctions._

/** The reference pipeline's operator surface (SURVEY.md §2), re-expressed as
  * composable DataFrame transforms.
  *
  * Canonical column contract between stages:
  *  - raw readings:   a JSON string column (Kafka `value` shape)
  *  - keyed readings: `key STRING, wthr_date STRING, tmp_f DOUBLE, tmp_c DOUBLE`
  *  - daily averages: `key, wthr_date, avg_tmp_f, avg_tmp_c`
  *  - cell history:   `key, weather_list ARRAY<STRUCT<tmp_f,tmp_c,date>>`
  *  - dimension:      `key STRING` + payload columns
  *
  * Design stance (SURVEY.md §7.1): semantics, not mechanics. The reference's
  * intermediate topics become Catalyst-planned shuffles; the KTable subtractor
  * (WeatherAgg.java:22-25) disappears because Spark recomputes group state
  * instead of consuming a changelog; manual pre-shuffle projection
  * (WeatherHotelsApp.java:81) is Catalyst ColumnPruning.
  *
  * Scale notes per operator inline. Everything here is built-in-function
  * only — whole-stage-codegen end to end, shuffles only at the two groupBys
  * and the join (broadcast when the dimension side is small).
  *
  * Parse once: each parser tokenizes a record's JSON exactly once. The
  * natural form — `withColumn("w", from_json(..))` then a filter on `w` —
  * parses it several times after optimization, because three Catalyst rules
  * copy the `from_json` call into every predicate above it:
  *  - `PushPredicateThroughNonJoin` pushes the filter below the projection
  *    by substituting the `from_json` call for `w`;
  *  - `OptimizeJsonExprs` prunes each pushed copy into its own single-field
  *    `from_json`;
  *  - filters inferred from the downstream join (`isnotnull(key)`) are
  *    pushed down the same way, e.g. as `isnotnull(geohash(from_json(..).lat,
  *    from_json(..).lng))`.
  * [[parseOnce]] therefore yields the parsed struct from a generator
  * (`explode(array(from_json(..)))`): a predicate on a generator's output
  * cannot move below it, and `InferFiltersFromGenerate` skips non-attribute
  * inputs, so the plan keeps one `from_json` per input. PlanInvariantsSpec
  * pins the count.
  */
object WeatherOps {

  /** Schema of a raw weather reading (FIXTURES.md §A1). */
  val weatherSchema: StructType = StructType(Seq(
    StructField("lat", DoubleType),
    StructField("lng", DoubleType),
    StructField("wthr_date", StringType),
    StructField("avg_tmpr_f", DoubleType),
    StructField("avg_tmpr_c", DoubleType)))

  /** Schema of a raw hotel/address record (FIXTURES.md §A3); extra fields in
    * the JSON (Latitude/Longitude) are dropped by schema projection — same
    * unknown-field tolerance as the reference's Jackson config
    * (PojoDeserializer.java:11). */
  val addressSchema: StructType = StructType(Seq(
    StructField("Hash", StringType),
    StructField("Country", StringType),
    StructField("City", StringType),
    StructField("Address", StringType),
    StructField("Name", StringType),
    StructField("Id", StringType)))

  /** `raw`'s `valueCol` and `carry` columns plus `w`, the value parsed with
    * `schema` once per record (see the header). Drops no row: a value that
    * is not a JSON object yields a null `w`. */
  private def parseOnce(raw: DataFrame, valueCol: String, schema: StructType,
      carry: String*): DataFrame =
    raw.select((valueCol +: carry).map(col) :+
      explode(array(from_json(col(valueCol), schema))).as("w"): _*)

  // ---- M1: parse + geohash re-key (WeatherHotelsApp.java:68-88) ----------

  /** Parse raw weather JSON and key by `geohash4(lat,lng)` + date.
    *
    * `lenient = true` mirrors the reference's Jackson `doubleValue()` → 0.0
    * coercion for non-numeric nodes on EVERY double field the reference
    * reads that way — lat, lng, avg_tmpr_f, avg_tmpr_c all flow through
    * `node.get(..).doubleValue()` (WeatherHotelsApp.java:75-81), so a
    * string-typed `"avg_tmpr_f": "72"` becomes 0.0, not 72.0, exactly like
    * a string-typed lat becomes geohash "s000"
    * (WeatherStreamsTest.java:206-214). `false` uses straight `from_json`
    * typing. A line that is not a JSON object, or has no `wthr_date`, is
    * dropped, matching the reference's catch-and-null mapper
    * (WeatherHotelsApp.java:83-86).
    *
    * Scale: narrow transform, no shuffle; the derived `key` becomes the
    * shuffle key of the downstream aggregation — same manual key-derivation
    * the reference does pre-repartition, but the exchange is Catalyst's.
    */
  def parseWeather(raw: DataFrame, valueCol: String = "value",
      lenient: Boolean = false): DataFrame = {
    val v = col(valueCol)
    def fld(name: String, typed: Column): Column =
      if (lenient) jsonDoubleLenient(v, name) else typed
    parseOnce(raw, valueCol, weatherSchema)
      .filter(col("w.wthr_date").isNotNull)
      .select(
        geohash(fld("lat", col("w.lat")), fld("lng", col("w.lng")), 4).as("hash"),
        col("w.wthr_date").as("wthr_date"),
        fld("avg_tmpr_f", col("w.avg_tmpr_f")).as("tmp_f"),
        fld("avg_tmpr_c", col("w.avg_tmpr_c")).as("tmp_c"))
      .withColumn("key", compositeKey(col("hash"), col("wthr_date")))
  }

  /** Parse with a dead-letter channel: returns rows tagged `ok` with parsed
    * fields, or `ok = false` with the raw line preserved in `raw`. The
    * reference silently swallows malformed records (catch → null,
    * WeatherHotelsApp.java:83-86); at pipeline scale you want the rejects
    * observable and re-playable — split the result on `ok` and route the
    * false side to a quarantine sink. One pass, no shuffle. */
  def parseWeatherWithRejects(raw: DataFrame, valueCol: String = "value"): DataFrame =
    parseOnce(raw, valueCol, weatherSchema)
      .withColumn("ok", col("w.wthr_date").isNotNull)
      .select(
        col("ok"),
        col(valueCol).as("raw"),
        when(col("ok"), geohash(col("w.lat"), col("w.lng"), 4)).as("hash"),
        col("w.wthr_date").as("wthr_date"),
        col("w.avg_tmpr_f").as("tmp_f"),
        col("w.avg_tmpr_c").as("tmp_c"))

  /** Parse the intermediate-topic shape (S2): key `"{hash}_{date}"`, value a
    * typed Weather JSON `{"tmp_f":…,"tmp_c":…,"date":…}` — the format the
    * reference re-reads from its own repartition topic
    * (WeatherHotelsApp.java:55-56; input shape pinned by
    * WeatherStreamsTest.java:71-75). In graft the repartition hop is a
    * shuffle, so this parser exists for API/interop parity: consuming a
    * topic some *other* producer keyed this way. */
  def parseKeyedWeather(raw: DataFrame, keyCol: String = "key",
      valueCol: String = "value"): DataFrame = {
    val schema = StructType(Seq(
      StructField("tmp_f", DoubleType),
      StructField("tmp_c", DoubleType),
      StructField("date", StringType)))
    parseOnce(raw, valueCol, schema, keyCol)
      .filter(col("w").isNotNull)
      .select(
        col(keyCol).as("key"),
        keyPart(col(keyCol), 1).as("hash"),
        coalesce(col("w.date"), keyPart(col(keyCol), 2)).as("wthr_date"),
        col("w.tmp_f").as("tmp_f"),
        col("w.tmp_c").as("tmp_c"))
  }

  // ---- M2: address parse + re-key (WeatherHotelsApp.java:112-132) --------

  /** Parse raw address JSON; key = precomputed `Hash` field. */
  def parseAddress(raw: DataFrame, valueCol: String = "value"): DataFrame =
    parseOnce(raw, valueCol, addressSchema)
      .filter(col("w.Hash").isNotNull)
      .select(
        col("w.Hash").as("key"),
        col("w.Country").as("country"),
        col("w.City").as("city"),
        col("w.Address").as("address"),
        col("w.Name").as("name"),
        col("w.Id").as("id"))

  // ---- A1 + M3: per-(cell, day) average (WeatherHotelsApp.java:91-104) ---

  /** Daily average temperature per (key, date).
    *
    * The reference collects every reading into a list and averages lazily
    * (WeatherAgg.avgTmp()); Spark's partial+final hash aggregation computes
    * the same mean with O(1) state per group — map-side combine means the
    * shuffle carries (sum, count) pairs, not readings. At 100 TB this is the
    * difference between shuffling the dataset and shuffling the group count.
    */
  def dailyAverage(readings: DataFrame,
      keyCols: Seq[String] = Seq("key"), dateCol: String = "wthr_date",
      exact: Boolean = false): DataFrame = {
    // `exact = true`: decimal-backed mean — sum is exact (order-independent)
    // and the single final double division is deterministic, so results are
    // bit-identical regardless of partitioning/merge order (and across
    // engines). Worth its ~2× agg cost when reproducibility matters;
    // default is the native double mean.
    def mean(c: String): Column =
      if (exact) sum(col(c).cast(DecimalType(18, 6))).cast("double") / count(col(c))
      else avg(col(c))
    readings
      .groupBy((keyCols :+ dateCol).map(col): _*)
      .agg(mean("tmp_f").as("avg_tmp_f"), mean("tmp_c").as("avg_tmp_c"))
  }

  // ---- A2: per-cell history list (WeatherHotelsApp.java:105-109) ---------

  /** Collect the per-day averages of a cell into a date-sorted list.
    *
    * `sort_array` makes the list deterministic (the reference's list order is
    * arrival order — nondeterministic under parallelism, so we pin date
    * order; divergence documented). No subtractor needed: batch recompute /
    * streaming state maintenance replace changelog retraction (SURVEY §7.5.1).
    *
    * Scale: list size = distinct dates per cell — bounded by the calendar,
    * not the data volume; safe. For truly unbounded keys use the windowed
    * variant in streaming.WeatherStreams.
    */
  def cellHistory(daily: DataFrame, keyCol: String = "key",
      dateCol: String = "wthr_date"): DataFrame =
    daily.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(dateCol).as("date"),
        col("avg_tmp_f").as("tmp_f"),
        col("avg_tmp_c").as("tmp_c")))).as("weather_list"))

  // ---- C1: latest value per key (MyStream.java:166,168) ------------------

  /** Upsert view: latest row per key by an arrival-order ordinal
    * (`max_by(struct(payload), ord)` — single hash aggregation, no window
    * sort). The reference's KTable keeps last-write-wins by Kafka offset;
    * `ordCol` plays the offset role.
    */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], ordCol: String): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains).toIndexedSeq.map(col)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload: _*), col(ordCol)).as("_latest"))
      .select(keyCols.map(col) ++ df.columns.filterNot(keyCols.contains)
        .map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** Type-2 (SCD2) history view — the validity-interval generalization of
    * [[latestPerKey]]: where C1 keeps only last-write-wins (type 1), this
    * keeps EVERY version of every key as a row with its validity interval
    * `[valid_from, valid_to)` in `ordCol` units — `valid_from` is the
    * version's own ordinal, `valid_to` the next version's (null while
    * current), `is_current` flags the open interval. The standard
    * warehouse changelog consumer (the reference's KTable at
    * `MyStream.java:166-173` is the type-1 special case).
    *
    * `ordCol` must be unique per key (the Kafka-offset contract of
    * [[latestPerKey]]) — a tie would make the lead nondeterministic.
    *
    * Scale: one shuffle on the key columns; the `lead` window sorts each
    * key's versions inside its partition — version counts per key are
    * changelog-bounded (thousands, not billions), so no single-task
    * global sort ever appears. Output: key cols, payload cols,
    * `valid_from`, `valid_to`, `is_current`. */
  def scd2History(df: DataFrame, keyCols: Seq[String], ordCol: String): DataFrame = {
    val payload = df.columns.filterNot(c => keyCols.contains(c) || c == ordCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(ordCol))
    df.select(keyCols.map(col) ++ payload.map(col) ++ Seq(
      col(ordCol).as("valid_from"),
      lead(col(ordCol), 1).over(w).as("valid_to")): _*)
      .withColumn("is_current", col("valid_to").isNull)
  }

  // ---- J1/J2: enrichment joins (WeatherHotelsApp.java:134-142, MyStream.java:168-173)

  /** Inner enrichment join: each dimension row picks up its cell's weather
    * list (J1). `broadcastDim` broadcasts the *smaller* side; at reference
    * scale the aggregated weather table is small relative to 100 TB of
    * events, but the dimension (hotels) is usually smaller still — caller
    * chooses. Inner semantics drop dimension rows with no weather, exactly
    * like the reference (the null-check at WeatherHotelsApp.java:137 is dead
    * code under inner join).
    */
  def enrich(dim: DataFrame, history: DataFrame, keyCol: String = "key",
      broadcastDim: Boolean = false): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    d.join(history, Seq(keyCol), "inner")
  }

  /** Left-outer table-table join (J2): dimension rows with no weather are
    * kept with a null list (null-guard semantics of MyStream.java:169-171). */
  def enrichLeft(dim: DataFrame, history: DataFrame, keyCol: String = "key"): DataFrame =
    dim.join(history, Seq(keyCol), "left")
}
