package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.Weather
import graft.operators.WeatherOps

/** Structured Streaming build of the reference topology (SURVEY.md §2.9,
  * §7.2-M5).
  *
  * Mapping from Kafka Streams mechanics:
  *  - KStream            → streaming DataFrame (`readStream`)
  *  - KTable (changelog) → streaming aggregation in `update` output mode:
  *    every micro-batch re-emits the groups it touched — the same observable
  *    behavior as KTable's update stream (emission coalescing differs:
  *    per-micro-batch, like the reference's record cache; SURVEY §7.5.1).
  *    A1 on a stream is the batch [[WeatherOps.dailyAverage]] run in
  *    `update` mode — the same plan, no stream-only variant.
  *  - repartition topics → shuffle exchanges (no topic round-trip)
  *  - Materialized store → state store + checkpointLocation
  *  - A1→A2 chained aggregation: Spark forbids two stateful aggs in one
  *    query; instead of a foreachBatch two-query split we fold both levels
  *    into ONE stateful op — [[CellHistoryAggregator]] keeps per-cell
  *    (date → (sum, count)) map state, so the daily averages AND the
  *    per-cell history are maintained by a single shuffle + state store.
  *    That is *better* than the reference's two repartition hops at scale:
  *    one exchange on `hash` instead of two (hash_date, then hash).
  *
  * State-size note for 100 TB: per-cell state is O(distinct dates) — bounded
  * by the calendar (the reference's unwindowed semantics, kept). For
  * unbounded keys use [[windowedAverageStream]] (watermark + window)
  * instead.
  */
object WeatherStreams {

  // ---- sources / sinks (S1/S3, K1/K2) ------------------------------------

  /** Exact option map handed to the Kafka source provider. Factored out so
    * the wiring is assertable without a broker (the offline CI image ships
    * neither spark-sql-kafka nor kafka-clients — see KafkaContractSpec). */
  def kafkaSourceOptions(bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets)

  /** Exact option map handed to the Kafka sink provider. */
  def kafkaSinkOptions(bootstrapServers: String, topic: String,
      checkpointDir: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "topic" -> topic,
    "checkpointLocation" -> checkpointDir)

  /** Kafka wire schema → graft contract: key/value arrive as BINARY
    * (byte-array serdes, WeatherHotelsApp.java:49-64); the contract is
    * nullable UTF-8 strings. Shared by streaming source and batch read. */
  def fromKafkaWire(df: DataFrame): DataFrame =
    df.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")

  /** Kafka source wrapper (S1/S3): raw (key, value) strings from a topic.
    * Needs the spark-sql-kafka connector on the classpath (not present in
    * the offline CI image — exercised there via MemoryStream instead, which
    * produces the same (key, value) shape). */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    fromKafkaWire(
      spark.readStream.format("kafka")
        .options(kafkaSourceOptions(bootstrapServers, topic, startingOffsets))
        .load())

  /** Kafka sink wrapper (K1/K2): writes (key, value) with exactly-once via
    * checkpointing. */
  def kafkaSink(df: DataFrame, bootstrapServers: String, topic: String,
      checkpointDir: String, mode: OutputMode = OutputMode.Update()): DataStreamWriter[_] =
    df.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
      .writeStream.format("kafka")
      .options(kafkaSinkOptions(bootstrapServers, topic, checkpointDir))
      .outputMode(mode)

  // ---- M1 on a stream ----------------------------------------------------

  /** Parse + geohash-rekey raw weather JSON (same batch code — narrow
    * transforms are streaming-transparent). */
  def parseWeatherStream(raw: DataFrame, lenient: Boolean = false): DataFrame =
    WeatherOps.parseWeather(raw, lenient = lenient)

  /** Watermarked tumbling-window average — the bounded-state alternative to
    * the reference's unwindowed aggregation for unbounded key spaces
    * (SURVEY §7.5.5): state for a (key, window) pair is evicted once the
    * watermark passes the window end, so state size is O(active windows),
    * not O(all history). Append output mode (finalized windows only). */
  def windowedAverageStream(readings: DataFrame, tsCol: String = "ts",
      watermarkDelay: String = "1 day", windowLength: String = "1 day"): DataFrame =
    readings.withWatermark(tsCol, watermarkDelay)
      .groupBy(col("key"), window(col(tsCol), windowLength))
      .agg(avg(col("tmp_f")).as("avg_tmp_f"), avg(col("tmp_c")).as("avg_tmp_c"))
      .select(col("key"), col("window.start").as("window_start"),
        col("avg_tmp_f"), col("avg_tmp_c"))

  // ---- A1→A2 in one stateful op ------------------------------------------

  /** Buffer: per date → (sum_f_micro, sum_c_micro, n). Sums are exact
    * integer micro-units (inputs rounded to 6 decimals on entry, mirroring
    * a DECIMAL(18,6) cast): the mean is then bit-identical regardless of
    * partial-merge order — a real requirement, not pedantry: with
    * cent-aligned sensor values, group means routinely land exactly on
    * round()-boundaries where double-sum results flip by merge order
    * (observed: 5/1500 groups diverged at sf0.1). Long sums also shrink the
    * state vs doubles/BigDecimal. Overflow bound: |value| ≤ ~9e12·1e-6 per
    * group-row budget of 2^63 — far beyond any daily group. */
  type CellBuf = Map[String, (Long, Long, Long)]

  private def micro(x: Double): Long = math.round(x * 1e6)

  /** Two-level aggregation (daily average, then per-cell history) as ONE
    * typed Aggregator — replaces the reference's A1 + subtractor-A2 chain
    * (WeatherHotelsApp.java:91-109) and Spark's chained-agg restriction. */
  class CellHistoryAggregator extends Aggregator[(String, Double, Double), CellBuf, Seq[Weather]] {
    override def zero: CellBuf = Map.empty
    override def reduce(b: CellBuf, in: (String, Double, Double)): CellBuf = {
      val (date, f, c) = in
      val (sf, sc, n) = b.getOrElse(date, (0L, 0L, 0L))
      b.updated(date, (sf + micro(f), sc + micro(c), n + 1))
    }
    override def merge(a: CellBuf, b: CellBuf): CellBuf =
      b.foldLeft(a) { case (acc, (d, (sf, sc, n))) =>
        val (af, ac, an) = acc.getOrElse(d, (0L, 0L, 0L))
        acc.updated(d, (af + sf, ac + sc, an + n))
      }
    override def finish(b: CellBuf): Seq[Weather] =
      b.toSeq.sortBy(_._1).map { case (d, (sf, sc, n)) =>
        Weather((sf.toDouble / 1e6) / n, (sc.toDouble / 1e6) / n, d)
      }
    // ExpressionEncoder (UnsafeMapData), NOT Encoders.kryo: the buffer is
    // serialized at every partial-agg output and deserialized at every
    // merge; kryo pays object-graph walking + buffer allocation per trip,
    // the Tungsten map format is a flat binary copy. Same Map semantics.
    // COMPAT: this changes the streaming state schema (binary kryo blob →
    // MapType) — checkpoints written by the kryo build cannot be restored;
    // start from a fresh checkpointLocation after upgrading.
    override def bufferEncoder: Encoder[CellBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[CellBuf]()
    override def outputEncoder: Encoder[Seq[Weather]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Weather]]()
  }

  /** Per-cell history stream: one `groupByKey(hash)` + [[CellHistoryAggregator]];
    * update mode emits the refreshed history whenever a cell changes. Input
    * columns: key, wthr_date, tmp_f, tmp_c (hash = key without date). */
  def cellHistoryStream(readings: DataFrame): DataFrame = {
    val spark = readings.sparkSession
    import spark.implicits._
    val agg = new CellHistoryAggregator().toColumn
    readings
      .select(col("hash"), col("wthr_date"), col("tmp_f"), col("tmp_c"))
      .as[(String, String, Double, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3, r._4))
      .agg(agg.name("weather_list"))
      .toDF("key", "weather_list")
  }

  // ---- streaming exact dedup ---------------------------------------------

  /** Streaming face of Dedup.exact: emit the first arrival per key, drop
    * later duplicates. `dropDuplicatesWithinWatermark` bounds the dedup
    * state by the watermark delay — keys older than the watermark are
    * evicted, so state is O(keys per watermark window), not O(all history);
    * the contract is exact within the window, best-effort across it (a
    * duplicate arriving after eviction is re-emitted). For content dedup
    * pass `xxhash64(text)` as the key column, same as the batch operator. */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  // ---- C1 streaming: latest-per-key via mapGroupsWithState ---------------

  /** Arbitrary-state latest-per-key: keeps the max-ordinal row per key;
    * emits the current latest on every update (KTable upsert view). Robust
    * to out-of-order arrival (an older offset never regresses state). */
  def latestPerKeyStream[K: Encoder, V: Encoder](
      ds: Dataset[(K, Long, V)]): Dataset[(K, Long, V)] = {
    implicit val stateEnc: Encoder[(Long, V)] =
      Encoders.tuple(Encoders.scalaLong, implicitly[Encoder[V]])
    implicit val tupleEnc: Encoder[(K, Long, V)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong, implicitly[Encoder[V]])
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: K, rows: Iterator[(K, Long, V)], state: GroupState[(Long, V)]) =>
          val incoming = rows.maxBy(_._2)
          val best = state.getOption match {
            case Some((ord, _)) if ord >= incoming._2 => state.get
            case _ =>
              val nw = (incoming._2, incoming._3)
              state.update(nw)
              nw
          }
          (key, best._1, best._2)
      }
  }

  // ---- J1 streaming: enrichment against the maintained aggregate ---------

  /** Stream-side enrichment (J1) via foreachBatch: each micro-batch of
    * addresses joins the *current* weather aggregate (stream-static per
    * batch — Spark can't reference another query's state directly;
    * SURVEY §7.5.2). `historySnapshot` is re-evaluated per batch. */
  def enrichStream(addresses: DataFrame, historySnapshot: () => DataFrame,
      checkpointDir: String)(sink: DataFrame => Unit): StreamingQuery =
    addresses.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(WeatherOps.enrich(batch, historySnapshot()))
      }
      .start()
}
