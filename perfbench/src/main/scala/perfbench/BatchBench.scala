package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, size, xxhash64}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.functions.Geohash
import graft.operators.WeatherOps
import graft.sources.Sources

/** The batch workload: the reference topology run as a backfill from raw
  * JSON files to the enriched hotel rows, written to `noop`. */
object BatchBench {

  /** Input files of one run. */
  final case class Files(weather: String, hotels: String)

  /** The input: parsing, geohashing and the two aggregations do the work;
    * the join is light (one hotel per station on average). */
  val Topology = Shape(stations = 10000, readings = 100000, hotels = 10000,
    readingSkew = 1.0, malformedFrac = 0.005)

  /** Untimed full topology runs over the run's own input in set-up. In
    * trial runs the first five repetitions in a process ran up to 1.7×
    * slower than later ones while the JIT compiled the hot paths. */
  val WarmPasses = 5

  // ---- the pipeline under test, through its public functions only -------------

  /** Daily averages per (cell, date), keyed by the geohash cell alone the
    * way the reference topology re-keys before its history aggregation. */
  def daily(readings: DataFrame): DataFrame =
    WeatherOps.dailyAverage(readings, keyCols = Seq("hash"))

  def cellHistory(daily: DataFrame): DataFrame =
    WeatherOps.cellHistory(daily, keyCol = "hash").withColumnRenamed("hash", "key")

  def history(spark: SparkSession, f: Files): DataFrame =
    cellHistory(daily(WeatherOps.parseWeather(Sources.rawLines(spark, f.weather))))

  def hotels(spark: SparkSession, f: Files): DataFrame =
    WeatherOps.parseAddress(Sources.rawLines(spark, f.hotels))

  def topology(spark: SparkSession, f: Files): DataFrame =
    WeatherOps.enrich(hotels(spark, f), history(spark, f))

  /** The traced run's cumulative prefixes, in order. Each layer's time is
    * the difference between a prefix and the one it extends. */
  def prefixes(spark: SparkSession, f: Files, latLng: DataFrame): Seq[(String, () => DataFrame)] = {
    val raw = () => Sources.rawLines(spark, f.weather)
    val parsed = () => WeatherOps.parseWeather(raw())
    val perDay = () => daily(parsed())
    Seq(
      "scan_weather" -> raw,
      "scan_hotels" -> (() => Sources.rawLines(spark, f.hotels)),
      "latlng_cached" -> (() => latLng),
      "geohash" -> (() => latLng.select(Geohash.geohash(col("lat"), col("lng"), 4).as("hash"))),
      "parse_weather" -> parsed,
      "daily_average" -> perDay,
      "cell_history" -> (() => cellHistory(perDay())),
      "parse_address" -> (() => hotels(spark, f)),
      "topology" -> (() => topology(spark, f)))
  }

  // ---- run ---------------------------------------------------------------------

  def writeInputs(dir: File, in: Gen.Inputs): Files =
    Files(Gen.writeParts(new File(dir, "weather"), in.lines.toIndexedSeq),
      Gen.writeParts(new File(dir, "hotels"), in.hotels.toIndexedSeq.map(_.json)))

  def run(a: Args): Outcome = {
    import Main._
    val gen0 = System.nanoTime()
    val in = Gen.generate(Topology, a.seed)
    val files = writeInputs(new File(a.work, "main"), in)
    val genS = secondsSince(gen0)
    val records = (in.lines.length + in.hotels.length).toDouble

    val session0 = System.nanoTime()
    val spark = session(a)
    val sessionS = secondsSince(session0)
    val warmUp = (1 to WarmPasses).map { _ =>
      val t0 = System.nanoTime()
      noop(topology(spark, files))
      secondsSince(t0)
    }
    val setupS = setupSeconds(genS)

    var attempted = 0L
    var failed = 0L
    def timed(df: => DataFrame): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try { noop(df); Some(secondsSince(t0)) }
      catch { case e: Exception => failed += 1; log(s"repetition failed: $e"); None }
    }

    val details = mutable.ArrayBuffer[(String, String)](
      "input_generation_s" -> f"$genS%.3f", "records" -> records.toLong.toString,
      "setup_s" -> f"$setupS%.3f", "setup_session_start_s" -> f"$sessionS%.3f",
      "warm_up_passes_s" -> warmUp.map(r => f"$r%.4f").mkString(","))
    val metrics = mutable.LinkedHashMap[String, Metric]()

    if (!a.trace) {
      val ticks0 = cpuTicks()
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val reps = mutable.ArrayBuffer[Double]()
      while (System.nanoTime() < deadline || reps.isEmpty && attempted < 20)
        timed(topology(spark, files)).foreach(reps += _)
      require(reps.nonEmpty, "every repetition failed")
      details += "repetitions_s" -> reps.map(r => f"$r%.4f").mkString(",")
      details += "host_steal_frac" -> f"${stealFrac(ticks0, cpuTicks())}%.3f"
      val ms = reps.map(_ * 1e3).toSeq
      metrics ++= Seq(
        "throughput_rps" -> Metric(records / Stats.median(reps.toSeq), "1/s"),
        "latency_p50_ms" -> Metric(Stats.median(ms), "ms"),
        "latency_p90_ms" -> Metric(Stats.quantile(ms, 0.9), "ms"),
        "setup_s" -> Metric(setupS, "s"))
    } else {
      val (m, d) = traced(spark, a, files, in.lines.length, timed)
      metrics ++= m
      details ++= d
      metrics ++= StreamBench.idleStreamingMetrics
    }

    attempted += 1
    val check0 = System.nanoTime()
    val problems = check(spark, files, in)
    details += "check_s" -> f"${secondsSince(check0)}%.3f"
    if (problems.nonEmpty) { failed += 1; problems.take(5).foreach(p => log(s"check: $p")) }
    details += "check" -> (if (problems.isEmpty) "ok" else problems.head)
    if (!a.trace) metrics += "peak_rss_mb" -> Metric(peakRssMb(), "MiB")
    stop(spark)
    Outcome(problems.isEmpty, attempted, failed, metrics.toMap, details.toSeq)
  }

  /** The traced run. For one window, untraced and traced repetitions of the
    * full topology alternate. The tracing overhead is the traced median over
    * the untraced median, minus 1; the traced repetitions also give the
    * engine figures. Then the layers are timed by [[layerMetrics]]. */
  private def traced(spark: SparkSession, a: Args, files: Files, lines: Long,
      timed: (=> DataFrame) => Option[Double]): (Seq[(String, Metric)], Seq[(String, String)]) = {
    val rec = new Recorder(spark)
    val plain = mutable.ArrayBuffer[Double]()
    val withTrace = mutable.ArrayBuffer[Double]()
    val engine = mutable.ArrayBuffer[(EngineStats, Double)]()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || withTrace.size < 3 && i < 20) {
      val untraced = timed(topology(spark, files))
      rec.attach()
      val op = s"rep-$i"
      val root = rec.newId()
      val t0 = rec.nowMs
      var wall = Option.empty[Double]
      val st = rec.measure(root, op) { wall = timed(topology(spark, files)) }
      rec.record("topology", t0, rec.nowMs, 0L, op, root)
      rec.detach()
      for (u <- untraced; w <- wall) { plain += u; withTrace += w; engine += st -> w }
      i += 1
    }
    val busy = Stats.median(engine.map { case (s, w) => s.taskBusyMs / (w * 1e3 * a.cores) }.toSeq)
    val metrics = Recorder.medianOf(engine.map(_._1).toSeq).toSeq.map { case (k, v) => k -> Metric(v, unitOf(k)) } ++
      Seq("engine.task_busy_frac" -> Metric(busy, "fraction"),
        "trace.overhead_frac" -> Metric(Stats.median(withTrace.toSeq) / Stats.median(plain.toSeq) - 1, "fraction")) ++
      layerMetrics(spark, a, files, lines, rec)
    rec.writeSpans(new File(a.work, s"../trace/${a.workload}-seed${a.seed}-spans.jsonl"))
    (metrics, Seq(
      "untraced_repetitions_s" -> plain.map(r => f"$r%.4f").mkString(","),
      "traced_repetitions_s" -> withTrace.map(r => f"$r%.4f").mkString(",")))
  }

  /** Per-layer times from the cumulative prefixes, timed in rounds for
    * half the run (at least two rounds), plus the scan's input bytes and
    * the dropped-row count. */
  def layerMetrics(spark: SparkSession, a: Args, files: Files, lines: Long,
      rec: Recorder): Seq[(String, Metric)] = {
    import Main.noop
    val latLng = Sources.rawLines(spark, files.weather)
      .select(from_json(col("value"), StructType(Seq(
        StructField("lat", DoubleType), StructField("lng", DoubleType)))).as("p"))
      .select(col("p.lat").as("lat"), col("p.lng").as("lng"))
      .where(col("lat").isNotNull && col("lng").isNotNull)
      .persist()
    noop(latLng)
    rec.attach()
    val ps = prefixes(spark, files, latLng)
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val end = System.nanoTime() + a.seconds * 500000000L
    var round = 0
    while (System.nanoTime() < end || round < 2) {
      val op = s"prefix-$round"
      val root = rec.newId()
      val r0 = rec.nowMs
      ps.foreach { case (name, df) =>
        val id = rec.newId()
        val t0 = rec.nowMs
        rec.measure(id, op)(noop(df()))
        val t1 = rec.nowMs
        rec.record(name, t0, t1, root, op, id)
        times.getOrElseUpdate(name, mutable.ArrayBuffer()) += (t1 - t0) / 1e3
      }
      rec.record("prefix-round", r0, rec.nowMs, 0L, op, root)
      round += 1
    }
    val scanBytes = rec.measure(0L, "scan-bytes") {
      noop(Sources.rawLines(spark, files.weather)); noop(Sources.rawLines(spark, files.hotels))
    }.inputBytes
    rec.detach()
    latLng.unpersist()
    def t(n: String) = Stats.median(times(n).toSeq)
    Seq(
      "sources.scan_s" -> Metric(t("scan_weather") + t("scan_hotels"), "s"),
      "sources.bytes_read" -> Metric(scanBytes.toDouble, "bytes"),
      "functions.geohash_s" -> Metric(t("geohash") - t("latlng_cached"), "s"),
      "operators.parse_weather_s" -> Metric(t("parse_weather") - t("scan_weather"), "s"),
      "operators.daily_average_s" -> Metric(t("daily_average") - t("parse_weather"), "s"),
      "operators.cell_history_s" -> Metric(t("cell_history") - t("daily_average"), "s"),
      "operators.parse_address_s" -> Metric(t("parse_address") - t("scan_hotels"), "s"),
      "operators.enrich_s" -> Metric(t("topology") - t("cell_history") - t("parse_address"), "s"),
      "operators.rows_dropped" -> Metric(droppedRows(spark, files, lines).toDouble, "count"),
      "trace.listener_ms" -> Metric(rec.callbackMs, "ms"),
      "trace.spans" -> Metric(rec.spanCount.toDouble, "count"))
  }

  def unitOf(engineMetric: String): String = engineMetric match {
    case k if k.endsWith("_ms") => "ms"
    case k if k.endsWith("_bytes") => "bytes"
    case "engine.task_skew" => "ratio"
    case _ => "count"
  }

  /** Lines written minus rows parsed: the malformed lines the parser dropped. */
  def droppedRows(spark: SparkSession, f: Files, lines: Long): Long =
    lines - WeatherOps.parseWeather(Sources.rawLines(spark, f.weather)).count()

  // ---- output check --------------------------------------------------------------

  /** Checks the pipeline's output against the plain-Scala answer. Every cell
    * history is compared entry by entry; every enriched row must carry its
    * hotel's fields and exactly its cell's history (compared by hash with the
    * history row, which is itself checked), and the malformed lines must be
    * exactly the ones dropped. Returns the problems found. */
  def check(spark: SparkSession, f: Files, in: Gen.Inputs): Seq[String] = {
    val expected = Expected.of(in.readings)
    val want = expected.history
    val problems = mutable.ArrayBuffer[String]()

    // The topology with its history side cached, so the check computes it once.
    val historyDf = history(spark, f).persist()
    val hist = historyDf.select(col("key"), col("weather_list"), xxhash64(col("weather_list")).as("h"))
      .collect()
    val listHash = hist.map(r => r.getString(0) -> r.getLong(2)).toMap
    if (hist.length != want.size) problems += s"${hist.length} cells, expected ${want.size}"
    hist.foreach { r =>
      val cell = r.getString(0)
      val got = r.getSeq[Row](1).map(e => (e.getAs[String]("date"), e.getAs[Double]("tmp_f"), e.getAs[Double]("tmp_c")))
      want.get(cell) match {
        case None => problems += s"unexpected cell $cell"
        case Some(days) => problems ++= Expected.diffHistory(cell, got, days)
      }
    }

    val rows = WeatherOps.enrich(hotels(spark, f), historyDf)
      .select(col("key"), col("country"), col("city"), col("address"), col("name"), col("id"),
        size(col("weather_list")).as("n"), xxhash64(col("weather_list")).as("h"))
      .collect()
    val wantHotels = expected.enrichedHotels(in.hotels.toSeq)
    val byId = wantHotels.map(h => h.id -> h).toMap
    if (rows.length != wantHotels.length) problems += s"${rows.length} enriched rows, expected ${wantHotels.length}"
    rows.foreach { r =>
      val id = r.getString(5)
      byId.get(id) match {
        case None => problems += s"unexpected enriched hotel $id"
        case Some(h) =>
          val got = (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))
          if (got != ((h.hash, h.country, h.city, h.address, h.name)))
            problems += s"hotel $id: fields $got"
          if (r.getInt(6) != want(h.hash).length) problems += s"hotel $id: ${r.getInt(6)} days"
          if (!listHash.get(h.hash).contains(r.getLong(7))) problems += s"hotel $id: list differs from its cell's"
      }
    }

    historyDf.unpersist()
    val dropped = droppedRows(spark, f, in.lines.length)
    if (dropped != in.malformed) problems += s"$dropped rows dropped, ${in.malformed} lines malformed"
    problems.toSeq
  }
}
