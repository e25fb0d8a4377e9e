package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.operators.WeatherOps
import graft.sources.Sources
import graft.streaming.WeatherStreams

/** The stream workload: an open-loop generator appends raw readings to a
  * `MemoryStream` at a fixed rate; the query keeps per-cell histories in
  * checkpointed state (update mode) and enriches each micro-batch's updated
  * cells against the static hotel dimension inside `foreachBatch`. */
object StreamBench {

  /** Offered rate, events per second: about half of what the query sustains
    * in a closed loop at `local[4]` (see WORKLOADS.md). */
  val Rate = 6000.0
  /** Events each query processes before its window opens, part of set-up. */
  val WarmEvents = 2000
  /** Length of the set-up's untimed warm-up window, run on a throwaway
    * query over other events. The micro-batch path keeps getting faster for
    * its first ~40 micro-batches while the JIT compiles it: after a 12 s
    * warm-up, the first half of a 20 s window still ran up to 20% slower
    * than the second (WORKLOADS.md). */
  val WarmSeconds = 24

  def shape(seconds: Int): Shape =
    Shape(stations = 20000, readings = WarmEvents + (Rate * seconds).toInt, hotels = 20000,
      readingSkew = 1.0, malformedFrac = 0.005)

  val StreamingMetrics: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.batch_rows_p50" -> "count",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.state_rows_total" -> "count",
    "streaming.state_rows_updated_p50" -> "count",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.state_commit_ms_p50" -> "ms",
    "streaming.state_cache_hit_ratio" -> "fraction",
    "streaming.sink_enrich_ms_p50" -> "ms",
    "streaming.backlog_rows_end" -> "count",
    "streaming.generator_late_ms_max" -> "ms")

  /** The batch workload runs no micro-batch: every streaming figure is 0. */
  def idleStreamingMetrics: Seq[(String, Metric)] =
    StreamingMetrics.map { case (k, u) => k -> Metric(0.0, u) }

  /** A started query with its input and bookkeeping. `calls` maps each
    * `addData` offset to the range of event indices it carried. */
  final class Running(val spark: SparkSession, val input: MemoryStream[String],
      val query: StreamingQuery, val hotels: DataFrame, val checkpoint: File) {
    val calls = mutable.ArrayBuffer[(Long, Int, Int)]()
    val sinkMs = new ConcurrentHashMap[Long, java.lang.Double]()
    def add(lines: Array[String], from: Int, until: Int): Unit = {
      val off = input.addData(lines.slice(from, until).toSeq).json.toLong
      calls += ((off, from, until))
    }
  }

  def start(a: Args, spark: SparkSession, hotelsPath: String, checkpoint: File): Running = {
    val hotels = WeatherOps.parseAddress(Sources.rawLines(spark, hotelsPath)).persist()
    Main.noop(hotels)
    // One input partition per core, like a topic with that many partitions;
    // without it every append would become its own task.
    val input = MemoryStream[String](spark, a.cores)(Encoders.STRING)
    var run: Running = null
    val query = WeatherStreams.cellHistoryStream(WeatherStreams.parseWeatherStream(input.toDF()))
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint.getPath)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        Main.noop(WeatherOps.enrich(hotels, batch))
        run.sinkMs.put(id, (System.nanoTime() - t0) / 1e6)
        ()
      }
      .start()
    run = new Running(spark, input, query, hotels, checkpoint)
    run
  }

  def stopRunning(r: Running): Unit = {
    r.query.stop()
    r.hotels.unpersist()
  }

  /** Appends `lines(from until lines.length)` on a fixed schedule: event `i`
    * is due `i / Rate` seconds after the generator starts, whatever the
    * query is doing. Records how late each append ran. */
  final class Generator(r: Running, lines: Array[String], from: Int) extends Thread("perfbench-generator") {
    @volatile var startNs = 0L
    @volatile var startWallMs = 0L
    @volatile var lateMaxMs = 0.0
    @volatile var error: Option[Throwable] = None
    setDaemon(true)
    override def run(): Unit = try {
      startWallMs = System.currentTimeMillis()
      startNs = System.nanoTime()
      val total = lines.length - from
      var sent = 0
      while (sent < total) {
        val nowS = (System.nanoTime() - startNs) / 1e9
        val due = math.min(total, math.floor(nowS * Rate).toInt + 1)
        if (due > sent) {
          lateMaxMs = math.max(lateMaxMs, nowS * 1e3 - sent * 1e3 / Rate)
          r.add(lines, from + sent, from + due)
          sent = due
        }
        Thread.sleep(5)
      }
    } catch { case e: Throwable => error = Some(e) }
  }

  /** When each batch's commit completed (epoch ms) and which event indices
    * it carried, from the query's progress reports. */
  final case class Committed(batchId: Long, commitWallMs: Long, from: Int, until: Int, rows: Long)

  def committed(ps: Seq[StreamingQueryProgress], calls: Seq[(Long, Int, Int)]): Seq[Committed] = {
    val byOffset = calls.map(c => c._1 -> c).toMap
    ps.filter(_.numInputRows > 0).map { p =>
      val s = p.sources.head
      val lo = Option(s.startOffset).map(_.toLong).getOrElse(-1L)
      val hi = s.endOffset.toLong
      val carried = (lo + 1 to hi).map(byOffset)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue
      Committed(p.batchId, end, carried.map(_._2).min, carried.map(_._3).max, p.numInputRows)
    }.sortBy(_.batchId)
  }

  /** One measured window: the generator sends every event after the
    * warm-up ones on schedule, then the query drains. `lat` holds, per
    * well-formed event, the time from its scheduled send to the commit of
    * the micro-batch that carried it. */
  final case class Window(batches: Seq[Committed], perBatch: Seq[(Committed, Seq[Double])],
      progress: Seq[StreamingQueryProgress], engine: Option[EngineStats], startWallMs: Long,
      lateMaxMs: Double, error: Option[Throwable], drained: Boolean, steal: Double) {
    def lat: Seq[Double] = perBatch.flatMap(_._2)
    def latencyP50: Double = Stats.median(lat)
    def windowMs: Double = (batches.last.commitWallMs - startWallMs).toDouble
    def throughput: Double = batches.map(_.rows).sum * 1e3 / windowMs
  }

  /** Runs one window on `r`, attaching `rec` for it when given, and stops
    * the query at the end. */
  def window(a: Args, r: Running, in: Gen.Inputs, rec: Option[Recorder]): Window = {
    import Main._
    val lines = in.lines
    rec.foreach(_.attach())
    val gen = new Generator(r, lines, WarmEvents)
    val ticks0 = cpuTicks()
    val body = () => {
      gen.start()
      gen.join()
      // The window is over once every event is due; let the query drain.
      val last = r.calls.last._1
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (r.query.isActive && System.nanoTime() < deadline &&
          !Option(r.query.lastProgress).exists(p => p.sources.head.endOffset.toLong >= last))
        Thread.sleep(20)
    }
    val engine = rec.map(rc => rc.measure(0L, "window")(body()))
    if (rec.isEmpty) body()
    val steal = stealFrac(ticks0, cpuTicks())
    val error = r.query.exception.orElse(gen.error)
    val progress = rec.map(_.progress.asScala.toSeq).getOrElse(r.query.recentProgress.toSeq)
    stopRunning(r)
    error.foreach(e => log(s"query failed: $e"))

    val batches = committed(progress, r.calls.toSeq).filter(_.from >= WarmEvents)
    val drained = batches.nonEmpty && batches.last.until == lines.length
    if (!drained) log("the query did not process every event within the drain limit")
    val schedMs = (i: Int) => gen.startWallMs + (i - WarmEvents) * 1e3 / Rate
    val perBatch = batches.map { b =>
      b -> (b.from until b.until).filter(in.valid).map(i => b.commitWallMs - schedMs(i))
    }
    Window(batches, perBatch, progress, engine, gen.startWallMs, gen.lateMaxMs, error, drained, steal)
  }

  def run(a: Args): Outcome = {
    import Main._
    // The traced run measures three windows (untraced, traced, untraced)
    // that share the run's seconds.
    val windowS = if (a.trace) math.max(1, a.seconds / 3) else a.seconds
    val gen0 = System.nanoTime()
    val in = Gen.generate(shape(windowS), a.seed)
    val warmIn = Gen.generate(shape(WarmSeconds), a.seed ^ 0x5eedL)
    val files = BatchBench.writeInputs(new File(a.work, "main"), in)
    val genS = secondsSince(gen0)
    val lines = in.lines

    val session0 = System.nanoTime()
    val spark = session(a)
    val sessionS = secondsSince(session0)
    var queries = 0
    def startWarm(events: Array[String]): Running = {
      queries += 1
      val r = start(a, spark, files.hotels, new File(a.work, s"checkpoint-$queries"))
      r.add(events, 0, WarmEvents)
      r.query.processAllAvailable()
      r
    }
    window(a, startWarm(warmIn.lines), warmIn, None)
    val first = startWarm(lines)
    val setupS = setupSeconds(genS)

    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer[String]()
    var checkS = 0.0
    /** Runs and checks one window: its micro-batches, its drain and its
      * output check are the operations. */
    def measured(r: Running, rec: Option[Recorder]): Window = {
      val w = window(a, r, in, rec)
      attempted += w.batches.size + 2
      if (w.error.isDefined || !w.drained) failed += 1
      val check0 = System.nanoTime()
      val p = check(spark, r.checkpoint, in.readings)
      checkS += secondsSince(check0)
      if (p.nonEmpty) { failed += 1; problems ++= p; p.take(5).foreach(x => log(s"check: $x")) }
      w
    }

    val metrics = mutable.LinkedHashMap[String, Metric]()
    val details = mutable.ArrayBuffer[(String, String)](
      "input_generation_s" -> f"$genS%.3f",
      "setup_s" -> f"$setupS%.3f", "setup_session_start_s" -> f"$sessionS%.3f",
      "offered_rate_eps" -> Rate.toString)
    def describe(label: String, w: Window): Unit = {
      val p90 = Stats.quantile(w.lat, 0.9)
      val beyond = w.perBatch.count(_._2.exists(_ > p90))
      details ++= Seq(
        s"${label}latency_samples" -> w.lat.size.toString,
        s"${label}batches" -> w.batches.size.toString,
        s"${label}batches_beyond_p90" -> beyond.toString,
        s"${label}latency_p50_ms" -> f"${w.latencyP50}%.1f",
        s"${label}throughput_rps" -> f"${w.throughput}%.1f",
        s"${label}host_steal_frac" -> f"${w.steal}%.3f",
        s"${label}batch_latency_p50_ms" ->
          w.perBatch.map(_._2).filter(_.nonEmpty).map(l => f"${Stats.median(l)}%.0f").mkString(","))
      log(s"${label}latency samples ${w.lat.size} over ${w.batches.size} micro-batches, $beyond beyond p90")
    }

    if (!a.trace) {
      val w = measured(first, None)
      describe("", w)
      metrics ++= Seq(
        "throughput_rps" -> Metric(w.throughput, "1/s"),
        "latency_p50_ms" -> Metric(w.latencyP50, "ms"),
        "latency_p90_ms" -> Metric(Stats.quantile(w.lat, 0.9), "ms"),
        "setup_s" -> Metric(setupS, "s"),
        "peak_rss_mb" -> Metric(peakRssMb(), "MiB"))
    } else {
      // Untraced, traced and untraced windows on fresh queries over the same
      // events: the traced window's median latency over the untraced ones'
      // is the tracing overhead, with drift between windows averaged out.
      val before = measured(first, None)
      val rc = new Recorder(spark)
      val r = startWarm(lines)
      val w = measured(r, Some(rc))
      val after = measured(startWarm(lines), None)
      describe("untraced_before_", before)
      describe("traced_", w)
      describe("untraced_after_", after)
      metrics ++= tracedMetrics(a, windowS, w, r, lines.length)
      metrics += "trace.overhead_frac" -> Metric(
        w.latencyP50 / Stats.median(before.lat ++ after.lat) - 1, "fraction")
      writeBatchTable(new File(a.work, s"../trace/${a.workload}-seed${a.seed}-batches.tsv"),
        w.progress.filter(p => w.batches.exists(_.batchId == p.batchId)), w.perBatch, r.sinkMs)
      rc.detach()
      metrics ++= BatchBench.layerMetrics(spark, a, files, lines.length, rc)
      rc.writeSpans(new File(a.work, s"../trace/${a.workload}-seed${a.seed}-spans.jsonl"))
    }
    details += "check_s" -> f"$checkS%.3f"
    details += "check" -> (if (problems.isEmpty) "ok" else problems.head)
    Main.stop(spark)
    val correct = problems.isEmpty && failed == 0
    Outcome(correct, attempted, failed, metrics.toMap, details.toSeq)
  }

  /** The traced window's micro-batch, state, sink and engine figures. */
  def tracedMetrics(a: Args, windowS: Int, w: Window, r: Running, events: Int): Seq[(String, Metric)] = {
    val inWindow = w.progress.filter(p => p.numInputRows > 0 && w.batches.exists(_.batchId == p.batchId))
    def p50(f: StreamingQueryProgress => Double) =
      if (inWindow.isEmpty) 0.0 else Stats.median(inWindow.map(f))
    def dur(k: String)(p: StreamingQueryProgress) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def state(p: StreamingQueryProgress) = p.stateOperators.head
    def custom(p: StreamingQueryProgress, k: String) =
      Option(state(p).customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    val hits = inWindow.map(custom(_, "loadedMapCacheHitCount")).sum
    val misses = inWindow.map(custom(_, "loadedMapCacheMissCount")).sum
    val lastState = inWindow.lastOption.map(state)
    val windowEndWallMs = w.startWallMs + windowS * 1000L
    val committedInWindow = w.batches.filter(_.commitWallMs <= windowEndWallMs).map(_.rows).sum
    val e = w.engine.get
    Seq(
      "streaming.batches" -> Metric(w.batches.size, "count"),
      "streaming.batch_rows_p50" -> Metric(p50(_.numInputRows.toDouble), "count"),
      "streaming.add_batch_ms_p50" -> Metric(p50(dur("addBatch")), "ms"),
      "streaming.query_planning_ms_p50" -> Metric(p50(dur("queryPlanning")), "ms"),
      "streaming.wal_commit_ms_p50" -> Metric(p50(dur("walCommit")), "ms"),
      "streaming.commit_offsets_ms_p50" -> Metric(p50(dur("commitOffsets")), "ms"),
      "streaming.state_rows_total" -> Metric(lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "streaming.state_rows_updated_p50" -> Metric(p50(state(_).numRowsUpdated.toDouble), "count"),
      "streaming.state_memory_bytes" -> Metric(lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      "streaming.state_commit_ms_p50" -> Metric(p50(state(_).commitTimeMs.toDouble), "ms"),
      "streaming.state_cache_hit_ratio" -> Metric(if (hits + misses > 0) hits / (hits + misses) else 0.0, "fraction"),
      "streaming.sink_enrich_ms_p50" -> Metric(
        Stats.median(w.batches.flatMap(b => Option(r.sinkMs.get(b.batchId)).map(_.doubleValue))), "ms"),
      "streaming.backlog_rows_end" -> Metric((events - WarmEvents - committedInWindow).toDouble, "count"),
      "streaming.generator_late_ms_max" -> Metric(w.lateMaxMs, "ms"),
      "engine.task_busy_frac" -> Metric(e.taskBusyMs / (w.windowMs * a.cores), "fraction")) ++
      Recorder.medianOf(Seq(e)).map { case (k, v) => k -> Metric(v, BatchBench.unitOf(k)) }
  }

  /** Per-batch figures in batch order, so growth with history shows. */
  def writeBatchTable(file: File, ps: Seq[StreamingQueryProgress],
      lat: Seq[(Committed, Seq[Double])], sinkMs: ConcurrentHashMap[Long, java.lang.Double]): Unit = {
    val latOf = lat.map { case (b, l) => b.batchId -> l }.toMap
    val header = Seq("batch", "input_rows", "trigger_ms", "add_batch_ms", "query_planning_ms",
      "wal_commit_ms", "commit_offsets_ms", "state_rows_total", "state_rows_updated",
      "state_memory_bytes", "state_commit_ms", "cache_hits", "cache_misses", "sink_enrich_ms",
      "latency_p50_ms")
    def d(p: StreamingQueryProgress, k: String) = Option(p.durationMs.get(k)).map(_.toString).getOrElse("")
    val rows = ps.map { p =>
      val s = p.stateOperators.head
      def c(k: String) = Option(s.customMetrics.get(k)).map(_.toString).getOrElse("")
      val l = latOf.getOrElse(p.batchId, Nil)
      Seq(p.batchId.toString, p.numInputRows.toString, d(p, "triggerExecution"), d(p, "addBatch"),
        d(p, "queryPlanning"), d(p, "walCommit"), d(p, "commitOffsets"), s.numRowsTotal.toString,
        s.numRowsUpdated.toString, s.memoryUsedBytes.toString, s.commitTimeMs.toString,
        c("loadedMapCacheHitCount"), c("loadedMapCacheMissCount"),
        Option(sinkMs.get(p.batchId)).map(x => f"${x.doubleValue}%.1f").getOrElse(""),
        if (l.isEmpty) "" else f"${Stats.median(l)}%.1f")
    }
    Gen.writeLines(file, (header +: rows).iterator.map(_.mkString("\t")))
  }

  // ---- output check --------------------------------------------------------------

  /** Reads the query's final state through Spark's state data source and
    * compares every cell's per-day sums and counts with the plain-Scala
    * answer for the same events: counts and micro-unit sums exactly, the
    * daily means (sum / count, as `CellHistoryAggregator` finishes them)
    * within 1e-6. */
  def check(spark: SparkSession, checkpoint: File, readings: Iterable[Reading]): Seq[String] = {
    val want = Expected.of(readings).history
    val problems = mutable.ArrayBuffer[String]()
    val state = spark.read.format("statestore").load(checkpoint.getPath).collect()
    if (state.length != want.size) problems += s"${state.length} cells in state, expected ${want.size}"
    state.foreach { row =>
      val cell = row.getAs[Row]("key").getString(0)
      val buf = stateBuffer(row.getAs[Row]("value"))
      want.get(cell) match {
        case None => problems += s"unexpected cell $cell in state"
        case Some(days) =>
          val got = buf.toSeq.sortBy(_._1)
          if (got.map(_._1) != days.map(_.date)) problems += s"$cell: dates differ"
          else got.zip(days).foreach { case ((d, (sf, sc, n)), e) =>
            if (n != e.n || sf != e.sumTenthsF * 100000L || sc != e.sumTenthsC * 100000L)
              problems += s"$cell $d: state ($sf, $sc, $n), expected sums of ${e.n} readings"
          }
          problems ++= Expected.diffHistory(cell,
            got.map { case (d, (sf, sc, n)) => (d, sf / 1e6 / n, sc / 1e6 / n) }, days)
      }
    }
    problems.toSeq
  }

  /** The aggregator's buffer, date -> (micro-unit sum F, sum C, count),
    * from one state row's value: an `UnsafeRow` of the buffer's encoder,
    * stored as bytes. */
  def stateBuffer(value: Row): Map[String, (Long, Long, Long)] = {
    val bytes = value.getAs[Array[Byte]]("buf")
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    bufferDecoder(row)
  }

  private lazy val bufferDecoder =
    ExpressionEncoder[Map[String, (Long, Long, Long)]]().resolveAndBind().createDeserializer()
}
