package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.model.Weather
import graft.operators.WeatherOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming-semantics tests replicating the reference's changelog
  * expectations (testWeatherGrouping, WeatherStreamsTest.java:48-86) with
  * MemoryStream micro-batches.
  */
class WeatherStreamsSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("A1 update-mode: each micro-batch re-emits changed groups (KTable changelog)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double, Double)]
    val readings = in.toDF().toDF("key", "wthr_date", "tmp_f", "tmp_c")
    val q = WeatherOps.dailyAverage(readings)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("daily_upd")
      .option("checkpointLocation", tmpDir("ckpt-a1"))
      .start()
    try {
      // batch 1: first u09t reading → state [1 element], emitted
      in.addData(("u09t_2016-10-31", "2016-10-31", 23.8, -4.6))
      q.processAllAvailable()
      val after1 = spark.table("daily_upd").collect()
      assert(after1.length == 1)
      assert(after1.head.getString(0) == "u09t_2016-10-31")
      assert(after1.head.getDouble(2) == 23.8)

      // batch 2: gcpv + second u09t-cell reading (different date → new group;
      // same-key update checked below)
      in.addData(("gcpv_2016-10-01", "2016-10-01", 59.9, 15.5),
        ("u09t_2016-10-31", "2016-10-31", 30.2, -1.0))
      q.processAllAvailable()
      val after2 = spark.table("daily_upd").collect()
      // update mode re-emitted the changed u09t group with the NEW average —
      // the changelog trace the reference test pins (intermediate AND final)
      assert(after2.length == 3)
      val u09tEmissions = after2.filter(_.getString(0) == "u09t_2016-10-31")
        .map(_.getDouble(2)).sorted.toSeq
      assert(u09tEmissions == Seq(23.8, 27.0)) // 23.8 then avg(23.8, 30.2)
      assert(after2.exists(r => r.getString(0) == "gcpv_2016-10-01" && r.getDouble(2) == 59.9))
    } finally q.stop()
  }

  test("A1→A2 single stateful op: per-cell history via CellHistoryAggregator") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double, Double)]
    val readings = in.toDF().toDF("hash", "wthr_date", "tmp_f", "tmp_c")
    val q = WeatherStreams.cellHistoryStream(readings)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("hist_upd")
      .option("checkpointLocation", tmpDir("ckpt-a2"))
      .start()
    try {
      // replicates testWeatherGrouping's inputs keyed by cell
      in.addData(("u09t", "2016-10-31", 23.8, -4.6))
      q.processAllAvailable()
      in.addData(("gcpv", "2016-10-01", 59.9, 15.5), ("u09t", "2016-10-26", 56.5, 13.6))
      q.processAllAvailable()

      val rows = spark.table("hist_upd").collect()
      def hist(r: Row): Seq[(String, Double)] =
        r.getSeq[Row](1).map(w => (w.getAs[String]("date"), w.getAs[Double]("tmp_f")))

      // changelog: u09t emitted twice — 1-element state, then 2-element state
      val u09t = rows.filter(_.getString(0) == "u09t").map(hist)
      assert(u09t.length == 2)
      assert(u09t.contains(Seq(("2016-10-31", 23.8))))
      assert(u09t.contains(Seq(("2016-10-26", 56.5), ("2016-10-31", 23.8)))) // date-sorted
      val gcpv = rows.filter(_.getString(0) == "gcpv").map(hist)
      assert(gcpv.toSeq == Seq(Seq(("2016-10-01", 59.9))))
    } finally q.stop()
  }

  test("parse → cell history: a stream with malformed lines ends where the batch does") {
    implicit val sqlCtx = spark.sqlContext
    val stations = Seq((39.6467, -89.8455), (35.7395, -78.3249), (51.5131074, -0.1778707))
    val malformed = Seq("not json", "{}", "[]", "null", """{"lat":1.0,"lng":""",
      """{"lat":1.0,"lng":2.0,"wthr_date":null}""")
    // five micro-batches; cells and dates recur across batch boundaries
    val batches = (0 until 5).map { b =>
      (0 until 12).map { i =>
        val (lat, lng) = stations((b + i) % stations.length)
        f"""{"lat":$lat,"lng":$lng,"wthr_date":"2020-01-0${1 + i % 3}",""" +
          f""""avg_tmpr_f":${50 + b * 1.5 + i}%.1f,"avg_tmpr_c":${10 - b * 0.5 + i}%.1f}"""
      } :+ malformed(b) :+ malformed((b + 1) % malformed.length)
    }
    val in = MemoryStream[String]
    val q = WeatherStreams.cellHistoryStream(
      WeatherStreams.parseWeatherStream(in.toDF().toDF("value")))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("hist_parsed")
      .option("checkpointLocation", tmpDir("ckpt-parsed"))
      .start()
    val streamed = try {
      batches.foreach { lines => in.addData(lines); q.processAllAvailable() }
      // update mode re-emits a cell on every change: its last row is final
      spark.table("hist_parsed").as[(String, Seq[Weather])].collect().toSeq
        .groupBy(_._1).map { case (k, rows) => k -> rows.last._2 }
    } finally q.stop()

    import graft.operators.WeatherOps._
    val all = batches.flatten.toDF("value")
    val batch = cellHistory(
      dailyAverage(parseWeather(all), keyCols = Seq("hash"), exact = true), keyCol = "hash")
      .as[(String, Seq[(String, Double, Double)])].collect()
      .map { case (k, hs) => k -> hs.map { case (d, f, c) => Weather(f, c, d) } }.toMap
    assert(streamed.size == stations.length)
    assert(streamed == batch)
  }

  test("aggregator: second-level average math matches the reference golden") {
    // avg(70,72)=71 @2020-01-01 and 72 @2020-01-02 (WeatherStreamsTest.java:214-217)
    val agg = new WeatherStreams.CellHistoryAggregator
    var buf = agg.zero
    buf = agg.reduce(buf, ("2020-01-01", 70.0, 30.0))
    buf = agg.reduce(buf, ("2020-01-01", 72.0, 32.0))
    buf = agg.reduce(buf, ("2020-01-02", 72.0, 32.0))
    assert(agg.finish(buf) == Seq(Weather(71.0, 31.0, "2020-01-01"), Weather(72.0, 32.0, "2020-01-02")))
    // merge associativity with a split buffer
    val b1 = agg.reduce(agg.zero, ("2020-01-01", 70.0, 30.0))
    val b2 = agg.reduce(agg.reduce(agg.zero, ("2020-01-01", 72.0, 32.0)), ("2020-01-02", 72.0, 32.0))
    assert(agg.finish(agg.merge(b1, b2)) == agg.finish(buf))
  }

  test("C1 streaming: latest-per-key keeps max offset across batches, out-of-order safe") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, String)]
    val q = WeatherStreams.latestPerKeyStream(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("latest_upd")
      .option("checkpointLocation", tmpDir("ckpt-c1"))
      .start()
    try {
      in.addData(("a", 2L, "v2"), ("b", 1L, "w1"))
      q.processAllAvailable()
      in.addData(("a", 1L, "v1-late")) // out-of-order: must NOT regress
      q.processAllAvailable()
      in.addData(("a", 5L, "v5"))
      q.processAllAvailable()
      val rows = spark.table("latest_upd").as[(String, Long, String)].collect()
      // last emission per key wins in the memory sink trace:
      val finalA = rows.filter(_._1 == "a").last
      assert(finalA == (("a", 5L, "v5")))
      // the middle batch emitted the UNREGRESSED state:
      assert(rows.filter(_._1 == "a").map(_._2).toSeq == Seq(2L, 2L, 5L))
      assert(rows.filter(_._1 == "b").last == (("b", 1L, "w1")))
    } finally q.stop()
  }

  test("windowed+watermarked average: finalized windows emitted, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp, Double, Double)]
    val readings = in.toDF().toDF("key", "ts", "tmp_f", "tmp_c")
    val q = WeatherStreams.windowedAverageStream(readings,
      watermarkDelay = "1 day", windowLength = "1 day")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("win_avg")
      .option("checkpointLocation", tmpDir("ckpt-win"))
      .start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      in.addData(("u09t", ts("2020-01-01 10:00:00"), 70.0, 30.0),
        ("u09t", ts("2020-01-01 12:00:00"), 72.0, 32.0))
      q.processAllAvailable()
      // advance event time far past window end + watermark → day-1 finalizes
      in.addData(("u09t", ts("2020-01-05 00:00:00"), 50.0, 10.0))
      q.processAllAvailable()
      in.addData(("u09t", ts("2020-01-09 00:00:00"), 40.0, 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_avg")
        .select(col("key"), col("window_start").cast("string"), col("avg_tmp_f"))
        .as[(String, String, Double)].collect().toSet
      assert(rows.contains(("u09t", "2020-01-01 00:00:00", 71.0)),
        s"day-1 window with avg(70,72)=71 must be finalized; got $rows")
    } finally q.stop()
  }

  test("checkpoint recovery: state survives a stop/restart (exactly-once resume)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double, Double)]
    val readings = in.toDF().toDF("key", "wthr_date", "tmp_f", "tmp_c")
    val ckpt = tmpDir("ckpt-restart")
    val emissions = new scala.collection.concurrent.TrieMap[(Long, String), Double]()
    def start() = WeatherOps.dailyAverage(readings)
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.collect().foreach(r =>
          emissions.put((id, r.getString(0)), r.getDouble(2)))
      }
      .start()

    val q1 = start()
    in.addData(("k_d1", "d1", 10.0, 1.0), ("k_d1", "d1", 20.0, 2.0))
    q1.processAllAvailable()
    q1.stop()
    assert(emissions.values.toSet.contains(15.0)) // avg(10,20) before stop

    // data arriving while the query is down…
    in.addData(("k_d1", "d1", 60.0, 6.0))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // …must merge into the CHECKPOINTED state: avg(10,20,60)=30, not 60
      assert(emissions.values.toSet.contains(30.0),
        s"restarted query must resume from checkpointed state; got $emissions")
      assert(!emissions.values.toSet.contains(60.0),
        "state was lost: batch after restart averaged only the new data")
    } finally q2.stop()
  }

  test("RocksDB state store backend: cellHistoryStream runs and matches") {
    // the at-scale state backend (HDFS-backed in-memory maps OOM on large
    // state); provider is a per-query conf, restored after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, String, Double, Double)]
      val readings = in.toDF().toDF("hash", "wthr_date", "tmp_f", "tmp_c")
      val q = WeatherStreams.cellHistoryStream(readings)
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("hist_rocks")
        .option("checkpointLocation", tmpDir("ckpt-rocks"))
        .start()
      try {
        in.addData(("u09t", "2016-10-31", 23.8, -4.6))
        q.processAllAvailable()
        in.addData(("u09t", "2016-10-26", 56.5, 13.6))
        q.processAllAvailable()
        val last = spark.table("hist_rocks").collect()
          .filter(_.getString(0) == "u09t").last
        val dates = last.getSeq[Row](1).map(_.getAs[String]("date"))
        assert(dates == Seq("2016-10-26", "2016-10-31"),
          "state carried across batches under RocksDB")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("RocksDB at width: 1e5 cell keys aggregate and update within bound") {
    // the state-path stress the fixtures can't provide: 100k distinct cells
    // in one batch (100k state entries), then an incremental batch touching
    // 1k of them. The wall-clock bound is deliberately loose — it exists to
    // catch accidental O(state)² behavior (e.g. whole-store rewrites per
    // batch), not to benchmark.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, String, Double, Double)]
      val readings = in.toDF().toDF("hash", "wthr_date", "tmp_f", "tmp_c")
      val q = WeatherStreams.cellHistoryStream(readings)
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("hist_wide")
        .option("checkpointLocation", tmpDir("ckpt-wide"))
        .start()
      try {
        val t0 = System.nanoTime()
        in.addData((0 until 100000).map(i =>
          (s"cell_$i", "2020-01-01", i.toDouble % 90, i.toDouble % 30)))
        q.processAllAvailable()
        in.addData((0 until 1000).map(i =>
          (s"cell_$i", "2020-01-02", 1.0, 1.0)))
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        assert(secs < 120.0, s"1e5-key state path took ${secs}s")
        val rows = spark.table("hist_wide").collect()
        assert(rows.map(_.getString(0)).distinct.length == 100000)
        // updated cells carry both dates, untouched cells keep one
        val updated = rows.filter(_.getString(0) == "cell_42")
          .map(_.getSeq[Row](1).map(_.getAs[String]("date")).toSeq).last
        assert(updated == Seq("2020-01-01", "2020-01-02"))
        val untouched = rows.filter(_.getString(0) == "cell_99999")
          .map(_.getSeq[Row](1).length).last
        assert(untouched == 1)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming sessionization: session_window merges events, finalizes on watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val df = in.toDF().toDF("user", "ts")
    val q = graft.operators.Sessionize.stream(df, "user", "ts",
      gap = "10 minutes", watermarkDelay = "1 minute")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_stream")
      .option("checkpointLocation", tmpDir("ckpt-sess"))
      .start()
    try {
      // two events 5 min apart (one session), one 30 min later (second
      // session opens)
      in.addData(("a", ts("2020-01-01 10:00:00")), ("a", ts("2020-01-01 10:05:00")))
      q.processAllAvailable()
      in.addData(("a", ts("2020-01-01 10:40:00")))
      q.processAllAvailable()
      // advance the watermark far past the first session's close
      in.addData(("b", ts("2020-01-01 12:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_stream").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3)))
      // first session: 10:00–10:05, 2 events, finalized; the 10:40 session
      // is also past watermark 11:59. session_end = max event time,
      // matching the batch operator (NOT the window close = last + gap)
      assert(got.contains(("a", "2020-01-01 10:00:00.0",
        "2020-01-01 10:05:00.0", 2L)),
        s"expected the merged 2-event session, got ${got.mkString("; ")}")
      assert(got.contains(("a", "2020-01-01 10:40:00.0",
        "2020-01-01 10:40:00.0", 1L)))
    } finally q.stop()
  }

  test("streaming top-k: topk_by_ord maintains a running leaderboard per key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double, Long)]
    val df = in.toDF().toDF("k", "score", "id")
    val q = df.groupBy($"k")
      .agg(graft.functions.TopK.topKByOrd($"id", $"score", $"id", 2).as("top"))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("topk_stream")
      .option("checkpointLocation", tmpDir("ckpt-topk"))
      .start()
    try {
      in.addData(("a", 1.0, 1L), ("a", 5.0, 2L))
      q.processAllAvailable()
      in.addData(("a", 3.0, 3L)) // displaces id 1 (score 1.0)
      q.processAllAvailable()
      val last = spark.table("topk_stream").collect()
        .filter(_.getString(0) == "a").last.getSeq[Long](1)
      assert(last == Seq(2L, 3L),
        s"running top-2 must merge state across batches, got $last")
    } finally q.stop()
  }

  test("streaming dedup: duplicates within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val df = in.toDF().toDF("key", "ts", "value")
    val q = WeatherStreams.dedupStream(df, Seq("key"), "ts", "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_stream")
      .option("checkpointLocation", tmpDir("ckpt-dedup"))
      .start()
    try {
      in.addData(("a", ts("2020-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // same key again, within the watermark → duplicate, dropped
      in.addData(("a", ts("2020-01-01 10:10:00"), 2.0),
        ("b", ts("2020-01-01 10:10:00"), 3.0))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").collect()
        .map(r => (r.getString(0), r.getDouble(2))).toSet
      assert(got == Set(("a", 1.0), ("b", 3.0)),
        "first arrival per key kept, later duplicate dropped")
    } finally q.stop()
  }

  test("stream-stream windowed join: readings enrich alerts within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val readings = MemoryStream[(String, java.sql.Timestamp, Double)]
    val alerts = MemoryStream[(String, java.sql.Timestamp, String)]
    val r = readings.toDF().toDF("key", "r_ts", "tmp_f").withWatermark("r_ts", "1 hour")
    val a = alerts.toDF().toDF("key", "a_ts", "alert").withWatermark("a_ts", "1 hour")
    // inner stream-stream join: reading within 1h before the alert
    val q = a.as("a").join(r.as("r"),
      expr("a.key = r.key AND r_ts BETWEEN a_ts - INTERVAL 1 HOUR AND a_ts"))
      .select(col("a.key"), col("alert"), col("tmp_f"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ss_join")
      .option("checkpointLocation", tmpDir("ckpt-ss"))
      .start()
    try {
      readings.addData(("u09t", ts("2020-01-01 09:30:00"), 70.0),
        ("u09t", ts("2020-01-01 07:00:00"), 50.0)) // outside the 1h bound
      alerts.addData(("u09t", ts("2020-01-01 10:00:00"), "heat"))
      q.processAllAvailable()
      val rows = spark.table("ss_join").as[(String, String, Double)].collect().toSet
      assert(rows == Set(("u09t", "heat", 70.0)))
    } finally q.stop()
  }

  test("E2E streaming: parse → history → foreachBatch enrichment join") {
    implicit val sqlCtx = spark.sqlContext
    // static history snapshot (the maintained aggregate), streaming addresses
    val history = Seq(("s000", Seq(Weather(71.0, 31.0, "2020-01-01"))))
      .toDF("key", "weather_list")
    val in = MemoryStream[String]
    val parsed = graft.operators.WeatherOps.parseAddress(in.toDF().toDF("value"))
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // feed BEFORE starting: enrichStream pins Trigger.AvailableNow,
    // which snapshots available offsets at query start — data added
    // after the start races the snapshot and can be (rarely, under
    // machine load) excluded from the single run, flaking the test
    in.addData(
      """{"Hash":"s000", "Country": "usa", "City": "1", "Id": "1", "Address": "1", "Name": "1"}""",
      """{"Hash":"zzzz", "Country": "gb", "City": "2", "Id": "2", "Address": "2", "Name": "2"}""")
    val q = WeatherStreams.enrichStream(parsed, () => history, tmpDir("ckpt-j1")) {
      enriched =>
        out ++= enriched.select("key", "country").as[(String, String)].collect()
    }
    q.awaitTermination()
    q.stop()
    // inner join: only the matching cell survives
    assert(out.toSeq == Seq(("s000", "usa")))
  }
}
