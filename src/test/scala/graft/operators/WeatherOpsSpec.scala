package graft.operators

import graft.SparkSuite
import graft.functions.Geohash
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Ports of the reference's four TopologyTestDriver tests
  * (/root/reference/src/test/java/WeatherStreamsTest.java) onto the batch
  * operators — asserting the golden *contents* for real (the reference's
  * own content assertions for tests 1-3 were vacuous, SURVEY.md §5).
  */
class WeatherOpsSpec extends SparkSuite {
  import spark.implicits._
  import WeatherOpsSpec._

  // ---- testHashWeather (M1) — WeatherStreamsTest.java:142-182 ------------

  test("M1: weather parse + geohash re-key matches golden keys and values") {
    val got = WeatherOps.parseWeather(golden.toDF("value"))
      .select("key", "tmp_f", "tmp_c").as[(String, Double, Double)]
      .collect().toSet

    val expected = Set( // golden: WeatherStreamsTest.java:171-177
      ("dp01_2017-08-29", 67.7, 19.8),
      ("dq27_2016-10-31", 61.7, 16.5),
      ("dq3n_2016-10-26", 51.6, 10.9),
      ("9wfx_2017-08-29", 79.7, 26.5),
      ("dne6_2016-10-26", 63.3, 17.4))
    assert(got == expected)
  }

  test("M1: malformed JSON is dropped (lenient drop-on-error semantics)") {
    val raw = (golden.head +: notJson).toDF("value")
    assert(WeatherOps.parseWeather(raw).count() == 1)
  }

  test("M1 lenient: string-typed temperatures coerce to 0.0 (Jackson doubleValue)") {
    // the reference reads avg_tmpr_f/c through node.get(..).doubleValue()
    // exactly like lat/lng (WeatherHotelsApp.java:75-81): a string-typed
    // numeric node coerces to 0.0, it is NOT parsed
    val raw = Seq(
      """{"lat":39.0,"lng":-89.0,"wthr_date":"2020-01-01","avg_tmpr_f":"72","avg_tmpr_c":"22"}""",
      """{"lat":39.0,"lng":-89.0,"wthr_date":"2020-01-02","avg_tmpr_f":70.5,"avg_tmpr_c":21.4}"""
    ).toDF("value")
    val got = WeatherOps.parseWeather(raw, lenient = true)
      .select($"wthr_date", $"tmp_f", $"tmp_c").as[(String, Double, Double)]
      .collect().map { case (d, f, c) => d -> ((f, c)) }.toMap
    assert(got("2020-01-01") == ((0.0, 0.0)), "string-typed temps must coerce to 0.0")
    assert(got("2020-01-02") == ((70.5, 21.4)), "numeric temps pass through")
  }

  test("M1 dead-letter channel: rejects preserved with raw payload") {
    val raw = (golden.head +: deadLetters).toDF("value")
    val parsed = WeatherOps.parseWeatherWithRejects(raw)
    val good = parsed.filter($"ok")
    val bad = parsed.filter(!$"ok")
    assert(good.count() == 1 && good.head().getAs[String]("hash") == "dp01")
    assert(bad.count() == 2)
    assert(bad.select("raw").as[String].collect().toSet == deadLetters.toSet)
  }

  test("malformed records fail per row on every parser path, never per job") {
    val lines = Seq(golden.head, stringLat) ++ bad ++ noTemp
    val raw = lines.toDF("value")
    def cells(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.select("hash", "wthr_date").as[(String, String)].collect().toSet

    // strict typing: a string-typed lat nulls that field alone, so the
    // reading survives without a cell; every bad line is dropped, and so is
    // a reading without both temperatures (the reference's doubleValue()
    // on a missing node throws inside its catch-and-null mapper)
    assert(cells(WeatherOps.parseWeather(raw)) ==
      Set(("dp01", "2017-08-29"), (null, "2017-08-30")))
    // lenient: the string lat coerces to 0.0 (Jackson doubleValue), and so
    // do the missing or non-numeric temperatures
    assert(cells(WeatherOps.parseWeather(raw, lenient = true)) == Set(
      ("dp01", "2017-08-29"), (Geohash.encode(0.0, -89.8455, 4), "2017-08-30"),
      ("dp01", "2020-01-02"), ("dp01", "2020-01-03")))
    // dead-letter channel: one row per line, the raw line kept verbatim,
    // and the rejects are exactly the lines the strict path drops
    val tagged = WeatherOps.parseWeatherWithRejects(raw)
      .select("ok", "raw").as[(Boolean, String)].collect().toSeq
    assert(tagged.map(_._2).sorted == lines.sorted)
    assert(tagged.filterNot(_._1).map(_._2).sorted == (bad ++ noTemp).sorted)

    val hotels = WeatherOps.parseAddress((Seq(address, noHash) ++ bad).toDF("value"))
    assert(hotels.select("key", "id").as[(String, String)].collect().toSeq == Seq(("dp01", "1")))
  }

  // ---- testHashAddresses (M2) — WeatherStreamsTest.java:88-140 -----------

  test("M2: address parse + re-key by Hash; unknown fields dropped") {
    val raw = goldenAddresses.toDF("value")

    val got = WeatherOps.parseAddress(raw).collect().map(r => (r.getString(0), r.getString(5))).toSet
    assert(got == Set(("gcpv", "3401614098437"), ("s000", "1")))
    // Latitude/Longitude silently dropped by schema projection:
    assert(!WeatherOps.parseAddress(raw).columns.exists(_.toLowerCase.contains("lat")))
  }

  // ---- S2: intermediate-topic shape — WeatherStreamsTest.java:71-75 ------

  test("S2: keyed-weather parse of the reference's intermediate format") {
    val raw = goldenKeyed.toDF("key", "value")
    val got = WeatherOps.parseKeyedWeather(raw)
      .select("hash", "wthr_date", "tmp_f").as[(String, String, Double)]
      .collect().toSet
    assert(got == Set(
      ("u09t", "2016-10-31", 23.8), ("gcpv", "2016-10-01", 59.9),
      ("u09t", "2016-10-26", 56.5)))
    // date falls back to the key's date part when absent from the value
    val noDate = Seq(("u09t_2016-10-31", keyedNoDate)).toDF("key", "value")
    assert(WeatherOps.parseKeyedWeather(noDate).head().getAs[String]("wthr_date")
      == "2016-10-31")
  }

  test("S2: a keyed value without a numeric tmp_f and tmp_c is dropped") {
    val values = Seq("garbage", "[]", "null", "123", "\"s\"", "{}") :+ goldenKeyed.head._2
    val raw = values.map(v => ("u09t_2016-10-31", v)).toDF("key", "value")
    val got = WeatherOps.parseKeyedWeather(raw)
      .select("hash", "wthr_date", "tmp_f", "tmp_c").as[(String, String, Double, Double)].collect()
    assert(got.toSeq == Seq(("u09t", "2016-10-31", 23.8, -4.6)))
  }

  // ---- testWeatherGrouping (A1+A2 final state) — WeatherStreamsTest.java:48-86

  test("A1+A2: per-cell history (batch = final changelog state)") {
    val keyed = Seq(
      ("u09t", "2016-10-31", 23.8, -4.6),
      ("gcpv", "2016-10-01", 59.9, 15.5),
      ("u09t", "2016-10-26", 56.5, 13.6)
    ).toDF("key", "wthr_date", "tmp_f", "tmp_c")

    val hist = WeatherOps.cellHistory(WeatherOps.dailyAverage(keyed))
      .as[(String, Seq[(String, Double, Double)])].collect().toMap

    // golden final state: WeatherStreamsTest.java:77-81 (u09t's 2-element
    // list; our list is date-sorted, the reference's is arrival-ordered —
    // documented divergence, same elements)
    assert(hist("u09t").toSet == Set(("2016-10-31", 23.8, -4.6), ("2016-10-26", 56.5, 13.6)))
    assert(hist("gcpv") == Seq(("2016-10-01", 59.9, 15.5)))
  }

  // ---- testAggregateWeather (full topology E2E) — WeatherStreamsTest.java:184-220

  test("E2E: full pipeline incl. Jackson 0.0-coercion (lenient) matches golden") {
    val weatherRaw = Seq( // lat/lng arrive as JSON *strings* → coerce to 0.0 → "s000"
      """{"lat":"11111", "lng":"11111", "wthr_date":"2020-01-01", "avg_tmpr_f": 70 , "avg_tmpr_c": 30 }""",
      """{"lat":"11111", "lng":"11111", "wthr_date":"2020-01-01", "avg_tmpr_f": 72 , "avg_tmpr_c": 32 }""",
      """{"lat":"11111", "lng":"11111", "wthr_date":"2020-01-02", "avg_tmpr_f": 72 , "avg_tmpr_c": 32 }"""
    ).toDF("value")
    val addressRaw = Seq(
      """{"Hash":"s000", "Country": "usa", "City": "1", "Id": "1", "Address": "1", "Name": "1"}"""
    ).toDF("value")

    val readings = WeatherOps.parseWeather(weatherRaw, lenient = true)
    val history = WeatherOps.cellHistory(
      WeatherOps.dailyAverage(readings, keyCols = Seq("hash")), keyCol = "hash")
      .withColumnRenamed("hash", "key")
    val out = WeatherOps.enrich(WeatherOps.parseAddress(addressRaw), history)
      .select($"key", $"country", $"city", $"address", $"name", $"id", $"weather_list")
      .collect()

    // golden: WeatherStreamsTest.java:214-217
    assert(out.length == 1)
    val row = out.head
    assert(row.getString(0) == "s000" && row.getString(1) == "usa")
    val weathers = row.getSeq[Row](6).map(r =>
      (r.getAs[String]("date"), r.getAs[Double]("tmp_f"), r.getAs[Double]("tmp_c")))
    assert(weathers == Seq(("2020-01-01", 71.0, 31.0), ("2020-01-02", 72.0, 32.0)))
  }

  test("E2E exact: rows and every weather_list bit are independent of partitioning and AQE") {
    val rnd = new scala.util.Random(11)
    val stations = Seq.fill(40)((rnd.nextInt(1800) / 10.0 - 90, rnd.nextInt(3600) / 10.0 - 180))
    val weather = Seq.fill(3000) {
      val (lat, lng) = stations(rnd.nextInt(stations.length))
      f"""{"lat":$lat,"lng":$lng,"wthr_date":"2020-01-${1 + rnd.nextInt(20)}%02d",""" +
        f""""avg_tmpr_f":${rnd.nextInt(1200) / 10.0 - 20}%.1f,"avg_tmpr_c":${rnd.nextInt(700) / 10.0 - 30}%.1f}"""
    }
    val hotels = stations.zipWithIndex.map { case ((lat, lng), i) =>
      s"""{"Hash":"${Geohash.encode(lat, lng, 4)}","Country":"US","City":"c","Address":"a","Name":"n","Id":"$i"}"""
    }
    // several input partitions, so the partial aggregates merge across them
    def lines(ls: Seq[String]) = spark.sparkContext.parallelize(ls, 5).toDF("value")
    def run(): Seq[(String, String, Seq[(String, Long, Long)])] = {
      val history = WeatherOps.cellHistory(WeatherOps.dailyAverage(
        WeatherOps.parseWeather(lines(weather)), keyCols = Seq("hash"), exact = true),
        keyCol = "hash").withColumnRenamed("hash", "key")
      WeatherOps.enrich(WeatherOps.parseAddress(lines(hotels)), history)
        .select($"key", $"id", $"weather_list").collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getSeq[Row](2).map(w => (w.getAs[String]("date"),
          java.lang.Double.doubleToRawLongBits(w.getAs[Double]("tmp_f")),
          java.lang.Double.doubleToRawLongBits(w.getAs[Double]("tmp_c"))))))
        .sortBy(_._2)
    }
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      val runs = Seq("1", "3", "7").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        s"$p shuffle partitions" -> run()
      } :+ {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        "AQE off" -> run()
      }
      val (_, base) = runs.head
      assert(base.length == hotels.length && base.forall(_._3.nonEmpty))
      runs.tail.foreach { case (name, rows) => assert(rows == base, s"$name differs from ${runs.head._1}") }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("E2E inner-join semantics: addresses with no weather are dropped") {
    val history = Seq(("s000", Seq(("2020-01-01", 71.0, 31.0))))
      .toDF("key", "weather_list")
    val addresses = Seq(("s000", "usa"), ("zzzz", "gb")).toDF("key", "country")
    assert(WeatherOps.enrich(addresses, history).count() == 1)
    // and the left variant (J2) keeps them with null weather:
    val left = WeatherOps.enrichLeft(addresses, history)
    assert(left.count() == 2)
    assert(left.filter($"weather_list".isNull).count() == 1)
  }

  // ---- C1 latest-per-key ------------------------------------------------

  test("C1: latest-per-key picks the row with max ordinal") {
    val df = Seq(
      ("a", 1L, "v1"), ("a", 3L, "v3"), ("a", 2L, "v2"), ("b", 10L, "w1")
    ).toDF("key", "offset", "payload")
    val got = WeatherOps.latestPerKey(df, Seq("key"), "offset")
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(("a", 3L, "v3"), ("b", 10L, "w1")))
  }

  // ---- Jackson coercion shim (F1) ---------------------------------------

  test("jsonDoubleLenient mirrors Jackson doubleValue() semantics") {
    import graft.functions.GraftFunctions.jsonDoubleLenient
    val df = Seq(
      """{"lat": 39.6467}""",   // numeric → value
      """{"lat": "11111"}""",   // string → 0.0
      """{"lat": -5}""",        // negative int → value
      """{"lat": 1.5e2}""",     // scientific → value
      """{"other": 1}""",       // missing → 0.0
      """{"lat": true}"""       // boolean → 0.0
    ).toDF("j").select(jsonDoubleLenient(col("j"), "lat").as("v"))
    assert(df.as[Double].collect().toSeq == Seq(39.6467, 0.0, -5.0, 150.0, 0.0, 0.0))
  }
}

/** The JSON lines the parser tests above feed in; JsonStructSpec seeds its
  * fuzz corpus from them. */
object WeatherOpsSpec {
  /** testHashWeather inputs (WeatherStreamsTest.java:142-182). */
  val golden: Seq[String] = Seq(
    """{"avg_tmpr_c":19.8,"avg_tmpr_f":67.7,"lat":39.6467,"lng":-89.8455,"wthr_date":"2017-08-29"}""",
    """{"avg_tmpr_c":16.5,"avg_tmpr_f":61.7,"lat":35.7395,"lng":-78.3249,"wthr_date":"2016-10-31"}""",
    """{"avg_tmpr_c":10.9,"avg_tmpr_f":51.6,"lat":36.3367,"lng":-77.113,"wthr_date":"2016-10-26"}""",
    """{"avg_tmpr_c":26.5,"avg_tmpr_f":79.7,"lat":39.2336,"lng":-108.67,"wthr_date":"2017-08-29"}""",
    """{"avg_tmpr_c":17.4,"avg_tmpr_f":63.3,"lat":36.9639,"lng":-85.3242,"wthr_date":"2016-10-26"}""")
  val notJson: Seq[String] = Seq("""not json at all""", """{"truncated": """)
  /** Not JSON, and JSON with no date: both rejects. */
  val deadLetters: Seq[String] = Seq("""garbage {{{""", """{"lat": 1.0, "lng": 2.0}""")
  val stringLat =
    """{"avg_tmpr_c":2.0,"avg_tmpr_f":1.0,"lat":"39.6467","lng":-89.8455,"wthr_date":"2017-08-30"}"""
  val bad: Seq[String] = Seq("null", "[]", "123", "\"s\"", "{}",
    """{"avg_tmpr_c":19.8,"avg_tmpr_f":67.7,"lat":39.6""",
    """{"avg_tmpr_c":19.8,"avg_tmpr_f":67.7,"lat":39.6467,"lng":-89.8455,"wthr_date":null}""")
  /** A date but no numeric temperature: strict typing parses it to null. */
  val noTemp: Seq[String] = Seq(
    """{"lat":39.6467,"lng":-89.8455,"wthr_date":"2020-01-02"}""",
    """{"avg_tmpr_c":2.0,"avg_tmpr_f":"x","lat":39.6467,"lng":-89.8455,"wthr_date":"2020-01-03"}""")
  val address = """{"Hash":"dp01","Country":"US","City":"c","Address":"a","Name":"n","Id":"1"}"""
  val noHash = """{"Country":"US","City":"c","Address":"a","Name":"n","Id":"2"}"""
  /** testHashAddresses inputs (WeatherStreamsTest.java:88-140). */
  val goldenAddresses: Seq[String] = Seq(
    """{"Address":"51 Gloucester Terrace","City":"Paddington","Country":"GB","Hash":"gcpv","Id":"3401614098437","Latitude":"51.5131074","Longitude":"-0.1778707","Name":"The Westbourne Hyde Park"}""",
    """{"Hash":"s000","Country":"usa","City":"1","Id":"1","Address":"1","Name":"1"}""")
  /** testWeatherGrouping inputs (WeatherStreamsTest.java:71-75). */
  val goldenKeyed: Seq[(String, String)] = Seq(
    ("u09t_2016-10-31", """{"tmp_f":23.8,"tmp_c":-4.6,"date":"2016-10-31"}"""),
    ("gcpv_2016-10-01", """{"tmp_f":59.9,"tmp_c":15.5,"date":"2016-10-01"}"""),
    ("u09t_2016-10-26", """{"tmp_f":56.5,"tmp_c":13.6,"date":"2016-10-26"}"""))
  val keyedNoDate = """{"tmp_f":1.0,"tmp_c":2.0}"""

  /** Every golden and malformed line above. */
  val parserLines: Seq[String] = golden ++ notJson ++ deadLetters ++ Seq(stringLat) ++
    bad ++ noTemp ++ Seq(address, noHash) ++ goldenAddresses ++ goldenKeyed.map(_._2) :+
    keyedNoDate
}
