package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** One well-formed raw weather reading, as the numbers appear in its JSON
  * line (FIXTURES.md §A1). Coordinates are 1e-4 degree units and
  * temperatures tenths of a degree, so the JSON text is exact and the
  * checker can sum temperatures without rounding. */
final case class Reading(lat4: Int, lng4: Int, date: String, tenthsF: Int, tenthsC: Int) {
  def lat: Double = lat4 / 1e4
  def lng: Double = lng4 / 1e4
  def json: String =
    s"""{"avg_tmpr_c": ${Gen.dec(tenthsC, 1)}, "avg_tmpr_f": ${Gen.dec(tenthsF, 1)}, """ +
      s""""lat": ${Gen.dec(lat4, 4)}, "lng": ${Gen.dec(lng4, 4)}, "wthr_date": "$date"}"""
}

/** One hotel record (FIXTURES.md §A3); `hash` is its station's geohash4. */
final case class Hotel(hash: String, country: String, city: String, address: String,
    name: String, id: String, lat4: Int, lng4: Int) {
  def json: String =
    s"""{"Address": "$address", "City": "$city", "Country": "$country", "Hash": "$hash", """ +
      s""""Id": "$id", "Latitude": "${Gen.dec(lat4, 4)}", "Longitude": "${Gen.dec(lng4, 4)}", """ +
      s""""Name": "$name"}"""
}

/** Shape of one generated input set. Stations are points in the continental
  * US box; readings pick a station by a Zipf law of exponent `readingSkew`
  * (0 = uniform) and a day of 2017 uniformly; hotels pick a station
  * uniformly. */
final case class Shape(stations: Int, readings: Int, hotels: Int,
    readingSkew: Double, malformedFrac: Double)

/** Seeded input generator. It writes JSON lines with plain JVM I/O and hands
  * the checker the records behind every well-formed line; the pipeline sees
  * only the files. The same seed and shape give the same bytes. */
object Gen {
  val LatMin4 = 250000; val LatMax4 = 490000
  val LngMin4 = -1250000; val LngMax4 = -670000

  def dec(units: Int, places: Int): String =
    java.math.BigDecimal.valueOf(units.toLong, places).toPlainString

  /** The 365 days of 2017. */
  val Dates: Array[String] = {
    val d0 = java.time.LocalDate.of(2017, 1, 1)
    Array.tabulate(365)(i => d0.plusDays(i.toLong).toString)
  }

  /** Cumulative Zipf weights over `n` ranks; sample with [[draw]]. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    var acc = 0.0
    val cdf = w.map { x => acc += x; acc }
    cdf.map(_ / acc)
  }

  def draw(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  final class Station(val lat4: Int, val lng4: Int) {
    val hash: String = Geohash4.encode(lat4 / 1e4, lng4 / 1e4)
  }

  def stations(n: Int, rnd: SplittableRandom): Array[Station] =
    Array.fill(n)(new Station(rnd.nextInt(LatMin4, LatMax4), rnd.nextInt(LngMin4, LngMax4)))

  /** A reading of a random station (already drawn) on a random day. */
  def reading(st: Station, rnd: SplittableRandom): Reading = {
    val f = rnd.nextInt(-200, 1100) // -20.0 .. 109.9 °F
    val c = math.round((f - 320) * 5.0 / 9.0).toInt
    Reading(st.lat4, st.lng4, Dates(rnd.nextInt(Dates.length)), f, c)
  }

  /** A line the pipeline drops by design: not JSON, cut off before the
    * date, or a JSON object without `wthr_date`. */
  def malformed(r: Reading, rnd: SplittableRandom): String = rnd.nextInt(3) match {
    case 0 => s"garbage-${rnd.nextInt(1000000)}"
    case 1 => r.json.substring(0, r.json.indexOf("\"wthr_date\""))
    case _ => s"""{"avg_tmpr_c": ${dec(r.tenthsC, 1)}, "lat": ${dec(r.lat4, 4)}, "lng": ${dec(r.lng4, 4)}}"""
  }

  def hotel(i: Int, st: Station, rnd: SplittableRandom): Hotel = {
    val dLat = rnd.nextInt(-200, 200); val dLng = rnd.nextInt(-200, 200)
    Hotel(st.hash, "US", s"City ${rnd.nextInt(5000)}", s"${rnd.nextInt(1, 9999)} Main Street",
      s"Hotel $i", (1000000000L + i).toString, st.lat4 + dLat, st.lng4 + dLng)
  }

  /** Everything one workload needs: the raw lines plus the records the
    * checker sums. `valid(i)` tells whether line `i` is a well-formed
    * reading; `readings` are those, in line order; `malformed` counts the
    * rest. */
  final case class Inputs(lines: Array[String], valid: Array[Boolean], readings: Array[Reading],
      malformed: Int, hotels: Array[Hotel])

  def generate(shape: Shape, seed: Long): Inputs = {
    val rnd = new SplittableRandom(seed)
    val st = stations(shape.stations, rnd)
    val rCdf = zipfCdf(st.length, shape.readingSkew)
    val hCdf = zipfCdf(st.length, 0.0)
    val lines = new Array[String](shape.readings)
    val valid = new Array[Boolean](shape.readings)
    val good = Array.newBuilder[Reading]
    var bad = 0
    var i = 0
    while (i < shape.readings) {
      val r = reading(st(draw(rCdf, rnd)), rnd)
      if (rnd.nextDouble() < shape.malformedFrac) { lines(i) = malformed(r, rnd); bad += 1 }
      else { lines(i) = r.json; valid(i) = true; good += r }
      i += 1
    }
    val hotels = Array.tabulate(shape.hotels)(k => hotel(k, st(draw(hCdf, rnd)), rnd))
    Inputs(lines, valid, good.result(), bad, hotels)
  }

  /** Input files are written as this many parts, as a topic with that many
    * partitions would be dumped, so a scan has one split per part: one per
    * task slot of `local[3]`. */
  val Parts = 3

  /** Writes `lines` to `dir` as [[Parts]] files of consecutive lines and
    * returns the directory's path. */
  def writeParts(dir: File, lines: IndexedSeq[String]): String = {
    val per = (lines.length + Parts - 1) / Parts
    (0 until Parts).foreach { p =>
      writeLines(new File(dir, f"part-$p%05d.jsonl"), lines.slice(p * per, (p + 1) * per).iterator)
    }
    dir.getPath
  }

  def writeLines(file: File, lines: Iterator[String]): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
