package perfbench

import scala.collection.mutable

/** The checker's own 4-character geohash, written from the public algorithm
  * by bit-interleaving integer cell indices instead of bisecting an
  * interval, so it shares no code with `graft.functions.Geohash`. Checked
  * against the FIXTURES.md §A5 golden vectors. */
object Geohash4 {
  private val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  def encode(lat: Double, lng: Double): String = {
    // 20 bits: 10 longitude bits and 10 latitude bits, longitude first.
    val lngIdx = math.min(1023, math.floor((lng + 180.0) / 360.0 * 1024).toInt)
    val latIdx = math.min(1023, math.floor((lat + 90.0) / 180.0 * 1024).toInt)
    var bits = 0L
    var b = 9
    while (b >= 0) {
      bits = (bits << 1) | ((lngIdx >> b) & 1)
      bits = (bits << 1) | ((latIdx >> b) & 1)
      b -= 1
    }
    val sb = new StringBuilder(4)
    var k = 3
    while (k >= 0) { sb.append(Alphabet.charAt(((bits >> (5 * k)) & 31).toInt)); k -= 1 }
    sb.toString
  }
}

/** One day of a cell's history: the exact sums behind the mean, in tenths
  * of a degree, and the count. */
final case class Day(date: String, sumTenthsF: Long, sumTenthsC: Long, n: Long) {
  def avgF: Double = sumTenthsF.toDouble / n / 10.0
  def avgC: Double = sumTenthsC.toDouble / n / 10.0
}

/** The expected pipeline output, computed in plain Scala from the
  * generator's records: per cell the date-sorted daily averages, and per
  * hotel whose cell has readings one enriched row. */
final class Expected {
  private val cells = mutable.HashMap.empty[String, mutable.HashMap[String, Array[Long]]]

  def add(r: Reading): Unit = {
    val days = cells.getOrElseUpdate(Geohash4.encode(r.lat, r.lng), mutable.HashMap.empty)
    val acc = days.getOrElseUpdate(r.date, new Array[Long](3))
    acc(0) += r.tenthsF; acc(1) += r.tenthsC; acc(2) += 1
  }

  def history: Map[String, IndexedSeq[Day]] = cells.iterator.map { case (cell, days) =>
    cell -> days.toIndexedSeq.sortBy(_._1).map { case (d, a) => Day(d, a(0), a(1), a(2)) }
  }.toMap

  /** Hotels that the inner join keeps: those whose cell has a history. */
  def enrichedHotels(hotels: Seq[Hotel]): Seq[Hotel] = hotels.filter(h => cells.contains(h.hash))
}

object Expected {
  def of(readings: Iterable[Reading]): Expected = {
    val e = new Expected
    readings.foreach(e.add)
    e
  }

  /** Compares one actual cell history (date, tmp_f, tmp_c per entry) with
    * the expected one: dates and length exactly, averages within 1e-6
    * (`CellHistoryAggregator` rounds to micro-units). Returns a description
    * of the first difference, if any. */
  def diffHistory(cell: String, actual: Seq[(String, Double, Double)], expected: Seq[Day]): Option[String] = {
    val tol = 1e-6
    if (actual.length != expected.length)
      Some(s"$cell: ${actual.length} days, expected ${expected.length}")
    else actual.zip(expected).collectFirst {
      case ((d, f, c), e) if d != e.date || !(math.abs(f - e.avgF) <= tol) ||
          !(math.abs(c - e.avgC) <= tol) =>
        s"$cell: got ($d, $f, $c), expected (${e.date}, ${e.avgF}, ${e.avgC})"
    }
  }
}
