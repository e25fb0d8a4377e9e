package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val shape = Shape(stations = 300, readings = 5000, hotels = 400,
    readingSkew = 1.0, malformedFrac = 0.02)

  test("the same seed gives the same inputs") {
    val a = Gen.generate(shape, 7L)
    val b = Gen.generate(shape, 7L)
    assert(a.lines.toSeq == b.lines.toSeq)
    assert(a.hotels.toSeq == b.hotels.toSeq)
    assert(a.readings.toSeq == b.readings.toSeq)
  }

  test("another seed gives other inputs") {
    assert(Gen.generate(shape, 7L).lines.toSeq != Gen.generate(shape, 8L).lines.toSeq)
  }

  test("the records match the well-formed lines") {
    val in = Gen.generate(shape, 3L)
    assert(in.valid.count(identity) == in.readings.length)
    assert(in.lines.length - in.readings.length == in.malformed)
    assert(in.malformed > 0)
    assert(in.lines.zip(in.valid).collect { case (l, true) => l }.toSeq == in.readings.map(_.json).toSeq)
    assert(in.lines.zip(in.valid).collect { case (l, false) => l }.forall(l => !l.contains("\"wthr_date\"")))
  }

  test("hotels carry their station's geohash4") {
    val in = Gen.generate(shape, 5L)
    val cells = in.readings.map(r => Geohash4.encode(r.lat, r.lng)).toSet
    assert(in.hotels.forall(h => h.hash.length == 4))
    assert(in.hotels.count(h => cells.contains(h.hash)) > in.hotels.length / 2)
  }

  test("a Zipf draw favours the first ranks") {
    val cdf = Gen.zipfCdf(1000, 1.0)
    val rnd = new java.util.SplittableRandom(1L)
    val draws = Seq.fill(20000)(Gen.draw(cdf, rnd))
    assert(draws.count(_ == 0) > draws.count(_ == 999) * 50)
    assert(draws.forall(d => d >= 0 && d < 1000))
  }
}
