package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ExpectedSpec extends AnyFunSuite {
  test("the checker's geohash matches the FIXTURES.md golden vectors") {
    val golden = Seq(
      (39.6467, -89.8455, "dp01"), (35.7395, -78.3249, "dq27"), (36.3367, -77.113, "dq3n"),
      (39.2336, -108.67, "9wfx"), (36.9639, -85.3242, "dne6"), (0.0, 0.0, "s000"),
      (51.5131074, -0.1778707, "gcpv"))
    golden.foreach { case (lat, lng, h) => assert(Geohash4.encode(lat, lng) == h, s"($lat, $lng)") }
  }

  test("the checker's geohash agrees with the pipeline's on generated points") {
    val rnd = new java.util.SplittableRandom(11L)
    (1 to 20000).foreach { _ =>
      val lat = rnd.nextInt(Gen.LatMin4, Gen.LatMax4) / 1e4
      val lng = rnd.nextInt(Gen.LngMin4, Gen.LngMax4) / 1e4
      assert(Geohash4.encode(lat, lng) == graft.functions.Geohash.encode(lat, lng, 4), s"($lat, $lng)")
    }
  }

  test("daily averages are exact sums over count, dates sorted") {
    val e = Expected.of(Seq(
      Reading(396467, -898455, "2017-01-02", 701, 215),
      Reading(396467, -898455, "2017-01-01", 700, 211),
      Reading(396467, -898455, "2017-01-02", 702, 216)))
    val days = e.history("dp01")
    assert(days.map(_.date) == Seq("2017-01-01", "2017-01-02"))
    assert(days(1).n == 2 && days(1).sumTenthsF == 1403)
    assert(math.abs(days(1).avgF - 70.15) < 1e-12)
  }

  test("a history that differs by more than 1e-6 is reported") {
    val want = Seq(Day("2017-01-01", 700, 211, 1))
    assert(Expected.diffHistory("c", Seq(("2017-01-01", 70.0, 21.1)), want).isEmpty)
    assert(Expected.diffHistory("c", Seq(("2017-01-01", 70.0 + 5e-7, 21.1)), want).isEmpty)
    assert(Expected.diffHistory("c", Seq(("2017-01-01", 70.0 + 2e-6, 21.1)), want).isDefined)
    assert(Expected.diffHistory("c", Seq(("2017-01-02", 70.0, 21.1)), want).isDefined)
    assert(Expected.diffHistory("c", Nil, want).isDefined)
  }

  test("the inner join keeps only hotels whose cell has readings") {
    val e = Expected.of(Seq(Reading(396467, -898455, "2017-01-01", 700, 211)))
    val h = Hotel("dp01", "US", "c", "a", "n", "1", 0, 0)
    assert(e.enrichedHotels(Seq(h, h.copy(hash = "zzzz", id = "2"))) == Seq(h))
  }
}
