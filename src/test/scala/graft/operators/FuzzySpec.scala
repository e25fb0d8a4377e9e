package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Blocked-Levenshtein entity resolution: planted-typo recall by typo
  * position (the structural-recall contract in the scaladoc), straggler
  * guard, precision (no pair over maxDist), pair canonicalization, and
  * determinism across partitionings. */
class FuzzySpec extends SparkSuite {
  import spark.implicits._

  private def pairs(rows: Seq[(Long, String)], maxDist: Int = 1,
      prefixLen: Int = 4, maxBlock: Option[Int] = Some(10000)): Set[(Long, Long, Int)] =
    Fuzzy.blockedLevenshtein(rows.toDF("id", "name"), col("id"), col("name"),
      maxDist, prefixLen, maxBlock)
      .as[(Long, Long, Int)].collect().toSet

  test("end-typo pairs are found by the complementary pass; precision holds") {
    val rows = Seq(
      1L -> "alexander hamilton",  // base
      2L -> "alexander hamiltoX",  // typo at the END → prefix pass finds it
      3L -> "Xlexander hamilton",  // typo at the START → suffix pass finds it
      4L -> "completely different")
    val got = pairs(rows)
    assert(got.contains((1L, 2L, 1)), s"prefix pass must catch end typo: $got")
    assert(got.contains((1L, 3L, 1)), s"suffix pass must catch start typo: $got")
    // 2 vs 3 differ in two positions → dist 2 > maxDist: excluded
    assert(!got.exists(p => p._1 == 2L && p._2 == 3L), got.toString)
    assert(got.forall(_._3 <= 1), s"precision: $got")
    assert(got.forall(p => p._1 < p._2), s"canonical orientation: $got")
  }

  test("identical strings pair at distance 0, emitted exactly once") {
    val got = pairs(Seq(1L -> "same name", 2L -> "same name", 3L -> "other"))
    assert(got == Set((1L, 2L, 0)))
  }

  test("length band never loses pairs within maxDist of equal-band lengths") {
    // len 8 and len 9 with maxDist=1: bands 8//2=4 and 9//2=4 — same band,
    // pair found
    val got = pairs(Seq(1L -> "abcdefgh", 2L -> "abcdefghi"))
    assert(got == Set((1L, 2L, 1)))
  }

  test("band-boundary indel pairs are found (the r13 probe hole)") {
    // len 9 and len 10 with maxDist=1: bands 9//2=4 and 10//2=5 — a pair
    // STRADDLING the band boundary, which the pre-r13 same-band join lost
    // entirely (SCALE.md "Fuzzy blocking recall dial": 0% deletion recall
    // on even-length names). The probe-band-above rule meets it in the
    // longer record's band.
    val got = pairs(Seq(1L -> "abcdefghi", 2L -> "abcdefghij"))
    assert(got == Set((1L, 2L, 1)))
    // deletion at the head: suffix pass, same straddle
    val got2 = pairs(Seq(1L -> "abcdefghij", 2L -> "bcdefghij"))
    assert(got2 == Set((1L, 2L, 1)))
    // full planted-deletion recall on even-length id-style names
    val base = (0L until 50L).map(i => i -> f"Customer#$i%09d")
    val dels = (0L until 50L).map(i => (1000L + i) -> f"Customer#$i%09d".init)
    val got3 = pairs(base ++ dels, prefixLen = 8)
    assert((0L until 50L).forall(i => got3.contains((i, 1000L + i, 1))),
      s"every deletion twin must pair: ${got3.size} pairs")
  }

  test("maxBlock guard drops oversized blocks entirely (both passes)") {
    // 50 equal-length rows sharing prefix AND suffix blocks; cap at 10 →
    // no pairs at all
    val rows = (10L to 59L).map(i => i -> s"prefix${i}suffix")
    assert(pairs(rows, maxBlock = Some(10)).isEmpty)
    // without the guard the same rows DO produce pairs
    assert(pairs(rows, maxBlock = None).nonEmpty)
  }

  test("deterministic across partitionings") {
    val rows = (1L to 200L).map(i => i -> s"Customer#${f"$i%09d"}")
    val df1 = rows.toDF("id", "name").repartition(1)
    val df37 = rows.toDF("id", "name").repartition(37)
    val a = Fuzzy.blockedLevenshtein(df1, col("id"), col("name"), 1, 15)
      .as[(Long, Long, Int)].collect().toSet
    val b = Fuzzy.blockedLevenshtein(df37, col("id"), col("name"), 1, 15)
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("planted-typo recall on realistic id-style names") {
    // typos in the last 3 chars of an 18-char name, prefixLen 15: the
    // prefix pass must find every planted pair
    val base = (0L until 100L).map(i => i -> s"Customer#${f"$i%09d"}")
    val typos = Seq(1000L -> "Customer#00000004X", 1001L -> "Customer#0000000X7")
    val got = pairs(base ++ typos, prefixLen = 15)
    assert(got.exists(p => p._2 == 1000L && p._3 == 1),
      s"end typo must pair with its source: $got")
    assert(got.exists(p => p._2 == 1001L && p._3 == 1), got.toString)
  }
}
