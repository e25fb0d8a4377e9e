package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate string matching (entity resolution) — find record pairs
  * whose names/titles are within a small edit distance, without the
  * O(n²) all-pairs comparison.
  *
  * Method: multi-pass BLOCKED comparison, the classic ER recipe
  * (Hernández & Stolfo's merge/purge line of work; the banding shape is
  * the same bucket-join pattern as [[Dedup]]'s LSH): each pass assigns
  * every record a deterministic blocking key, candidates are pairs
  * sharing a block, and only candidates pay the Levenshtein verify
  * (Spark's codegen'd built-in). Two complementary passes — a prefix
  * block and a reversed-string (suffix) block, both banded by length —
  * so a single typo at either end of the string cannot hide a pair from
  * BOTH passes. Like any blocking scheme the recall is structural, not
  * total (a typo inside a shared prefix+suffix region is found; one
  * straddling both block keys of a short string may not be): FuzzySpec
  * measures recall on planted typos, and the pass design is the dial.
  *
  * Scale design (the 100 TB story):
  *  - candidate generation is two bucketed self-joins, never a cross
  *    join: comparisons are Σ_b |b|², bounded by `maxBlock`;
  *  - `maxBlock` drops degenerate blocks (the empty-name block, a
  *    boilerplate title shared by millions) — the same straggler guard
  *    contract as `Dedup.dropOversized`, mirrored in the oracle as a
  *    HAVING clause so the gate covers the guard too;
  *  - the length band (`length div (maxDist+1)`) prunes pairs whose
  *    lengths can't be within maxDist — and is NOT quantized: every
  *    record anchors in its own band and PROBES its band plus the band
  *    above (the IVF multi-probe shape), so a qualifying pair (len-diff
  *    ≤ maxDist ⇒ band-diff ≤ 1) always meets in the longer record's
  *    band. Before r13 only same-band pairs met, which silently lost
  *    EVERY indel pair whose longer length is a band-boundary multiple
  *    — measured at 0% deletion recall on even-length names
  *    (SCALE.md "Fuzzy blocking recall dial"; FuzzySpec pins the pairs);
  *  - everything before the verify is narrow map-side column derivation;
  *    the verify itself runs only on co-bucketed candidates.
  *
  * Output: `(id_a, id_b, dist)` with `id_a < id_b`, each qualifying pair
  * exactly once (passes are unioned DISTINCT), `dist ≤ maxDist`.
  */
object Fuzzy {

  /** Candidate pairs within `maxDist` edits, via prefix + suffix blocking
    * passes banded by length. Deterministic — same input, same pairs, on
    * any cluster/partitioning — and fully re-derivable by an external
    * auditor (blocking keys are plain substring/reverse/length SQL).
    *
    * @param prefixLen blocking-key length; longer = smaller blocks
    *   (faster, lower recall for early typos). Strings shorter than
    *   `prefixLen` block on their full text (substring semantics).
    * @param maxBlock straggler guard: blocks larger than this are
    *   dropped entirely (None = no guard — only for bounded fixtures).
    */
  def blockedLevenshtein(df: DataFrame, idCol: Column, strCol: Column,
      maxDist: Int, prefixLen: Int = 4,
      maxBlock: Option[Int] = Some(10000)): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    val base = df.select(idCol.as("id"), strCol.as("k"))

    // Each pass blocks on the first `prefixLen` chars of an ORIENTATION of
    // the string (identity = prefix block; reversed = suffix block). Two
    // same-block strings share those chars EXACTLY, and Levenshtein is
    // invariant under stripping a common prefix (and lev(x,y) =
    // lev(rev x, rev y)) — so the verify compares only the RESIDUAL past
    // the block key. On realistic keys that turns an O(|s|²) distance over
    // full strings into one over a few residual chars (~30× less verify
    // CPU at a 15-of-18-char block), and the candidate shuffle carries the
    // short residual instead of the whole string. The emitted dist equals
    // the full-string distance exactly, by the invariance.
    def pass(oriented: Column): DataFrame = {
      val blocked = base.select(col("id"),
        substring(oriented, 1, prefixLen).as("bk"),
        substring(oriented, prefixLen + 1, Int.MaxValue).as("res"),
        expr(s"CAST(length(k) AS BIGINT) div ${maxDist + 1}").as("lb"))
      // anchor side: each record once, in its own band. Probe side: each
      // record in its band AND the band above — a qualifying pair's
      // band-diff is ≤ 1 (len-diff ≤ maxDist < band width), so it always
      // meets in the LONGER record's band, whatever side of a band
      // boundary the two lengths fall on. Probe rows double one side of
      // the join; anchor stays single, so a cell's work is
      // |anchor|·|probe|, not |probe|².
      val anchor = blocked.withColumn("cell", col("lb"))
      val probeRows = blocked.withColumn("cell", col("lb"))
        .unionByName(blocked.withColumn("cell", col("lb") + 1))
      val (a0, b0) = maxBlock match {
        case Some(cap) =>
          // guard on the PROBE cell (a superset of the anchor cell), so
          // the cap bounds every cell's join to cap² — dropped cells
          // drop from BOTH sides, mirrored in the oracle's HAVING
          val ok = probeRows.groupBy(col("bk"), col("cell"))
            .agg(count(lit(1)).as("cnt"))
            .filter(col("cnt") <= cap).select(col("bk"), col("cell"))
          (anchor.join(ok, Seq("bk", "cell")),
            probeRows.join(ok, Seq("bk", "cell")))
        case None => (anchor, probeRows)
      }
      val a = a0.select(col("bk"), col("cell"), col("lb").as("lb_a"),
        col("id").as("id_a"), col("res").as("r_a"))
      val b = b0.select(col("bk"), col("cell"), col("lb").as("lb_b"),
        col("id").as("id_b"), col("res").as("r_b"))
      a.join(b, Seq("bk", "cell"))
        // orientation pruning BEFORE the verify: a same-band pair meets
        // in both orientations (each record anchors once and probes its
        // own band) — keep one by id order; a cross-band pair meets
        // exactly once, with the higher-band record as the anchor
        // (probe emitted lb+1 = anchor's lb) — keep it whatever the id
        // order says. Halves the verify work vs a bare id_a =!= id_b.
        .filter((col("lb_a") === col("lb_b") && col("id_a") < col("id_b")) ||
          col("lb_a") > col("lb_b"))
        // THRESHOLD form of the codegen'd verify: the banded DP costs
        // O(maxDist·|residual|) and aborts early instead of the full
        // O(|r_a|·|r_b|) matrix — at 100 TB the verify is the hot loop
        // and most candidates exceed the bound. Returns −1 past the
        // threshold (so the keep-filter is `>= 0`); for kept pairs the
        // value equals the exact distance, so the oracle is unchanged.
        .withColumn("dist", levenshtein(col("r_a"), col("r_b"), maxDist))
        .filter(col("dist") >= 0)
        // canonical orientation (cross-band pairs can arrive id-reversed)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
    }

    // reverse-then-prefix rather than a negative-start substring: prefix-
    // from-1 semantics on strings shorter than prefixLen are identical in
    // every engine (whole string), negative starts are not
    pass(col("k")).union(pass(reverse(col("k")))).distinct()
  }
}
