package graft.operators

import graft.SparkSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Connected components (large-star/small-star): fixed topologies with
  * known answers, robustness to duplicate/reversed/self-loop edges, a
  * long-path graph (the diameter case plain min-propagation would need
  * O(n) rounds for), and a ScalaCheck property against a local
  * union-find reference on random graphs.
  */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  // smallGraphThreshold = 0 pins the ITERATIVE large-star/small-star
  // path: every small fixture here would otherwise silently exercise only
  // the driver-local fast path (default threshold 100k). The fast path
  // has its own ≡-iterative property tests below.
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("id_a", "id_b"),
      smallGraphThreshold = 0L)
      .as[(Long, Long)].collect().toMap

  private def fastCC(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  /** True iff `df` came out of the driver-local fast path (a local
    * relation); the iterative path's leaves are checkpoint/staging scans. */
  private def usedFastPath(df: org.apache.spark.sql.DataFrame): Boolean = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  /** Local union-find reference. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("chain, star, cycle, and disjoint components resolve to min ids") {
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(cc(Seq((5L, 9L), (5L, 7L), (5L, 6L))) ==
      Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 9L -> 5L))
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicate, reversed, and self-loop edges don't change the result") {
    val base = cc(Seq((1L, 2L), (2L, 3L)))
    assert(cc(Seq((2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (1L, 1L), (3L, 3L))) == base)
  }

  test("self-loops only → every node is its own singleton component") {
    assert(cc(Seq((4L, 4L), (9L, 9L))) == Map(4L -> 4L, 9L -> 9L))
  }

  test("200-node path converges (log-round bound, not diameter-bound)") {
    val path = (0L until 199L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("stagingDir path: durable rounds, identical labels, rounds retired") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc").toString
    try {
      // long path forces many rounds — exercises the stage/drop rotation
      val edges = ((0L until 149L).map(i => (i, i + 1)) ++
        Seq((500L, 501L), (600L, 600L))).toDF("id_a", "id_b")
      val default = Graph.connectedComponents(edges, smallGraphThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      val staged = Graph.connectedComponents(edges, stagingDir = Some(dir),
        smallGraphThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(staged == default, "staged CC must equal the localCheckpoint path")
      val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).sorted
      assert(subdirs.count(_.startsWith("cc_canon_")) == 1, subdirs.mkString(","))
      assert(subdirs.count(_.startsWith("cc_round_")) == 1,
        s"only the final round's staging table may remain: ${subdirs.mkString(",")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  /** Staged tables under `dir` whose name starts with `name_`. */
  private def tables(dir: String, name: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith(name + "_")).toSeq

  private def incCC(prev: Map[Long, Long], delta: Seq[(Long, Long)],
      dir: Option[String] = None): Map[Long, Long] =
    Graph.incrementalCC(prev.toSeq.toDF("id", "component"),
      delta.toDF("id_a", "id_b"), stagingDir = dir)
      .as[(Long, Long)].collect().toMap

  test("incrementalCC: merges, bridges, fresh nodes, and no-op deltas") {
    // base: {1,2,3} and {10,11}; delta bridges them and adds {20,21}
    val base = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(incCC(base, Seq((3L, 10L), (20L, 21L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
        20L -> 20L, 21L -> 20L))
    // delta entirely inside one old component: labels unchanged
    assert(incCC(base, Seq((1L, 3L))) == base)
    // delta linking a fresh node in: it takes the component's min label
    assert(incCC(base, Seq((99L, 11L))) == base + (99L -> 10L))
    // a fresh node SMALLER than the old label becomes the new label
    assert(incCC(base, Seq((0L, 2L))) ==
      base.map { case (k, v) => k -> (if (v == 1L) 0L else v) } + (0L -> 0L))
  }

  test("property: incrementalCC == full recompute on the unioned edge set") {
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      m <- Gen.chooseNum(1, 30)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, 25L)
        b <- Gen.chooseNum(0L, 25L)
      } yield (a, b))
    } yield edges
    val prop = Prop.forAll(edgeGen, edgeGen) { (e1, e2) =>
      val b1 = e1.filter(e => e._1 != e._2)
      val b2 = e2.filter(e => e._1 != e._2)
      if (b1.isEmpty || b2.isEmpty) true
      else {
        val full = ufComponents(b1 ++ b2) // trusted vs cc() in the spec above
        val inc = incCC(cc(b1), b2)
        inc == full
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("incrementalCC stagingDir: identical labels, scratch is droppable rounds only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-icc").toString
    try {
      val base = cc(Seq((1L, 2L), (5L, 6L), (8L, 9L)))
      val delta = Seq((2L, 5L), (30L, 31L), (9L, 30L))
      val staged = incCC(base, delta, Some(dir))
      assert(staged == incCC(base, delta), "staged ≡ localCheckpoint path")
      assert(staged == ufComponents(
        Seq((1L, 2L), (5L, 6L), (8L, 9L)) ++ delta))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("property: fast path ≡ iterative path, label values included") {
    // random graphs with self-loop-only nodes (singletons) and duplicate /
    // reversed edges — the full row set must match, label VALUES included
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.chooseNum(1, 30)
      m <- Gen.chooseNum(1, 50)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong) // a == b allowed: self-loops stay in
      } yield (a, b))
    } yield edges
    val prop = Prop.forAll(edgeGen) { edges =>
      fastCC(edges) == cc(edges)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("fast path string ids: UTF-8 byte order, not Java UTF-16 order") {
    // U+FFFF ("￿") < U+1F600 ("😀") in UTF-8 byte order (Spark's
    // UTF8String / the oracle's binary collation), but the REVERSE holds
    // in Java String.compareTo (UTF-16 code units: D83D < FFFF). The fast
    // path must agree with Spark, so the component label here is "￿".
    val edges = Seq(("￿", "😀"), ("b", "a"), ("c", "c"))
    def run(thr: Long): Map[String, String] =
      Graph.connectedComponents(edges.toDF("id_a", "id_b"),
        smallGraphThreshold = thr).as[(String, String)].collect().toMap
    val fast = run(1000L)
    assert(fast == run(0L), "fast ≡ iterative for string ids")
    assert(fast("😀") == "￿",
      "supplementary char must NOT win the min under UTF-8 order")
    assert(fast == Map("￿" -> "￿", "😀" -> "￿",
      "a" -> "a", "b" -> "a", "c" -> "c"))
  }

  test("threshold boundary: ≤ canonical count → local relation, below → iterative") {
    // canonical set of (1,2),(2,1),(2,3),(3,3) = {(2,1),(3,2),(3,3)}: 3 rows
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L)).toDF("id_a", "id_b")
    val at = Graph.connectedComponents(edges, smallGraphThreshold = 3L)
    val below = Graph.connectedComponents(edges, smallGraphThreshold = 2L)
    assert(usedFastPath(at), "count == threshold must take the fast path")
    assert(!usedFastPath(below), "count > threshold must stay iterative")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    assert(at.as[(Long, Long)].collect().toMap == expected)
    assert(below.as[(Long, Long)].collect().toMap == expected)
  }

  test("threshold is capped: Long.MaxValue request still bounded, same labels") {
    val edges = Seq((7L, 3L), (3L, 5L), (9L, 9L)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(edges, smallGraphThreshold = Long.MaxValue)
    assert(usedFastPath(got), "small graph under a huge threshold: fast path")
    assert(got.as[(Long, Long)].collect().toMap ==
      Map(7L -> 3L, 3L -> 3L, 5L -> 3L, 9L -> 9L))
  }

  test("fast path refuses non-orderable id types (stays iterative)") {
    // decimal ids: driver ordering is not certified → iterative path even
    // though the graph is tiny
    val edges = Seq((BigDecimal(1), BigDecimal(2))).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(edges)
    assert(!usedFastPath(got))
    assert(got.count() == 2L)
  }

  test("random graphs match a local union-find reference") {
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield edges
    val prop = Prop.forAll(edgeGen) { edges =>
      val real = edges.filter(e => e._1 != e._2)
      if (real.isEmpty) true
      else {
        // union-find reference only tracks nodes touched by real edges;
        // self-loop-only nodes are singletons in both (checked above)
        val expected = ufComponents(real)
        val got = cc(real)
        got == expected
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- pageRank ----

  private def pr(edges: Seq[(Long, Long)], rounds: Int = 5,
      scale: Long = 1000000000000L): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), rounds = rounds, scale = scale)
      .as[(Long, Long)].collect().toMap

  /** Local reference of the exact integer contract in the scaladoc. */
  private def prRef(edges: Seq[(Long, Long)], rounds: Int,
      scale: Long = 1000000000000L): Map[Long, Long] = {
    val canon = edges.distinct
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size.toLong
    val out = canon.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val base = (15L * (scale / n)) / 100L
    var p = nodes.map(_ -> scale / n).toMap
    (1 to rounds).foreach { _ =>
      val dang = nodes.filterNot(out.contains).map(p).sum
      val dshare = dang / n
      val insum = canon.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => p(e._1) / out(e._1)).sum
      }
      p = nodes.map(v => v -> (base + (85L * (insum.getOrElse(v, 0L) + dshare)) / 100L)).toMap
    }
    p
  }

  private def kcore(edges: Seq[(Long, Long)], k: Int, rounds: Int,
      stagingDir: Option[String] = None): (Map[Long, Long], Boolean) = {
    import spark.implicits._
    val out = Graph.kCorePeel(edges.toDF("id_a", "id_b"), k, rounds,
      stagingDir = stagingDir)
      .as[(Long, Long, Boolean)].collect()
    (out.map(r => r._1 -> r._2).toMap, out.headOption.forall(_._3))
  }

  test("kCorePeel: triangle with pendants — 2-core is the triangle, converged") {
    // triangle 1-2-3, pendants 4 (off 1) and 5 (off 4): peel removes 5
    // then 4 — a genuine two-round CASCADE
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L))
    val (core, conv) = kcore(edges, k = 2, rounds = 3)
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L) && conv, s"$core $conv")
    // insufficient budget: after 1 round the closing filter already
    // trims node 4 (its recount within {1,2,3,4} is 1), but node 1's
    // reported degree still counts the dead 1–4 edge (deg 3, the
    // documented deg_R-within-alive_{R-1} recurrence) and the flag must
    // say NOT converged — the recount wasn't re-verified as a fixed point
    val (partial, conv1) = kcore(edges, k = 2, rounds = 1)
    assert(partial == Map(1L -> 3L, 2L -> 2L, 3L -> 2L) && !conv1,
      s"$partial $conv1")
  }

  test("kCorePeel: path graph peels from the ends; empty core converges") {
    // path 1-2-3-4-5-6: the 2-core of any tree is empty; each round
    // removes the current endpoints, needing 3 rounds to empty
    val path = (1L to 5L).map(i => (i, i + 1))
    val (core, conv) = kcore(path, k = 2, rounds = 4)
    assert(core.isEmpty && conv, s"$core $conv")
    val (mid, convMid) = kcore(path, k = 2, rounds = 1)
    assert(mid.nonEmpty && !convMid, s"$mid $convMid")
  }

  test("kCorePeel: duplicate/reversed/self-loop edges are canonicalized; staged twin equal") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (3L, 1L))
    val (a, convA) = kcore(edges, k = 2, rounds = 2)
    assert(a == Map(1L -> 2L, 2L -> 2L, 3L -> 2L) && convA)
    Staging.withDir(spark, java.nio.file.Files
      .createTempDirectory("kcore-stg").toString) { d =>
      val (b, convB) = kcore(edges, k = 2, rounds = 2, stagingDir = Some(d))
      assert(b == a && convB == convA)
      assert(tables(d, "kcore_round").size == 1,
        s"only the final round's table may remain: ${tables(d, "kcore_round")}")
    }
  }

  test("pageRank: hand graph matches the integer-contract reference") {
    // 1 → 2 → 3, 3 → 1, 4 dangling receiver of 1; includes a cycle and
    // a dangling node so both mass paths are live
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    assert(pr(edges) == prRef(edges, 5))
  }

  test("pageRank: duplicate edges don't change the result (canonical set)") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L))
    assert(pr(edges ++ edges ++ edges) == pr(edges))
  }

  test("pageRank: sinks of a star concentrate rank; mass decays < N per round") {
    val scale = 1000000000000L
    val edges = (1L to 10L).map(u => (u, 99L)) // everyone points at 99
    val got = pr(edges, rounds = 5, scale = scale)
    assert(got(99L) > got(1L) * 5, s"hub should dominate: $got")
    val mass = got.values.sum
    val n = 11L
    // each round loses < n units to integral division, over 5 rounds
    assert(mass <= scale && mass >= scale - 5 * n * 100, s"mass=$mass")
  }

  test("pageRank: integer contract tracks float PageRank within drift bound") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size
    val out = edges.groupBy(_._1).map { case (u, es) => u -> es.size }
    var fp = nodes.map(_ -> 1.0 / n).toMap
    (1 to 5).foreach { _ =>
      val dang = nodes.filterNot(out.contains).map(fp).sum
      val insum = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => fp(e._1) / out(e._1)).sum
      }
      fp = nodes.map(v => v -> (0.15 / n + 0.85 * (insum.getOrElse(v, 0.0) + dang / n))).toMap
    }
    val scale = 1000000000000L
    val got = pr(edges)
    nodes.foreach { v =>
      val int = got(v).toDouble / scale
      // per-round truncation loses < 1/scale·(rounds·2) relative mass per
      // node plus the float model's own rounding — generous envelope
      assert(math.abs(int - fp(v)) < 1e-6,
        s"node $v: integer=$int float=${fp(v)}")
    }
  }

  test("pageRank: stagingDir path yields identical ranks") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (5L, 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-stg").toString
    try {
      val staged = Graph.pageRank(edges.toDF("src", "dst"), rounds = 4,
        stagingDir = Some(dir)).as[(Long, Long)].collect().toMap
      assert(staged == pr(edges, rounds = 4))
      assert(tables(dir, "pr_round").size == 1,
        s"only the final round's table may remain: ${tables(dir, "pr_round")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  // ---- triangles ----

  private def tri(edges: Seq[(Long, Long)]): Long =
    Graph.triangles(edges.toDF("id_a", "id_b")).as[Long].head()

  /** Local reference: brute-force distinct-node triples. */
  private def triRef(edges: Seq[(Long, Long)]): Long = {
    val es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    nodes.combinations(3).count { case Seq(x, y, z) =>
      es((x, y)) && es((x, z)) && es((y, z))
    }
  }

  test("triangles: hand graphs — triangle, K4, star, path") {
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 1L))) == 1L)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(k4) == 4L)
    assert(tri((1L to 10L).map(i => (0L, i))) == 0L) // star: hub wedges all inbound
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0L)
  }

  test("triangles: duplicates, reversals, self-loops canonicalized away") {
    val t = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(tri(t ++ t.map(_.swap) ++ Seq((1L, 1L), (2L, 2L))) == 1L)
  }

  test("triangles: random graphs match the brute-force reference") {
    val rnd = new scala.util.Random(31)
    (1 to 8).foreach { _ =>
      val n = 3 + rnd.nextInt(12)
      val edges = Seq.fill(2 * n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(tri(edges) == triRef(edges), s"edges=$edges")
    }
  }

  test("pageRank: guards — empty graph and scale < N refuse loudly") {
    intercept[IllegalArgumentException] {
      pr(Seq((1L, 2L)), scale = 1L)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"))
        .collect()
    }
  }

  /** Local synchronous-LPA reference: same ballot rule (most frequent
    * label among neighbors plus the self-vote, ties to the smallest),
    * every node updates at once. */
  private def lpaReference(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keys.map(id => id -> id).toMap
    for (_ <- 1 to rounds) {
      lbl = adj.map { case (id, ns) =>
        val votes = (ns.map(lbl) :+ lbl(id)).groupBy(identity)
          .view.mapValues(_.size).toSeq
        id -> votes.minBy { case (l, n) => (-n, l) }._1
      }
    }
    lbl
  }

  test("labelPropagation: two communities with a bridge; sync semantics exact") {
    // two triangles joined by one bridge edge — LPA should settle each
    // triangle on its own min label within 3 synchronous rounds
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val got = Graph.labelPropagation(edges.toDF("id_a", "id_b"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == lpaReference(edges, 3), s"got $got")
    // the two triangles' non-bridge nodes carry distinct communities
    assert(got(1L) == got(2L) && got(11L) == got(12L) && got(1L) != got(11L))
  }

  test("labelPropagation: stagingDir path yields identical labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val dir = java.nio.file.Files.createTempDirectory("graft-lpa-stg").toString
    try {
      val staged = Graph.labelPropagation(edges.toDF("id_a", "id_b"), rounds = 3,
        stagingDir = Some(dir)).as[(Long, Long)].collect().toMap
      assert(staged == Graph.labelPropagation(edges.toDF("id_a", "id_b"), rounds = 3)
        .as[(Long, Long)].collect().toMap)
      assert(staged == lpaReference(edges, 3))
      assert(tables(dir, "lpa_round").size == 1,
        s"only the final round's table may remain: ${tables(dir, "lpa_round")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("personalizedPageRank: stagingDir path yields identical ranks") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (5L, 1L))
    val seeds = Seq(1L, 5L).toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("graft-ppr-stg").toString
    try {
      val staged = Graph.personalizedPageRank(edges.toDF("src", "dst"), seeds,
        rounds = 4, stagingDir = Some(dir)).as[(Long, Long)].collect().toMap
      assert(staged == Graph.personalizedPageRank(edges.toDF("src", "dst"), seeds,
        rounds = 4).as[(Long, Long)].collect().toMap)
      assert(staged == pprReference(edges, Set(1L, 5L), 4))
      assert(tables(dir, "ppr_round").size == 1,
        s"only the final round's table may remain: ${tables(dir, "ppr_round")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("personalizedPageRank: all-nodes seeding == uniform pageRank; mass follows seeds") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L), (10L, 11L)).toDF("src", "dst")
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L)).toDF("id")
    // with the restart spread over EVERY node the recurrence degenerates
    // to uniform PageRank exactly (same integer formulas, |S| = n)
    val uni = Graph.pageRank(edges).as[(Long, Long)].collect().toMap
    val all = Graph.personalizedPageRank(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(all == uni, s"all-seed PPR must equal uniform PageRank:\n$all\n$uni")
    // seeded at node 1 only: the ring gets all the mass; the
    // disconnected 10→11 component receives neither restart nor link
    // mass — exactly zero at every round
    val p1 = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(p1(2L) > 0L && p1(1L) > 0L, "seed neighborhood must carry mass")
    assert(p1(10L) == 0L && p1(11L) == 0L,
      "a component unreachable from the seeds must score exactly zero")
    // seeds outside the graph are dropped; an all-foreign seed set fails
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, Seq(999L).toDF("id")).collect()
    }
    ()
  }

  test("modularity: hand-computed integer evidence on the bridged triangles") {
    // two triangles + one bridge: m = 7; communities from a perfect
    // 2-split: e_c = 3 internal each (the bridge is cross-community);
    // degrees: bridge endpoints 3, others 2 → d_c = 7 each
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("id_a", "id_b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "community")
    val got = Graph.modularity(edges, labels)
      .orderBy($"community")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // q_part = 4·7·3 − 7² = 84 − 49 = 35 per community; Q = 70/196 ≈ 0.357
    assert(got == Seq((1L, 3L, 3L, 7L, 7L, 35L), (10L, 3L, 3L, 7L, 7L, 35L)),
      s"got $got")
    // a degenerate all-one-community split scores ZERO exactly:
    // e_c = m, d_c = 2m ⇒ q_part = 4m² − 4m² = 0
    val one = Graph.modularity(edges,
      Seq(1L, 2L, 3L, 10L, 11L, 12L).map(i => (i, 0L)).toDF("id", "community"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(one == Seq((0L, 6L, 7L, 14L, 7L, 0L)), s"got $one")
  }

  test("modularity: partial labels score the labeled-induced subgraph consistently") {
    // same bridged triangles, but the second triangle is UNLABELED: the
    // evidence must be exactly the first triangle's standalone numbers —
    // edges to/among {10,11,12} excluded from m, degrees, and internals
    // alike (r16 advisory: m previously counted all 7 edges while the
    // internal joins dropped 4, silently breaking Q·4m² = Σ q_part)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("id_a", "id_b")
    val partial = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "community")
    val got = Graph.modularity(edges, partial)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // induced subgraph = the bare triangle: m = 3, e_c = 3, d_c = 6
    // ⇒ q_part = 4·3·3 − 36 = 0 (a single community always scores zero)
    assert(got == Seq((1L, 3L, 3L, 6L, 3L, 0L)), s"got $got")
    // identity audit on a partial TWO-community case: label one triangle
    // and only the bridge endpoint of the other — every per-community row
    // must satisfy the shared-m contract and Σ d_c = 2m
    val partial2 = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L))
      .toDF("id", "community")
    val rows = Graph.modularity(edges, partial2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // induced edges: triangle {1,2,3} + bridge (3,10) → m = 4;
    // community 1: e=3, d=2+2+3=7 → q_part = 48−49 = −1
    // community 10: e=0, d=1     → q_part = 0−1  = −1
    assert(rows.sortBy(_._1) ==
      Seq((1L, 3L, 3L, 7L, 4L, -1L), (10L, 1L, 0L, 1L, 4L, -1L)), s"got $rows")
    assert(rows.map(_._4).sum == 2 * rows.head._5, "sum d_c must equal 2m")
  }

  test("property: labelPropagation == local synchronous reference for any graph") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = for {
      n <- Gen.chooseNum(1, 25)
      es <- Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 12L); b <- Gen.chooseNum(0L, 12L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    val prop = Prop.forAll(edgeGen, Gen.chooseNum(1, 4)) { (es, r) =>
      es.isEmpty || {
        val got = Graph.labelPropagation(es.toDF("id_a", "id_b"), rounds = r)
          .as[(Long, Long)].collect().toMap
        got == lpaReference(es, r)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  // the engine's exact integer recurrence, replayed locally: restart and
  // dangling mass paid to the seeds only, Long division throughout
  private def pprReference(edges: Seq[(Long, Long)], seeds: Set[Long],
      rounds: Int, scale: Long = 1000000000000L): Map[Long, Long] = {
    val canon = edges.distinct
    val nodes = canon.flatMap { case (u, v) => Seq(u, v) }.distinct
    val od = canon.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val s = seeds.intersect(nodes.toSet)
    val nS = s.size.toLong
    val base = (15L * (scale / nS)) / 100L
    var pr = nodes.map(id => id -> (if (s(id)) scale / nS else 0L)).toMap
    for (_ <- 1 to rounds) {
      val dang = nodes.filter(id => !od.contains(id)).map(pr).sum
      val insum = canon.filter { case (u, _) => od.contains(u) }
        .groupBy(_._2).view
        .mapValues(_.map { case (u, _) => pr(u) / od(u) }.sum).toMap
      pr = nodes.map { id =>
        val redis = insum.getOrElse(id, 0L) + (if (s(id)) dang / nS else 0L)
        id -> ((if (s(id)) base else 0L) + (85L * redis) / 100L)
      }.toMap
    }
    pr
  }

  test("property: personalizedPageRank == local integer reference for any graph and seed set") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = for {
      n <- Gen.chooseNum(1, 25)
      es <- Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 12L); b <- Gen.chooseNum(0L, 12L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    val seedGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 12L)).map(_.toSet)
    val prop = Prop.forAll(edgeGen, seedGen, Gen.chooseNum(1, 3)) { (es, sd, r) =>
      val nodes = es.flatMap { case (a, b) => Seq(a, b) }.toSet
      es.isEmpty || sd.intersect(nodes).isEmpty || {
        val got = Graph.personalizedPageRank(es.toDF("src", "dst"),
          sd.toSeq.toDF("id"), rounds = r)
          .as[(Long, Long)].collect().toMap
        got == pprReference(es, sd, r)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
