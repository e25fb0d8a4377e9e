package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Funnel, Sampling, TextAnalysis}

/** Measured scaling curve for the guarded dedup family (SCALE.md §
  * "Measured scaling"): runs minhash / simhash / n-gram dedup at
  * sf0.001 → sf0.01 → sf0.1 (10× corpus per step) and fails if wall time
  * grows quadratically. The plan-shape invariants (PlanInvariantsSpec)
  * prove the guards exist; this proves them by behavior — an accidental
  * all-pairs regression shows up as a ~100× step, far above the bound.
  *
  * Usage: `sbt "runMain graft.ScaleSmoke"`. Prints one line per (op, sf)
  * plus the 0.01→0.1 growth ratio per op; exits 1 when a ratio exceeds
  * the coarse sub-quadratic bound.
  *
  * Bound: 10× rows quadratic ⇒ ~100× time; linearithmic ⇒ ~10–15×. The
  * gate is 50× on the big step (sf0.01 → sf0.1) — loose enough for the
  * observed 2–3× machine variance (min-of-N per Bench), tight enough
  * that a quadratic blowup cannot pass. The small step (sf0.001 → 0.01)
  * is reported but not gated: sub-second runs are fixed-overhead
  * dominated and say nothing about asymptotics.
  */
object ScaleSmoke {

  private val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // catalog configs; ngram runs the DEFAULT dfCap — this is the guard
    // path the smoke exists to measure
    "minhash" -> ((s: SparkSession, dir: String) =>
      Dedup.minhashPairs(docs(s, dir), bands = 32, rowsPerBand = 2,
        threshold = 0.5)),
    "simhash" -> ((s: SparkSession, dir: String) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 6, chunks = 8)),
    "ngram" -> ((s: SparkSession, dir: String) =>
      Dedup.ngramJaccardPairs(docs(s, dir), blockCol = col("lang"),
        threshold = 0.5)),
    // incremental: delta ~30% of corpus vs index over the rest — both
    // sides grow 10× per step, so the curve covers index construction AND
    // the delta-vs-index banding/verify
    "minhash_inc" -> ((s: SparkSession, dir: String) =>
      Dedup.incrementalMinhash(
        docs(s, dir).filter(col("doc_id") % 10 >= 7),
        Dedup.signatureIndex(docs(s, dir).filter(col("doc_id") % 10 < 7)),
        bands = 32, rowsPerBand = 2, threshold = 0.5)),
    // one-exchange shapes added in r7: the greedy funnel DP over events
    // and the range-partitioned exact ntile — both must track data growth
    // linearly, not per-key/per-value hot-spot size
    "funnel" -> ((s: SparkSession, dir: String) =>
      Funnel.conversionCounts(
        Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
        Seq("view", "click", "purchase"), tsCol = "ts_us")),
    "strata" -> ((s: SparkSession, dir: String) =>
      Sampling.scoreStrata(
        TextAnalysis.qualityScore(docs(s, dir))
          .select(col("doc_id"), col("quality")),
        col("quality"), col("doc_id"), k = 10)),
    // r8: connected components on the DURABLE (parquet-staged round)
    // path — the 100 TB configuration must track the same log-round
    // growth as the localCheckpoint default, not add a per-round cost
    // that compounds with data size (fresh scratch dir per run)
    "cc_staged" -> ((s: SparkSession, dir: String) => {
      val scratch = java.nio.file.Files.createTempDirectory("graft-smoke-cc")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
        ()
      }))
      graft.operators.Graph.connectedComponents(
        Dedup.embeddingPairs(Tables.embeddings(s, dir),
          blockCol = col("label"), threshold = 0.35, maxBlock = None),
        stagingDir = Some(scratch.toString),
        // pinned iterative: this row measures the durable-ROUND path's
        // growth; the fast path has its own row below
        smallGraphThreshold = 0L)
    }),
    // r11: the small-graph fast path on the SAME input as cc_staged —
    // the threshold-handoff evidence: while the canonical pair set stays
    // under the threshold the whole convergence is one bounded driver
    // union-find (cost ≈ the canon materialization it shares with the
    // iterative path), and past it the cost continues on cc_staged's
    // iterative curve. No cliff: both paths pay the same canon
    // materialize+count first, the gate only picks what runs AFTER it.
    "cc_fast" -> ((s: SparkSession, dir: String) =>
      graft.operators.Graph.connectedComponents(
        Dedup.embeddingPairs(Tables.embeddings(s, dir),
          blockCol = col("label"), threshold = 0.35, maxBlock = None))),
    // r13: fixed-round k-core peel over the customer–supplier graph
    // (edge mining included — lineitem grows 100× across the sweep):
    // per round the cost is two narrow id semi-joins + one degree
    // aggregate over the edge set, so the step ratio must track the
    // edge count linearly, never re-assemble neighborhoods
    "kcore" -> ((s: SparkSession, dir: String) =>
      graft.operators.Graph.kCorePeel(
        Tables.orders(s, dir).join(Tables.lineitem(s, dir),
            col("o_orderkey") === col("l_orderkey"))
          .filter(col("l_quantity") >= 45)
          .select(col("o_custkey").as("id_a"),
            (col("l_suppkey") + lit(1000000L)).as("id_b")),
        k = 4, rounds = 3)),
    // r9: incremental CC — a bounded delta (pairs touching the 200
    // smallest vec_ids, ~constant as the corpus grows) folded into a
    // standing label table that grows 10× per step. The fold converges
    // on the O(delta) contracted label graph only; the corpus-sized
    // label table is STREAMED twice map-side, so the step ratio must
    // track that linear pass, never the full re-convergence the batch
    // operator pays (compare the cc_staged row). prevLabels + delta
    // pairs read from a first-touch parquet fixture, so the timed
    // region is the fold itself, not the pair mining (min-of-N drops
    // the build run).
    "cc_inc" -> ((s: SparkSession, dir: String) => {
      val fx = ccIncFixture(s, dir)
      graft.operators.Graph.incrementalCC(
        s.read.parquet(s"$fx/labels"), s.read.parquet(s"$fx/delta"))
    }),
    // r14: exact winsorization — the two-phase distributed rank (range
    // exchange + per-partition window + broadcast offsets) plus the
    // 1-row cutoff broadcast; orders grows 10× per step, so the curve
    // covers the ranking pass AND proves no single-task global window
    // (which would flatline at one core and blow the step ratio)
    "winsorize" -> ((s: SparkSession, dir: String) =>
      graft.operators.Profile.winsorize(Tables.orders(s, dir),
        col("o_totalprice"), ppmLow = 10000L, ppmHigh = 990000L)),
    // r15: exact substring dedup — posting explode + one partial-agg
    // survivor arg-min + the per-doc interval merge + in-place rebuild;
    // the fixture's tiny vocabulary makes duplicated 5-gram density
    // roughly scale-free, so the step ratio must track the posting
    // count linearly (an occurrence-list or text-shuffling regression
    // shows up as a super-linear step)
    "substring_dedup" -> ((s: SparkSession, dir: String) =>
      Dedup.dedupSubstrings(docs(s, dir), k = 5)),
    // r17: registrable-domain fold — candidate-suffix explode (≤ 4
    // narrow rows/doc) → broadcast suffix semi-join → struct-max →
    // id-keyed fallback join; both exchanges carry (id, host)-width
    // rows, so the step ratio must track doc count linearly (a
    // text-dragging or quadratic-candidate regression breaks it)
    "reg_domains" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      graft.operators.Urls.registrableDomains(
        docs(s, dir).withColumn("url", concat(col("source"),
          element_at(array(lit(".example.com"), lit(".blog.co.uk"),
            lit(".mirror.org"), lit(".intra.internal")),
            (col("doc_id") % 4).cast("int") + 1))),
        "doc_id", col("url"),
        Seq("com", "co.uk", "org", "example.com").toDF("suffix"))
    }),
    // r17: Aho–Corasick multi-pattern scan — one linear pass per doc
    // against the broadcast automaton, sparse hit emission; the step
    // ratio must track total text volume linearly and be INDEPENDENT of
    // pattern count (the list below is the catalog fixture ×3 to make a
    // pattern-sensitive regression visible)
    "keyword_scan" -> ((s: SparkSession, dir: String) =>
      graft.operators.Keywords.matchCounts(docs(s, dir),
        Seq("a a", "able", "scan", "tab", "table", "zzz",
          "vector table", "big vector", "slow merge", "hash value",
          "window", "spark a", "the line", "batch p", "merge b",
          "sort ta", "group v", "stream f"))),
    // r17: the same scan at BLOCKLIST scale — 10k patterns (the 18 real
    // ones + 10k deterministic synthetics that never match): wall time
    // must stay on keyword_scan's curve, proving the fail-chain scan is
    // pattern-count independent and the automaton ships cheaply
    "keyword_scan_10k" -> ((s: SparkSession, dir: String) =>
      graft.operators.Keywords.matchCounts(docs(s, dir),
        Seq("a a", "able", "scan", "tab", "table", "zzz",
          "vector table", "big vector", "slow merge", "hash value",
          "window", "spark a", "the line", "batch p", "merge b",
          "sort ta", "group v", "stream f") ++
          (0 until 10000).map(i => f"kw!$i%05d"))),
    // r18: the same scan at the blocklist CEILING the Keywords scaladoc
    // claims viable (10⁵ patterns): wall time must stay on
    // keyword_scan's curve — scan cost independent of pattern count —
    // and the automaton's build time + serialized size are reported
    // one-off in main() (SCALE.md pins the numbers)
    "keyword_scan_100k" -> ((s: SparkSession, dir: String) =>
      graft.operators.Keywords.matchCounts(docs(s, dir),
        Seq("a a", "able", "scan", "tab", "table", "zzz",
          "vector table", "big vector", "slow merge", "hash value",
          "window", "spark a", "the line", "batch p", "merge b",
          "sort ta", "group v", "stream f") ++
          (0 until 100000).map(i => f"kw!$i%06d"))),
    // r17: video demux + full-frame decode on the catalog subset —
    // per-row codec work in one narrow map, nothing shuffles but the
    // (id, frame, sums) rows; the step ratio must track the video
    // count linearly (payload bytes never leave the scan stage)
    "video_decode" -> ((s: SparkSession, dir: String) =>
      graft.operators.Video.decodeFrames(
        graft.operators.Video.attachAvi(
          docs(s, dir).filter(col("doc_id") % 5 === 0)
            .select(col("doc_id")),
          _ => graft.operators.Video.CodecRgb))),
    // r19: out-link extraction → host graph — extract/resolve/
    // canonicalize are per-row projections and the only exchange
    // carries host pairs, so the step ratio must track page volume
    // linearly (a super-linear step would mean HTML crossed a shuffle)
    "link_graph" -> ((s: SparkSession, dir: String) =>
      graft.operators.Links.hostGraph(linkPages(docs(s, dir)),
        col("url"), col("html"))),
    // r19: robots gate — per-URL judgment is an in-projection array HOF
    // after one host join against a FIXED-SIZE rules table; linear in
    // URL volume, independent of verdict mix
    "robots" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      graft.operators.Robots.filter(
        docs(s, dir).select(col("doc_id"),
          concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
            lit(".com/p/"), col("doc_id").cast("string")).as("url")),
        "doc_id", col("url"),
        (0 until 7).map(i =>
          (s"h$i.com", "User-agent: *\nDisallow: /private\nAllow: /p"))
          .toDF("host", "robots_txt"), "bot")
    }),
    // r19: the composed frontier — dedup agg + seen anti-join + robots
    // + per-host top-k; every exchange carries canonical-URL-width rows
    "frontier" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      graft.operators.Links.frontier(linkPages(docs(s, dir)),
        col("url"), col("html"),
        docs(s, dir).select(concat(lit("http://ext0.example.org/p"))
          .as("url")).limit(1),
        Seq(("ext2.example.org", "User-agent: *\nDisallow: /"))
          .toDF("host", "robots_txt"),
        "bot", perHostK = 2)
    }),
    // r20: page-metadata extraction — one head-prefix doc-width regex
    // per page + short-string field pulls, staged one hop per
    // projection; pure per-row work, so the step must track page
    // volume linearly (a projection-collapse regression that re-runs
    // the canonical pipeline per reference shows up super-linearly,
    // the 500 KB-plan trap SCALE.md §r20 documents)
    "page_meta" -> ((s: SparkSession, dir: String) =>
      graft.operators.PageMeta.pageMeta(metaPages(docs(s, dir)),
        col("url"), col("html"), Seq("doc_id"))),
    // r20: the canonical collapse on top — adds one canonicalUrl per
    // page and ONE hash aggregate over canonical-URL-width rows; HTML
    // never crosses the exchange, so the step stays linear
    "canonical_cluster" -> ((s: SparkSession, dir: String) =>
      graft.operators.PageMeta.canonicalClusters(metaPages(docs(s, dir)),
        col("url"), col("html"))),
    // r20 cont. 2: the one new exchange-bearing operator of the batch —
    // mirror pair mining. Contents come in id-consecutive triples
    // (df ≤ 3 each, content count linear in corpus) over 36 hosts, plus
    // a corpus-wide boilerplate line the dfCap must drop at EVERY SF:
    // pair fanout is bounded per content, shuffles carry (8-byte hash,
    // host) rows, so the step must track content volume linearly; a
    // lost cap or a content-keyed shuffle bends it super-linear
    "mirror_hosts" -> ((s: SparkSession, dir: String) =>
      graft.operators.Dedup.mirrorHosts(
        docs(s, dir).select(
          concat(lit("h"), (col("doc_id") % 36).cast("string")).as("host"),
          when(col("doc_id") % 11 === 0, lit("boilerplate"))
            .otherwise(concat(lit("c"),
              expr("doc_id div 3").cast("string"))).as("content")),
        col("host"), col("content"), dfCap = 12)))

  /** Directive-laden page construction (the q_html_meta planting's
    * shape, constants only where the smoke doesn't need variance). */
  private def metaPages(df: DataFrame): DataFrame =
    df.withColumn("url", concat(lit("http://"), col("source"),
        lit(".example.com/m/"), col("doc_id").cast("string")))
      .withColumn("html", concat(
        lit("<html lang=\"en\"><head><title>Doc "),
        (col("doc_id") % 11).cast("string"),
        lit("</title><meta name=\"description\" content=\"d"),
        (col("doc_id") % 13).cast("string"),
        lit("\"><meta name=\"robots\" content=\"noarchive\">" +
          "<link rel=\"canonical\" href=\"../c/"),
        (col("doc_id") % 50).cast("string"),
        lit("\"></head><body><p>"), col("text"),
        lit("</p></body></html>")))

  /** The link-face page construction (ExtQueries.linkPageCols' shape):
    * two anchors per doc whose hrefs cycle the reference classes. */
  private def linkPages(df: DataFrame): DataFrame = {
    val refA = element_at(array(
      concat(lit("http://ext"), (col("doc_id") % 5).cast("string"),
        lit(".example.org/p")),
      lit("//cdn.example.net/lib"),
      concat(lit("/local/"), col("doc_id").cast("string")),
      lit("sub/page")), (col("doc_id") % 4).cast("int") + 1)
    val refB = element_at(array(
      concat(lit("../up/"), col("doc_id").cast("string")),
      lit("?v=2"),
      lit("a/./b/../c")), (col("doc_id") % 3).cast("int") + 1)
    df.withColumn("url", concat(lit("http://"), col("source"),
        lit(".example.com/dir/page"), col("doc_id").cast("string"),
        lit(".html")))
      .withColumn("html", concat(
        lit("<html><body><a href=\""), refA,
        lit("\">a</a><a href='"), refB, lit("'>b</a></body></html>")))
  }

  private val ccIncBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ccIncFixture(s: SparkSession, dir: String): String =
    ccIncBuilt.computeIfAbsent(dir, { _ =>
      val root = java.nio.file.Files.createTempDirectory("graft-smoke-ccinc")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
        ()
      }))
      val pairs = Dedup.embeddingPairs(Tables.embeddings(s, dir),
        blockCol = col("label"), threshold = 0.35, maxBlock = None)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val isDelta = col("id_a") < 200 || col("id_b") < 200
      graft.operators.Graph.connectedComponents(pairs.filter(!isDelta))
        .write.parquet(s"${root.toString}/labels")
      pairs.filter(isDelta).write.parquet(s"${root.toString}/delta")
      pairs.unpersist()
      root.toString
    })

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  def main(args: Array[String]): Unit = {
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(op: (SparkSession, String) => DataFrame, dir: String): Double =
      (0 until math.max(1, iters)).map { _ =>
        // the minhash/simhash persist() is pinned by the CacheManager —
        // clear between runs so no run reads another's cached signatures
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        op(spark, s"/root/testdata/$dir").count()
        (System.nanoTime() - t0) / 1e9
      }.min

    // r18: automaton-ceiling evidence (the Keywords scaladoc claims
    // 10⁵-pattern viability) — driver-side build time + serialized size
    // at 100k patterns, printed alongside the scan curve that proves
    // per-doc cost independent of pattern count
    locally {
      val pats = (0 until 100000).map(i => f"kw!$i%06d")
      val t0 = System.nanoTime()
      val ac = graft.operators.Keywords.buildAutomaton(pats)
      val buildS = (System.nanoTime() - t0) / 1e9
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(ac); oos.close()
      println(f"automaton_100k build=$buildS%.2fs " +
        f"serialized=${bos.size() / 1024.0 / 1024.0}%.1f MB")
    }

    // warm-up at the smallest SF so timed runs hit the codegen cache
    ops.foreach { case (_, op) =>
      spark.catalog.clearCache()
      op(spark, "/root/testdata/sf0.001").count()
    }

    var violations = 0
    val lines = ops.map { case (name, op) =>
      val ts = sfs.map(sf => sf -> time(op, sf))
      val bysf = ts.toMap
      val smallStep = bysf("sf0.01") / bysf("sf0.001")
      val bigStep = bysf("sf0.1") / bysf("sf0.01")
      val ok = bigStep < 50.0
      if (!ok) violations += 1
      val cells = ts.map { case (sf, t) => f"$sf=$t%.2fs" }.mkString(" ")
      f"$name%-8s $cells  x(0.001→0.01)=$smallStep%.1f x(0.01→0.1)=$bigStep%.1f " +
        (if (ok) "OK" else "QUADRATIC?")
    }
    lines.foreach(println)
    spark.stop()
    if (violations > 0) {
      System.err.println(s"[scale-smoke] $violations op(s) exceeded the bound")
      sys.exit(1)
    }
  }
}
