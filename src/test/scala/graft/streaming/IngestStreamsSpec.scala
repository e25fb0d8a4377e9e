package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType}

/** Durable cross-batch dedup ingestion: batches stream in through
  * foreachBatch, survivors and their key hashes append to parquet, and a
  * document admitted in ANY earlier batch is rejected in every later one —
  * the unbounded-state dedup a watermark can't express. Parity oracle: the
  * final output must equal batch-mode exact dedup of the full concatenation
  * (modulo survivor id: the stream admits the FIRST batch's copy, which is
  * also the min id here).
  */
class IngestStreamsSpec extends SparkSuite {
  import spark.implicits._

  test("dedupIngest: cross-batch rejection, batch parity, restart-safe index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest").toString
    val (indexDir, outDir, ckpt) = (s"$dir/idx", s"$dir/out", s"$dir/ckpt")

    val src = MemoryStream[(Long, String)]
    val q = IngestStreams.dedupIngest(
      src.toDF().toDF("doc_id", "text"), indexDir, outDir, ckpt)

    src.addData((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
    q.processAllAvailable()
    src.addData((4L, "alpha doc"), (5L, "gamma doc"), (6L, "gamma doc"))
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(outDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    // batch 1: 1 and 2 admitted (3 is a batch-internal dup of 1);
    // batch 2: 4 rejected by the INDEX (cross-batch), 5 admitted, 6 is
    // batch-internal dup of 5
    assert(out == Set((1L, "alpha doc"), (2L, "beta doc"), (5L, "gamma doc")))

    // parity with batch dedup over the concatenation
    val all = Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"),
      (4L, "alpha doc"), (5L, "gamma doc"), (6L, "gamma doc"))
      .toDF("doc_id", "text")
    val batch = all.join(
      Dedup.exact(all, "text", "doc_id").select($"doc_id"),
      Seq("doc_id"), "left_semi")
      .as[(Long, String)].collect().toSet
    assert(out == batch, "stream ingestion must match batch dedup semantics")

    // the index survives the query: a NEW query over the same dirs still
    // rejects previously admitted content
    val src2 = MemoryStream[(Long, String)]
    val q2 = IngestStreams.dedupIngest(
      src2.toDF().toDF("doc_id", "text"), indexDir, outDir, s"$dir/ckpt2")
    src2.addData((7L, "beta doc"), (8L, "delta doc"))
    q2.processAllAvailable()
    q2.stop()
    val out2 = spark.read.parquet(outDir)
      .select($"doc_id").as[Long].collect().toSet
    assert(out2 == Set(1L, 2L, 5L, 8L), s"got $out2")
  }

  test("tableJoinIngest: two-sided state, stale upsert never regresses, left-join parity") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tjoin").toString

    val src = MemoryStream[(String, Long, Long, String)]
    val q = IngestStreams.tableJoinIngest(
      src.toDF().toDF("side", "key", "ord", "name"),
      s"$dir/dim", s"$dir/fact", s"$dir/joined", s"$dir/ckpt")

    // batch 0: the REAL v2 rows for keys 1,2 arrive FIRST + some facts
    src.addData(("dim", 1L, 2L, "alice"), ("dim", 2L, 2L, "bob"),
      ("fact", 1L, 0L, ""), ("fact", 1L, 0L, ""), ("fact", 9L, 0L, ""))
    q.processAllAvailable()
    // batch 1: the stale v1 rows arrive LATE (must NOT overwrite), a new
    // key 3 appears stale-first, more facts fold in
    src.addData(("dim", 1L, 1L, "alice (stale)"), ("dim", 2L, 1L, "bob (stale)"),
      ("dim", 3L, 1L, "carol (stale)"), ("fact", 2L, 0L, ""))
    q.processAllAvailable()
    // batch 2: key 3's real row lands; one more fact for key 1
    src.addData(("dim", 3L, 2L, "carol"), ("fact", 1L, 0L, ""))
    q.processAllAvailable()
    q.stop()

    val fin = spark.read.parquet(s"$dir/joined")
      .groupBy($"key")
      .agg(max_by(struct($"name", $"n_events"), $"batch_id").as("f"))
      .select($"key", $"f.name", $"f.n_events")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // key 1: 3 facts; key 2: 1 fact; key 3: none (null ⇒ -1 here);
    // key 9's facts have no dim row → absent (left join keeps dim side)
    assert(fin == Set((1L, "alice", 3L), (2L, "bob", 1L),
      (3L, "carol", -1L)), s"got $fin")

    // intermediate snapshot after batch 1 must reflect the no-regression
    // rule (stale arrivals changed nothing for keys 1,2) and carol-stale
    val mid = spark.read.parquet(s"$dir/joined")
      .filter($"batch_id" === 1L)
      .select($"key", $"name").as[(Long, String)].collect().toMap
    assert(mid(1L) == "alice" && mid(2L) == "bob" &&
      mid(3L) == "carol (stale)")
  }

  test("scd2Ingest: late version closes intervals retroactively; final snapshot = batch window") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("scd2").toString

    val src = MemoryStream[(Long, Long, String, Double)]
    val q = IngestStreams.scd2Ingest(
      src.toDF().toDF("key", "ord", "event_type", "value"),
      s"$dir/state", s"$dir/scd2", s"$dir/ckpt")

    // batch 0: key 1 gets v10 and v30 (v20 missing — arrives later)
    src.addData((1L, 10L, "a", 1.0), (1L, 30L, "c", 3.0), (2L, 5L, "x", 9.0))
    q.processAllAvailable()
    // batch 1: the STALE middle version v20 lands late — it must slot
    // INSIDE the existing history: [10,20), [20,30), [30,null)
    src.addData((1L, 20L, "b", 2.0))
    q.processAllAvailable()
    q.stop()

    def snapshot(bid: Long): Set[(Long, Long, Option[Long], Boolean, String)] =
      spark.read.parquet(s"$dir/scd2").filter($"batch_id" === bid)
        .select($"key", $"valid_from", $"valid_to", $"is_current", $"event_type")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3), r.getString(4))).toSet

    assert(snapshot(0L) == Set(
      (1L, 10L, Some(30L), false, "a"), (1L, 30L, None, true, "c"),
      (2L, 5L, None, true, "x")), "batch-0 history")
    // after the late arrival, [10,30) must have been REOPENED as [10,20)
    assert(snapshot(1L) == Set(
      (1L, 10L, Some(20L), false, "a"), (1L, 20L, Some(30L), false, "b"),
      (1L, 30L, None, true, "c"),
      (2L, 5L, None, true, "x")), "late version re-derives closed intervals")

    // final snapshot == the batch operator over the full version set
    val batch = graft.operators.WeatherOps.scd2History(
      Seq((1L, 10L, "a", 1.0), (1L, 30L, "c", 3.0), (2L, 5L, "x", 9.0),
        (1L, 20L, "b", 2.0)).toDF("key", "ord", "event_type", "value"),
      Seq("key"), "ord")
      .select($"key", $"valid_from", $"valid_to", $"is_current", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3), r.getString(4))).toSet
    assert(snapshot(1L) == batch, "streamed twin = batch operator")
  }

  test("domainIngest: streamed ledger equals batch domainStats; restart-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("domingest").toString
    val (indexDir, ckpt) = (s"$dir/dom_idx", s"$dir/ckpt")

    // empty directory = empty corpus
    assert(IngestStreams.readDomainStats(spark, indexDir).count() == 0L)

    val b1 = Seq((1L, "http://www.a.com/x", "one two"),
      (2L, "https://A.com:8080/y", "three"))
    val b2 = Seq((3L, "b.org", "four five six"),
      (4L, "https://user@a.com./z", "seven"))
    val src = MemoryStream[(Long, String, String)]
    val q = IngestStreams.domainIngest(
      src.toDF().toDF("doc_id", "url", "text"), $"url", indexDir, ckpt)
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"domain").as[(String, Long, Long)].collect().toSeq
    val expected = rows(graft.operators.Urls.domainStats(
      (b1 ++ b2).toDF("doc_id", "url", "text"), $"url"))
    assert(rows(IngestStreams.readDomainStats(spark, indexDir)) == expected)
    assert(expected == Seq(("a.com", 3L, 4L), ("b.org", 1L, 3L)))

    // the ledger survives the query: a NEW stream over the same dir keeps
    // accumulating (additive domain-keyed sums, disjoint ids)
    val src2 = MemoryStream[(Long, String, String)]
    val q2 = IngestStreams.domainIngest(
      src2.toDF().toDF("doc_id", "url", "text"), $"url", indexDir,
      s"$dir/ckpt2")
    src2.addData((5L, "WWW.B.ORG/p", "eight nine"))
    q2.processAllAvailable()
    q2.stop()
    assert(rows(IngestStreams.readDomainStats(spark, indexDir)) ==
      Seq(("a.com", 3L, 4L), ("b.org", 2L, 5L)))
  }

  test("mirrorIngest: streamed pair ledger equals batch mirrorHosts; cross-batch dups collapse") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("miringest").toString
    val (indexDir, ckpt) = (s"$dir/mir_idx", s"$dir/ckpt")

    assert(IngestStreams.readMirrorHosts(spark, indexDir).count() == 0L)

    // m1/m2 share a,b,c; the SAME (host, content) pair recurs across
    // batches (a recrawl) and must collapse in the cross-batch distinct
    val b1 = Seq(("m1", "a"), ("m1", "b"), ("m2", "a"), ("solo", "x"))
    val b2 = Seq(("m1", "c"), ("m1", "d"), ("m2", "b"), ("m2", "c"),
      ("m2", "e"), ("solo", "y"), ("solo", "z"), ("solo", "w"),
      ("m2", "a")) // recrawled pair from b1
    val src = MemoryStream[(String, String)]
    val q = IngestStreams.mirrorIngest(
      src.toDF().toDF("host", "content"), $"host", $"content",
      indexDir, ckpt)
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"host_a", $"host_b")
        .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    val expected = rows(graft.operators.Dedup.mirrorHosts(
      (b1 ++ b2).toDF("host", "content"), $"host", $"content"))
    assert(rows(IngestStreams.readMirrorHosts(spark, indexDir)) == expected)
    // both inventories count DISTINCT contents — the recrawled (m2, a)
    // row did not inflate m2's inventory (4, not 5)
    assert(expected == Seq(("m1", "m2", 3L, 4L, 4L, 750000L)))

    // a NEW stream over the same ledger keeps accreting
    val src2 = MemoryStream[(String, String)]
    val q2 = IngestStreams.mirrorIngest(
      src2.toDF().toDF("host", "content"), $"host", $"content",
      indexDir, s"$dir/ckpt2")
    src2.addData(("solo", "a"), ("solo", "b"), ("solo", "c"))
    q2.processAllAvailable()
    q2.stop()
    val after = rows(IngestStreams.readMirrorHosts(spark, indexDir))
    // solo now shares a,b,c with both mirrors (3 of min(4,7)=4 each)
    assert(after == Seq(("m1", "m2", 3L, 4L, 4L, 750000L),
      ("m1", "solo", 3L, 4L, 7L, 750000L),
      ("m2", "solo", 3L, 4L, 7L, 750000L)))
  }

  test("linkIngest: streamed link graph equals batch hostGraph; restart-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("linkingest").toString
    val (indexDir, ckpt) = (s"$dir/link_idx", s"$dir/ckpt")

    // an absent directory is the empty graph, with the ledger's schema
    val empty = IngestStreams.readLinkGraph(spark, indexDir)
    assert(empty.count() == 0L)
    assert(empty.schema.map(f => (f.name, f.dataType)) == Seq(
      "src_host" -> StringType, "dst_host" -> StringType, "n_links" -> LongType))

    // the a.com → ext.org edge is split across batches, so the read-time
    // sum is live; self links and mailto targets are no edges
    val b1 = Seq(("http://a.com/p",
      """<a href="http://ext.org/1">x</a><a href="/self">s</a>"""),
      ("http://b.com/p", """<a href="//ext.org/3">x</a>"""))
    val b2 = Seq(("http://a.com/q",
      """<a href="http://ext.org/2">y</a><a href="mailto:z@q.com">m</a>"""),
      ("http://c.com/p", """<a href="http://a.com/">a</a>"""))
    val src = MemoryStream[(String, String)]
    val q = IngestStreams.linkIngest(src.toDF().toDF("url", "html"),
      $"url", $"html", indexDir, ckpt)
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    def rows(df: DataFrame) = df.orderBy($"src_host", $"dst_host")
      .as[(String, String, Long)].collect().toSeq
    val expected = rows(graft.operators.Links.hostGraph(
      (b1 ++ b2).toDF("url", "html"), $"url", $"html"))
    assert(rows(IngestStreams.readLinkGraph(spark, indexDir)) == expected)
    assert(expected == Seq(("a.com", "ext.org", 2L), ("b.com", "ext.org", 1L),
      ("c.com", "a.com", 1L)))

    // the graph survives the query: a NEW stream over the same dir keeps
    // accumulating edge counts
    val src2 = MemoryStream[(String, String)]
    val q2 = IngestStreams.linkIngest(src2.toDF().toDF("url", "html"),
      $"url", $"html", indexDir, s"$dir/ckpt2")
    src2.addData(("http://b.com/r", """<a href="http://ext.org/9">z</a>"""))
    q2.processAllAvailable()
    q2.stop()
    assert(rows(IngestStreams.readLinkGraph(spark, indexDir)) ==
      Seq(("a.com", "ext.org", 2L), ("b.com", "ext.org", 2L),
        ("c.com", "a.com", 1L)))
  }

  test("keywordIngest: streamed hit ledger equals batch matchCounts; restart-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("kwingest").toString
    val (indexDir, ckpt) = (s"$dir/kw_idx", s"$dir/ckpt")
    val patterns = Seq("table", "tab", "zzz")

    // an absent directory is the empty ledger, with the ledger's schema
    val empty = IngestStreams.readKeywordStats(spark, indexDir)
    assert(empty.count() == 0L)
    assert(empty.schema.map(f => (f.name, f.dataType)) == Seq(
      "pattern" -> StringType, "n_hits" -> LongType, "n_docs" -> LongType))

    // both hit patterns recur across the batch boundary
    val b1 = Seq((1L, "the table is stable"), (2L, "no hits here!"))
    val b2 = Seq((3L, "tab tab"), (4L, "a table"))
    val src = MemoryStream[(Long, String)]
    val q = IngestStreams.keywordIngest(src.toDF().toDF("doc_id", "text"),
      patterns, indexDir, ckpt)
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    def rows(df: DataFrame) =
      df.orderBy($"pattern").as[(String, Long, Long)].collect().toSeq
    val expected = rows(graft.operators.Keywords.matchCounts(
      (b1 ++ b2).toDF("doc_id", "text"), patterns)
      .groupBy($"pattern")
      .agg(sum($"n").as("n_hits"), count(lit(1)).as("n_docs")))
    assert(rows(IngestStreams.readKeywordStats(spark, indexDir)) == expected)
    // 'tab' is inside every 'table'; never-hit 'zzz' has no row
    assert(expected == Seq(("tab", 5L, 3L), ("table", 3L, 2L)))

    // the ledger survives the query: a NEW stream over the same dir keeps
    // accumulating (additive pattern-keyed sums, disjoint ids)
    val src2 = MemoryStream[(Long, String)]
    val q2 = IngestStreams.keywordIngest(src2.toDF().toDF("doc_id", "text"),
      patterns, indexDir, s"$dir/ckpt2")
    src2.addData((5L, "zzz tab"))
    q2.processAllAvailable()
    q2.stop()
    assert(rows(IngestStreams.readKeywordStats(spark, indexDir)) ==
      Seq(("tab", 6L, 4L), ("table", 3L, 2L), ("zzz", 1L, 1L)))
  }

  test("metaIngest: streamed cluster ledger equals batch canonicalClusters; restart-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("metaingest").toString
    val (indexDir, ckpt) = (s"$dir/meta_idx", s"$dir/ckpt")
    assert(IngestStreams.readCanonicalClusters(spark, indexDir).count() == 0L)
    def page(url: String, canon: Option[String]): (String, String) =
      (url, "<html><head>" +
        canon.map(c => s"""<link rel="canonical" href="$c">""").getOrElse("") +
        "</head><body></body></html>")
    // the "main" cluster is split ACROSS batches with its min member in
    // the LATER batch — the read-time (sum, min) fold is live, not a
    // per-batch identity
    val b1 = Seq(page("http://a.com/p2", Some("http://a.com/main")),
      page("http://b.com/solo", None))
    val b2 = Seq(page("http://a.com/p1", Some("http://a.com/main")))
    val src = MemoryStream[(String, String)]
    val q = IngestStreams.metaIngest(
      src.toDF().toDF("url", "html"), $"url", $"html", indexDir, ckpt)
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"canonical").as[(String, Long, String)].collect().toSeq
    val expected = rows(graft.operators.PageMeta.canonicalClusters(
      (b1 ++ b2).toDF("url", "html"), $"url", $"html"))
    assert(rows(IngestStreams.readCanonicalClusters(spark, indexDir)) ==
      expected)
    assert(expected == Seq(
      ("http://a.com/main", 2L, "http://a.com/p1"),
      ("http://b.com/solo", 1L, "http://b.com/solo")))
    // the ledger survives the query: a NEW stream over the same dir
    // keeps accumulating and the min keeps tightening
    val src2 = MemoryStream[(String, String)]
    val q2 = IngestStreams.metaIngest(
      src2.toDF().toDF("url", "html"), $"url", $"html", indexDir,
      s"$dir/ckpt2")
    src2.addData(page("http://a.com/p0", Some("http://a.com/main")))
    q2.processAllAvailable()
    q2.stop()
    assert(rows(IngestStreams.readCanonicalClusters(spark, indexDir)) ==
      Seq(("http://a.com/main", 3L, "http://a.com/p0"),
        ("http://b.com/solo", 1L, "http://b.com/solo")))
  }

  test("dfIngest: streamed df index equals batch dfIndex; compaction sum-preserving; restart-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("dfingest").toString
    val (indexDir, ckpt) = (s"$dir/df_idx", s"$dir/ckpt")

    // empty directory = empty corpus
    assert(IngestStreams.readDfIndex(spark, indexDir).count() == 0L)

    val src = MemoryStream[(Long, String)]
    val q = IngestStreams.dfIngest(
      src.toDF().toDF("doc_id", "text"), indexDir, ckpt)
    src.addData((1L, "join hash join"), (2L, "hash scan"))
    q.processAllAvailable()
    src.addData((3L, "join row"), (4L, "scan scan filter"))
    q.processAllAvailable()
    q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"term").as[(String, Long)].collect().toSeq
    val all = Seq((1L, "join hash join"), (2L, "hash scan"),
      (3L, "join row"), (4L, "scan scan filter")).toDF("doc_id", "text")
    val expected = rows(graft.operators.TextAnalysis.dfIndex(all))
    assert(rows(IngestStreams.readDfIndex(spark, indexDir)) == expected)
    // spot value: 'join' in docs 1 and 3, df counts docs not occurrences
    assert(expected.toMap.apply("join") == 2L)

    // compaction folds batch partitions; the read-back statistic is bit-identical
    IngestStreams.compactDfIndex(spark, indexDir, s"$dir/df_compact")
    assert(rows(IngestStreams.readDfIndex(spark, s"$dir/df_compact")) == expected)
    // and genuinely pre-aggregated: one partition, one row per term
    val compacted = spark.read.parquet(s"$dir/df_compact")
    assert(compacted.select($"batch_key").distinct().as[String].collect()
      .toSeq == Seq("compacted"))
    assert(compacted.count() == expected.size.toLong)

    // the index survives the query: a NEW stream over the same dir keeps
    // accumulating (append-only batch partitions, disjoint ids)
    val src2 = MemoryStream[(Long, String)]
    val q2 = IngestStreams.dfIngest(
      src2.toDF().toDF("doc_id", "text"), indexDir, s"$dir/ckpt2")
    src2.addData((5L, "filter merge"))
    q2.processAllAvailable()
    q2.stop()
    val all2 = all.union(Seq((5L, "filter merge")).toDF("doc_id", "text"))
    assert(rows(IngestStreams.readDfIndex(spark, indexDir)) ==
      rows(graft.operators.TextAnalysis.dfIndex(all2)))
  }

  test("dedupIngest minhash: streamed signature index and pairs match batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_mh").toString
    val (indexDir, outDir, ckpt, pairsDir) =
      (s"$dir/idx", s"$dir/out", s"$dir/ckpt", s"$dir/pairs")
    val mh = IngestStreams.MinhashConfig(pairsDir, threshold = 0.5)

    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near1 = base.replace("lazy", "sleepy") // near-dup of base
    val near2 = base.replace("quick", "swift") // near-dup of base (and near1)
    val other = "completely different content with no shared shingles at all here now"

    val src = MemoryStream[(Long, String)]
    val q = IngestStreams.dedupIngest(src.toDF().toDF("doc_id", "text"),
      indexDir, outDir, ckpt, minhash = Some(mh))
    // batch 0: base + unrelated + exact dup (collapsed before signing)
    src.addData((1L, base), (2L, other), (3L, base))
    q.processAllAvailable()
    // leak gate: every per-batch staging persist (signatures, survivors,
    // the mine's delta sig/postings) must be released before the batch
    // commits — a long-running ingest otherwise accumulates pinned
    // relations per batch until executors OOM (r16 advisory). Cached-RDD
    // count after later batches must not exceed the post-batch-0 level.
    def pinnedRdds(): Int = spark.sparkContext.getPersistentRDDs.size
    val pinnedAfterB0 = pinnedRdds()
    // batch 1: near-dup of corpus doc 1, plus a fresh doc
    src.addData((4L, near1), (5L, "another unrelated document about entirely new things"))
    q.processAllAvailable()
    q.stop()
    assert(pinnedRdds() <= pinnedAfterB0,
      s"per-batch staging leaked: ${pinnedRdds()} pinned RDDs after batch 1" +
        s" vs $pinnedAfterB0 after batch 0")

    val admitted = spark.read.parquet(outDir).select($"doc_id", $"text")
    assert(admitted.select($"doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 4L, 5L))

    // streamed signature index == batch signatureIndex over the admitted corpus
    val streamedSigs = spark.read.parquet(s"$indexDir/signatures")
      .select($"doc_id", $"sh", $"sig").as[(Long, Seq[Long], Seq[Long])]
      .collect().toSet
    val batchSigs = Dedup.signatureIndex(admitted)
      .as[(Long, Seq[Long], Seq[Long])].collect().toSet
    assert(streamedSigs == batchSigs,
      "streamed signature index must equal the batch signatureIndex of the admitted corpus")

    // streamed pairs (union over batches) == batch minhashPairs over the
    // admitted corpus, modulo orientation (incremental puts the newer doc
    // first; batch uses id_a < id_b)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(least($"id_a", $"id_b"), greatest($"id_a", $"id_b"))
      .as[(Long, Long)].collect().toSet
    val streamedPairs = norm(spark.read.parquet(pairsDir))
    val batchPairs = norm(Dedup.minhashPairs(admitted, threshold = 0.5))
    assert(streamedPairs == batchPairs && streamedPairs.contains((1L, 4L)),
      s"streamed=$streamedPairs batch=$batchPairs")

    // restart durability: a NEW query over the same dirs still finds
    // near-dups against the standing signature index
    val src2 = MemoryStream[(Long, String)]
    val q2 = IngestStreams.dedupIngest(src2.toDF().toDF("doc_id", "text"),
      indexDir, outDir, s"$dir/ckpt2", minhash = Some(mh))
    src2.addData((6L, near2))
    q2.processAllAvailable()
    q2.stop()
    assert(pinnedRdds() <= pinnedAfterB0,
      s"per-batch staging leaked across restart: ${pinnedRdds()} pinned RDDs" +
        s" vs $pinnedAfterB0 after batch 0")
    // (4,6) is NOT expected: near1/near2 differ from each other by two
    // words, which puts their jaccard below the 0.5 threshold
    val afterRestart = norm(spark.read.parquet(pairsDir))
    assert(afterRestart.contains((1L, 6L)),
      s"restarted query must mine pairs against the standing index: $afterRestart")
    // and the signature index kept growing
    assert(spark.read.parquet(s"$indexDir/signatures")
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L, 5L, 6L))

    // compaction of the DEDUP index (hashes + signatures subdirs): one
    // compacted partition each, content-identical read-back — the
    // signature-index leg of the compactIndex contract (the embed/IVF leg
    // has its own case below)
    val compacted = s"$dir/idx2"
    IngestStreams.compactIndex(spark, indexDir, compacted)
    for (sub <- Seq("hashes", "signatures")) {
      val c = spark.read.parquet(s"$compacted/$sub")
      assert(c.select($"batch_key").distinct().as[String].collect()
        .toSeq == Seq("compacted"), s"$sub must fold to one partition")
    }
    assert(spark.read.parquet(s"$compacted/signatures")
      .select($"doc_id", $"sh", $"sig").as[(Long, Seq[Long], Seq[Long])]
      .collect().toSet ==
      spark.read.parquet(s"$indexDir/signatures")
        .select($"doc_id", $"sh", $"sig").as[(Long, Seq[Long], Seq[Long])]
        .collect().toSet, "signature rows survive compaction verbatim")
    assert(spark.read.parquet(s"$compacted/hashes")
        .select($"key_hash").as[Long].collect().sorted.toSeq ==
      spark.read.parquet(s"$indexDir/hashes")
        .select($"key_hash").as[Long].collect().sorted.toSeq,
      "hash rows survive compaction verbatim")
    // a fresh ingest against the COMPACTED index still rejects dups and
    // mines pairs vs the standing corpus (resume caveat: new checkpoint)
    val src3 = MemoryStream[(Long, String)]
    val q3 = IngestStreams.dedupIngest(src3.toDF().toDF("doc_id", "text"),
      compacted, outDir, s"$dir/ckpt3", minhash = Some(mh))
    src3.addData((7L, base), (8L, base.replace("dog", "cat")))
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(s"$compacted/hashes").count() >
      spark.read.parquet(s"$indexDir/hashes").count() - 1,
      "compacted index keeps accepting batches")
    assert(spark.read.parquet(s"$compacted/signatures")
      .select($"doc_id").as[Long].collect().toSet.contains(8L),
      "fresh admit lands in the compacted index")
    assert(!spark.read.parquet(outDir).select($"doc_id").as[Long]
      .collect().contains(7L), "exact dup still rejected post-compaction")
  }

  test("embedIngest: durable IVF index, train-once centroids, ANN recall from index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("embed_ingest").toString
    val (indexDir, ckpt) = (s"$dir/idx", s"$dir/ckpt")
    val all = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()

    val src = MemoryStream[(Long, Seq[Float])]
    val q = IngestStreams.embedIngest(src.toDF().toDF("vec_id", "embedding"),
      indexDir, ckpt, nlist = 8)
    src.addData(all.take(300).toSeq: _*)
    q.processAllAvailable()
    src.addData(all.drop(300).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    // every vector indexed exactly once, cells within range
    val postings = spark.read.parquet(s"$indexDir/postings")
    assert(postings.select($"vec_id").distinct().count() == all.length)
    assert(postings.count() == all.length)
    assert(postings.filter($"cell" < 0 || $"cell" >= 8).count() == 0)

    // centroids persisted once; batch-2 assignments used the SAME quantizer:
    // re-deriving every assignment from the stored centroids matches
    val cents = spark.read.parquet(s"$indexDir/centroids").orderBy($"cell")
      .collect().map(_.getSeq[Double](1).toArray)
    assert(cents.length == 8)
    val rederived = spark.read.parquet(s"$indexDir/postings")
      .select($"vec_id",
        element_at(graft.operators.Similarity.nearestCells($"v", cents, 1), 1)
          .as("cell2"), $"cell")
    assert(rederived.filter($"cell" =!= $"cell2").count() == 0,
      "stored assignments must match the persisted quantizer")

    // ANN from the streamed index: decent recall vs brute force
    val embs = graft.Tables.embeddings(spark, sf0001)
    val qs = embs.filter($"vec_id" < 8)
    val ann = IngestStreams.annFromIndex(spark, indexDir, qs, k = 5, nprobe = 4)
    val audit = graft.operators.Similarity.recallAudit(
      graft.operators.Similarity.bruteForceTopK(embs, qs, k = 5), ann)
    val recall = audit.agg(avg($"recall")).head().getDouble(0)
    assert(recall >= 0.5, s"streamed-index ANN recall too low: $recall")

    // restart with a NEW checkpoint: same centroids (no retrain), new rows
    val src2 = MemoryStream[(Long, Seq[Float])]
    val q2 = IngestStreams.embedIngest(
      src2.toDF().toDF("vec_id", "embedding"), indexDir, s"$dir/ckpt2", nlist = 8)
    src2.addData((100001L, all.head._2))
    q2.processAllAvailable()
    q2.stop()
    val cents2 = spark.read.parquet(s"$indexDir/centroids").orderBy($"cell")
      .collect().map(_.getSeq[Double](1).toArray)
    assert(cents2.length == 8 &&
      cents.zip(cents2).forall { case (a, b) => a.sameElements(b) },
      "centroids are train-once for the life of the index")
    assert(spark.read.parquet(s"$indexDir/postings").count() == all.length + 1)
  }

  test("embedIngest PQ: train-once codebooks, stored codes match, ADC+refine recall") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("embed_pq").toString
    val (indexDir, ckpt) = (s"$dir/idx", s"$dir/ckpt")
    val all = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()

    val src = MemoryStream[(Long, Seq[Float])]
    val q = IngestStreams.embedIngest(src.toDF().toDF("vec_id", "embedding"),
      indexDir, ckpt, nlist = 8,
      pq = Some(IngestStreams.PqIndexConfig(m = 16, ksub = 16)))
    src.addData(all.take(300).toSeq: _*)
    q.processAllAvailable()
    src.addData(all.drop(300).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    // codebooks persisted once; stored codes re-derivable from them for
    // EVERY batch (i.e. batch 2 encoded with batch-1's codebooks)
    import org.apache.spark.sql.graftbridge.Bridge
    val bookRows = spark.read.parquet(s"$indexDir/codebooks")
      .orderBy($"sub", $"code").collect()
    val books = bookRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)).toArray
    assert(books.length == 16 && books.forall(_.length == 16))
    val postings = spark.read.parquet(s"$indexDir/postings")
    val mismatch = postings.select($"vec_id", $"code",
      Bridge.column(graft.operators.PqEncode(Bridge.expression($"v"),
        new graft.operators.Mat3(books))).as("code2"))
      .filter($"code" =!= $"code2").count()
    assert(mismatch == 0, "stored codes must match the persisted codebooks")

    // ADC + refine path: recall floor vs brute force
    val embs = graft.Tables.embeddings(spark, sf0001)
    val qs = embs.filter($"vec_id" < 8)
    val ann = IngestStreams.annFromIndex(spark, indexDir, qs, k = 5,
      nprobe = 4, rerank = 8)
    val recall = graft.operators.Similarity.recallAudit(
      graft.operators.Similarity.bruteForceTopK(embs, qs, k = 5), ann)
      .agg(avg($"recall")).head().getDouble(0)
    assert(recall >= 0.5, s"PQ-index ANN recall too low: $recall")
  }

  test("annFromIndex over a PQ index returns ivfPqTopK's rows and shortlist") {
    // the standing index's read path is the batch IVF-PQ algorithm run
    // over persisted quantizers: same sample, centroids, codebooks,
    // probe, ADC shortlist and exact refine, so the same rows
    val dir = Files.createTempDirectory("ann_vs_batch").toString
    val embs = graft.Tables.embeddings(spark, sf0001)
    val qs = embs.filter($"vec_id" < 8)
    IngestStreams.buildEmbeddingIndex(embs, s"$dir/idx",
      pq = Some(IngestStreams.PqIndexConfig(16, 32)), nlist = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id", $"cos", $"rank")
        .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    def shortlist(path: String) =
      spark.read.parquet(path).as[(Long, Long)].collect().sorted.toSeq
    val streamed = rows(IngestStreams.annFromIndex(spark, s"$dir/idx", qs,
      k = 5, nprobe = 4, rerank = 8, shortlistSink = Some(s"$dir/sl_index")))
    val batch = rows(graft.operators.Similarity.ivfPqTopK(embs, qs, k = 5,
      nlist = 16, nprobe = 4, m = 16, ksub = 32, rerank = 8,
      trainSample = 10000, shortlistSink = Some(s"$dir/sl_batch")))
    spark.catalog.clearCache()
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    assert(shortlist(s"$dir/sl_index") == shortlist(s"$dir/sl_batch"))
  }

  test("q_ann_index catalog face: batch-built index, rank contract, recall floor") {
    // the catalog entry builds the standing index with buildEmbeddingIndex
    // (same kernels as a streaming micro-batch) and answers via
    // annFromIndex — assert the rank contract and the recall floor the
    // rows-only driver check cannot see
    val ann = graft.SparkEntry.queries("q_ann_index")(spark, sf0001)
    val rows = ann.select($"query_id", $"rank", $"vec_id")
      .as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty, "standing-index ANN must return rows")
    val perQuery = rows.groupBy(_._1)
    assert(perQuery.forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == (1 to rs.length) && rs.length <= 5
    }, "ranks must be 1..k per query")
    assert(rows.forall { case (q, _, v) => q != v }, "self-hits excluded")
    val recall = graft.SparkEntry.queries("q_ann_index_recall")(spark, sf0001)
      .agg(avg($"recall")).head().getDouble(0)
    assert(recall >= 0.5, s"standing-index catalog recall too low: $recall")
  }

  test("compactIndex: one partition out, same ANN answers, quantizers copied verbatim") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("embed_compact").toString
    val (indexDir, ckpt, compacted) = (s"$dir/idx", s"$dir/ckpt", s"$dir/idx2")
    val all = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val src = MemoryStream[(Long, Seq[Float])]
    val q = IngestStreams.embedIngest(src.toDF().toDF("vec_id", "embedding"),
      indexDir, ckpt, nlist = 8)
    // three micro-batches → three batch_key partitions
    all.grouped(200).foreach { g => src.addData(g.toSeq: _*); q.processAllAvailable() }
    q.stop()
    assert(spark.read.parquet(s"$indexDir/postings")
      .select($"batch_key").distinct().count() == 3)

    IngestStreams.compactIndex(spark, indexDir, compacted)
    val post = spark.read.parquet(s"$compacted/postings")
    assert(post.select($"batch_key").distinct().count() == 1)
    assert(post.count() == all.length)
    // quantizer copied bit-for-bit
    assert(spark.read.parquet(s"$compacted/centroids").orderBy($"cell")
      .collect().map(_.getSeq[Double](1)).toSeq ==
      spark.read.parquet(s"$indexDir/centroids").orderBy($"cell")
        .collect().map(_.getSeq[Double](1)).toSeq)
    // identical ANN answers from the compacted index
    val qs = graft.Tables.embeddings(spark, sf0001).filter($"vec_id" < 8)
    def answers(d: String) =
      IngestStreams.annFromIndex(spark, d, qs, k = 5)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(answers(compacted) == answers(indexDir))
  }

  test("compact-then-resume: resumeOffsets pins the old commit point; no dup, no gap") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("embed_resume").toString
    val (indexDir, ckpt) = (s"$dir/idx", s"$dir/ckpt")
    val all = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()

    val src = MemoryStream[(Long, Seq[Float])]
    val q = IngestStreams.embedIngest(src.toDF().toDF("vec_id", "embedding"),
      indexDir, ckpt, nlist = 8)
    src.addData(all.take(200).toSeq: _*)
    q.processAllAvailable()
    src.addData(all.slice(200, 400).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    // the helper returns the OLD checkpoint's last COMMITTED end offsets,
    // exactly as the source serialized them (MemoryStream: a bare block
    // count; Kafka would be the startingOffsets partition-map JSON)
    val offs = IngestStreams.resumeOffsets(spark, ckpt)
    assert(offs.length == 1, s"one source → one offset entry: $offs")
    assert(offs.head.exists(o => o.forall(_.isDigit) && o.toLong == 1L),
      s"end offset of the 2nd committed block (0-based): $offs")
    // a checkpoint that never committed pins nothing
    assert(IngestStreams.resumeOffsets(spark, s"$dir/never").isEmpty)

    // compact into a fresh dir, then resume ingestion against it with the
    // source pinned at the old commit point — for MemoryStream the pin is
    // emulated by feeding exactly the rows past the committed offset (the
    // same rows a Kafka reader yields under startingOffsets = offs.head)
    val compacted = s"$dir/idx2"
    IngestStreams.compactIndex(spark, indexDir, compacted)
    val src2 = MemoryStream[(Long, Seq[Float])]
    val q2 = IngestStreams.embedIngest(src2.toDF().toDF("vec_id", "embedding"),
      compacted, s"$dir/ckpt2", nlist = 8)
    src2.addData(all.drop(400).toSeq: _*)
    q2.processAllAvailable()
    q2.stop()

    // no duplicate (earliest would re-append 400) and no gap (latest
    // would drop the tail): every vector indexed exactly once
    val postings = spark.read.parquet(s"$compacted/postings")
    assert(postings.count() == all.length, "resume must neither dup nor gap")
    assert(postings.select($"vec_id").distinct().count() == all.length)
  }

  test("batch replay idempotence: same batch key overwrites, index load excludes in-flight batch") {
    // unit-level drive of the replay path: a deterministic recompute of the
    // same (checkpoint, batch) must overwrite its own partition, not append
    val dir = Files.createTempDirectory("ingest_replay").toString
    val k0 = IngestStreams.batchKey("/some/ckpt", 0L)
    val k1 = IngestStreams.batchKey("/some/ckpt", 1L)
    assert(k0 != k1 && k0 != IngestStreams.batchKey("/other/ckpt", 0L))

    def writeHashes(vals: Seq[Long], key: String): Unit =
      IngestStreams.overwriteBatch(vals.toDF("key_hash"), key, s"$dir/hashes")
    writeHashes(Seq(10L, 11L), k0)
    writeHashes(Seq(20L), k1)
    writeHashes(Seq(10L, 11L), k0) // replay of batch 0: overwrite, not append
    val all = spark.read.parquet(s"$dir/hashes")
      .select($"key_hash").as[Long].collect().toList.sorted
    assert(all == List(10L, 11L, 20L), s"replay must not duplicate rows: $all")

    // the in-flight batch's own partition is excluded from its index view
    val visible = IngestStreams.loadIndex(spark, dir, excludeBatch = k1)
      .as[Long].collect().toSet
    assert(visible == Set(10L, 11L), s"batch 1 must not see its own hashes: $visible")
    assert(IngestStreams.loadIndex(spark, dir).as[Long].collect().toSet ==
      Set(10L, 11L, 20L))
  }

  test("batchKeyed: a crash after the sink's write replays to the uninterrupted result") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("sink_crash").toString
    val batches = Seq(
      Seq((1L, "join hash join"), (2L, "hash scan")),
      Seq((3L, "join row"), (4L, "scan scan filter")),
      Seq((5L, "filter merge")))
    // the dfIngest ledger body; with `crashAt`, that batch's first attempt
    // throws AFTER its partition is written and before the commit log
    // records the batch
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    def start(src: MemoryStream[(Long, String)], out: String, ckpt: String,
        crashAt: Option[Long]) =
      IngestStreams.batchKeyed(src.toDF().toDF("doc_id", "text"), ckpt) {
        (batch, key, bid) =>
          IngestStreams.overwriteBatch(
            graft.operators.TextAnalysis.dfIndex(batch), key, out)
          if (crashAt.contains(bid) && attempts.getAndIncrement() == 0)
            throw new IllegalStateException(s"injected crash in batch $bid")
      }

    val clean = MemoryStream[(Long, String)]
    val q0 = start(clean, s"$dir/clean", s"$dir/ckpt_clean", None)
    batches.foreach { b => clean.addData(b: _*); q0.processAllAvailable() }
    q0.stop()

    val (out, ckpt) = (s"$dir/crash", s"$dir/ckpt")
    val src = MemoryStream[(Long, String)]
    val q1 = start(src, out, ckpt, crashAt = Some(1L))
    src.addData(batches(0): _*)
    q1.processAllAvailable()
    src.addData(batches(1): _*)
    intercept[StreamingQueryException](q1.processAllAvailable())
    assert(attempts.get() == 1)
    // batch 1's partition is on disk although batch 1 never committed
    assert(spark.read.parquet(out).select($"batch_key").distinct().count() == 2)

    // restart on the same checkpoint over the same source: batch 1 replays
    val q2 = start(src, out, ckpt, crashAt = Some(1L))
    q2.processAllAvailable()
    src.addData(batches(2): _*)
    q2.processAllAvailable()
    q2.stop()
    assert(attempts.get() == 2, "batch 1 runs once more after the restart")

    def rows(df: DataFrame) = df.orderBy($"term").as[(String, Long)].collect().toSeq
    assert(rows(IngestStreams.readDfIndex(spark, out)) ==
      rows(IngestStreams.readDfIndex(spark, s"$dir/clean")))
    // each batch key appears exactly once per term: the replay rewrote
    // batch 1's partition instead of appending a second copy beside it
    val raw = spark.read.parquet(out)
    assert(raw.groupBy($"batch_key", $"term").count()
      .filter($"count" =!= 1L).isEmpty)
    assert(raw.select($"batch_key").distinct().as[String].collect().toSet ==
      (0L to 2L).map(IngestStreams.batchKey(ckpt, _)).toSet)
    assert(raw.count() == spark.read.parquet(s"$dir/clean").count())
  }

  test("composed crawl ingest: wetStream→blocklist→langid→quality→dedup, restart-safe") {
    import graft.operators.{TextAnalysis, Urls}
    val dir = Files.createTempDirectory("crawl-ingest").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // 9 docs: one blocked domain, one quality-fail (too short), one
    // cross-file exact dup (doc 7 repeats doc 1's text — arrives in a
    // LATER file, must be rejected by the standing index after restart)
    val body = (1 to 8).map(i =>
      ("join hash scan row filter merge column batch " * 8) + s"doc $i").toArray
    val texts = Map(
      1L -> body(0), 2L -> body(1), 3L -> "too short",
      4L -> body(3), 5L -> body(4), 6L -> body(5),
      7L -> body(0) /* dup of 1 */, 8L -> body(7), 9L -> body(6))
    val host = Map[Long, String](3L -> "ok", 5L -> "blocked").withDefaultValue("ok")
    def render(ids: Seq[Long]): String = ids.map { id =>
      val t = texts(id)
      val n = t.getBytes("UTF-8").length
      s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: http://${host(id)}.ex.com/p/$id\r\n" +
        s"Content-Length: $n\r\n\r\n$t\r\n\r\n"
    }.mkString
    def writePart(i: Int, ids: Seq[Long]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$dir/in/part$i.wet"),
        render(ids))
    def pipeline() = {
      val recs = graft.sources.Sources.wetStream(spark, s"$dir/in")
        .select(regexp_extract($"uri", "/p/(\\d+)", 1).cast("long").as("doc_id"),
          $"uri", $"body".as("text"))
      val unblocked = Urls.domainFilter(recs, $"uri",
        Seq("blocked.ex.com").toDF("domain"))
      val gated = TextAnalysis.qualityRules(TextAnalysis.languageId(unblocked),
        requiredWords = Seq("join", "hash", "scan", "row")).filter($"keep")
      IngestStreams.dedupIngest(gated, s"$dir/idx", s"$dir/out", s"$dir/ckpt")
    }
    writePart(0, Seq(1L, 2L, 3L))
    val q = pipeline()
    try { q.processAllAvailable(); writePart(1, Seq(4L, 5L, 6L)); q.processAllAvailable() }
    finally q.stop()
    writePart(2, Seq(7L, 8L, 9L)) // arrives while DOWN — the restart leg
    val q2 = pipeline()
    try q2.processAllAvailable() finally q2.stop()
    val admitted = spark.read.parquet(s"$dir/out")
      .select($"doc_id").as[Long].collect().toSet
    // 3 fails quality, 5 is blocklisted, 7 is a cross-restart dup of 1
    assert(admitted == Set(1L, 2L, 4L, 6L, 8L, 9L), s"got $admitted")
    // restart-safe index: exactly one hash per admitted distinct text
    val idx = IngestStreams.loadIndex(spark, s"$dir/idx").as[Long].collect().toSeq
    assert(idx.size == idx.distinct.size && idx.size == 6, s"index: $idx")
    val expected = Seq(1L, 2L, 4L, 6L, 8L, 9L)
      .map(id => Seq(texts(id)).toDF("t")
        .select(xxhash64($"t")).as[Long].head()).toSet
    assert(idx.toSet == expected)
  }
}
