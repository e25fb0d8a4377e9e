package graft

/** Plan-quality regression guards: the scale properties this engine was
  * tuned for, asserted on the physical plan so a future refactor cannot
  * silently lose them. Each invariant maps to a measured incident or a
  * SCALE.md commitment:
  *  - LSH signature as ONE kernel call (an unrolled-literal form measured a
  *    9.5× same-code swing);
  *  - dedup skew guards via partial agg, never a window over the bucket;
  *  - minhash signatures persisted once (4 corpus passes otherwise);
  *  - exact dedup grouping on the 8-byte hash, not the document;
  *  - filters reaching the parquet scan as PushedFilters.
  */
class PlanInvariantsSpec extends SparkSuite {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.toString + "\n" +
      df.queryExecution.optimizedPlan.toString
  }

  test("q_src_scan: predicate is pushed to the parquet scan") {
    val p = plan("q_src_scan")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(event_type,purchase)"),
      s"filter must reach the scan:\n${p.take(2000)}")
  }

  test("q_dedup_exact: groups on xxhash64, not the document text") {
    val p = plan("q_dedup_exact")
    assert(p.contains("xxhash64"), "group key must be the 8-byte hash")
  }

  test("q_mix_temperature: corpus membership is a broadcast join, filter stays map-side") {
    val p = plan("q_mix_temperature")
    // the per-group threshold relation broadcasts onto the corpus scan —
    // a sort-merge membership join would shuffle the whole corpus for a
    // handful of thresholds
    assert(p.contains("BroadcastHashJoin"),
      s"thresholds must broadcast:\n${p.take(2000)}")
    assert(p.contains("md5"), "membership predicate must ride the joined rows")
  }

  test("q_cc_best_survivors: policy arg-max aggregates labels, corpus never shuffles for scoring") {
    val p = plan("q_cc_best_survivors")
    // per-component survivor = max_by partial+final over the LABEL rows
    assert(p.contains("max_by") || p.contains("MaxBy"),
      s"arg-max aggregate missing:\n${p.take(2000)}")
    // final survivor filter is an anti-join on ids
    assert(p.contains("LeftAnti"), "survivors must derive via an id anti-join")
  }

  test("q_dedup_minhash: no window in the skew guard, signatures persisted once") {
    // the catalog face now returns the STAGED pair parquet read-back (the
    // oracle value gate), so the mining plan is inspected directly — the
    // same (docs, bands, rows, threshold) call the face stages from
    val mined = graft.operators.Dedup.minhashPairs(
      graft.Tables.documents(spark, sf0001),
      bands = 32, rowsPerBand = 2, threshold = 0.5)
    val p = mined.queryExecution.executedPlan.toString + "\n" +
      mined.queryExecution.optimizedPlan.toString
    assert(!p.contains("Window"),
      "skew guard must be partial-agg + anti-join, never a window over the bucket")
    assert(p.contains("InMemoryRelation") || p.contains("InMemoryTableScan"),
      "minhash signatures must be materialized once (diamond persist)")
  }

  test("fixture-backed dedup faces: standing state read, corpus text never re-scanned") {
    // r13 shared-fixture contract: these faces consume the staged
    // signature index / pair graph, so their plans must read parquet
    // fixtures — NOT re-scan documents/embeddings text for re-mining
    // (the 100 TB standing-state shape the fixtures model)
    val pNgram = plan("q_dedup_ngram_jaccard")
    assert(pNgram.contains("graft_dedup_sketch"),
      s"ngram face must read the staged sketch:\n${pNgram.take(1500)}")
    assert(!pNgram.contains("documents.parquet"),
      "shingles come from the standing index, not a corpus re-scan")
    // q_triangles consumes the fixture directly (no lineage truncation
    // hides the scan — q_cc_components' small-graph fast path collapses
    // to a LocalTableScan at spec SF, so the scan is asserted here)
    val pTri = plan("q_triangles")
    assert(pTri.contains("graft_emb_pairs"),
      s"triangles must read the staged pair graph:\n${pTri.take(1500)}")
    assert(!pTri.contains("embeddings.parquet"),
      "pair mining must not be re-run by the graph faces")
  }

  test("q_copurchase: distinct basket-item set materialized once for its three consumers") {
    // the distinct (basket, item) relation feeds the oversized-basket
    // guard count AND both self-join legs — unstaged, Catalyst recomputes
    // the scan + distinct exchange per branch (r13 plan audit: 3× scans
    // on the top-5 board's cheapest remaining win). Node-level assertion:
    // every consumer must read the CACHE (InMemoryTableScan), whose
    // relation computes once by Spark's cache semantics — string-counting
    // InMemoryRelation would mislead, since each scan reprints the cached
    // subtree in the plan dump
    // logical optimizedPlan, not executedPlan: AdaptiveSparkPlanExec is a
    // leaf for traversal, so physical collect can't see inside AQE.
    // Since r15 the public frequentPairs forces the bounded top-k and
    // unpersists (the r14 advisory: no pinned cache per invocation), so
    // the diamond is asserted on the LAZY internal plan with the catalog
    // face's exact parameters
    import org.apache.spark.sql.functions.col
    // since r21 the cache point is `kept` (the capped set) — both
    // self-join sides must read it; the cap chain itself runs once
    // inside the cached plan
    val (df, kept) = graft.operators.Baskets.frequentPairsLazy(
      graft.Tables.lineitem(spark, sf0001),
      basketCol = col("l_orderkey"), itemCol = col("l_partkey"),
      minSupport = 2L, k = 20)
    val rels = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(rels.size >= 2,
      s"both self-join sides must read the cached capped set, " +
        s"got ${rels.size} InMemoryRelation(s):\n" +
        df.queryExecution.optimizedPlan.toString.take(2000))
    // and they all read the SAME cached relation (one materialization)
    assert(rels.map(_.cacheBuilder).distinct.size == 1,
      "consumers must share one cached relation")
    kept.unpersist()
    ()
  }

  /** Executed plans of the actions run while `body` runs. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.toArray(Array.empty[String]).toSeq
  }

  test("q_kcore: per-round peel is semi-joins + partial aggregation, no window") {
    // each peel round is cut eagerly when it is built (Staging.Rounds), so
    // the returned frame scans only the last round's checkpoint: the
    // round plans are the actions the build runs (a first build takes
    // the face's fixtures out of the capture)
    SparkEntry.queries("q_kcore")(spark, sf0001)
    val plans = executedPlans { SparkEntry.queries("q_kcore")(spark, sf0001); () }
    val rounds = plans.filter(_.contains("LeftSemi"))
    assert(rounds.nonEmpty,
      s"alive-set restriction must be a semi-join:\n${plans.mkString("\n").take(1500)}")
    assert(!plans.exists(_.contains("Window")), "degree counting must never be a window")
    assert(rounds.forall(p => p.contains("partial_count") ||
      p.contains("partial count") || p.contains("HashAggregate")),
      "degree count must be a hash aggregate (map-side combine)")
  }

  test("q_dense_topk: distinct-key rewrite fires on the catalog query") {
    // the Verify/Bench sessions install GraftExtensions; replicate with
    // the same rule object so the CATALOG spelling (not just the spec
    // fixtures) is proven to take the rewritten plan: distinct partial
    // agg + window over per-group DISTINCT keys + broadcast join back —
    // never a row_number/dense_rank sort over corpus rows
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.RewriteWindowTopK
    try {
      val p = plan("q_dense_topk")
      assert(p.contains("__graft_key"),
        s"rewrite must fire on the catalog query:\n${p.take(1500)}")
      assert(p.contains("BroadcastHashJoin"),
        "the tiny distinct-key leg must come back as a broadcast join")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("q_bottomk_window: general (memcomparable) TopK leg fires on the catalog query") {
    // ascending primary order: only the SortKeyBytes general leg can take
    // it — the plan must show the k-bounded aggregate ranking by the
    // encoded tie, with the window sort machinery gone
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.RewriteWindowTopK
    try {
      val p = plan("q_bottomk_window")
      assert(p.contains("sort_key_bytes") && p.contains("topk_by_ord"),
        s"general TopK leg must fire on the catalog query:\n${p.take(1500)}")
      assert(!p.contains("Window [") && !p.contains("WindowGroupLimit"),
        s"window machinery must be gone:\n${p.take(1500)}")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("q_sim_ann_lsh: signature is a kernel call, not unrolled literals") {
    val p = plan("q_sim_ann_lsh")
    assert(p.contains("hyperplane_sig"), "kernel expression must be in the plan")
    assert(!p.contains("element_at"),
      "no per-component element_at chain (the unrolled form that fell out of codegen)")
  }

  test("ANN paths: k selected via the TopK aggregate — no per-query window sort") {
    // row_number() over Window.partitionBy(query_id) shuffles every scored
    // candidate of a query into ONE task and sorts it; candidates grow
    // linearly with the corpus, so at 100 TB that is a single-task
    // O(n log n) straggler per query. The four production ANN paths must
    // plan the k-bounded topk_by_ord aggregate instead (bruteForceTopK
    // deliberately keeps the window as the equivalence-tested ground truth).
    import org.apache.spark.sql.functions.col
    val embs = graft.Tables.embeddings(spark, sf0001)
    val qs = embs.filter(col("vec_id") < 8)
    val S = graft.operators.Similarity
    Seq(
      "lshTopK" -> S.lshTopK(embs, qs, k = 5, dims = 64, planes = 6),
      "ivfTopK" -> S.ivfTopK(embs, qs, k = 5, nlist = 16, nprobe = 4),
      "ivfPqTopK(nlist = 1)" -> S.ivfPqTopK(embs, qs, k = 5, nlist = 1, nprobe = 1,
        m = 16, ksub = 32, rerank = 8),
      "ivfPqTopK" -> S.ivfPqTopK(embs, qs, k = 5, nlist = 8, nprobe = 4,
        m = 16, ksub = 32, rerank = 8)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("topk_by_ord"),
        s"$name must rank via the k-bounded TopK aggregate:\n${p.take(2000)}")
      Seq("Window", "Sort [", "SortAggregate", "SortMergeJoin").foreach { node =>
        assert(!p.contains(node),
          s"$name must not plan a $node — per-query sorts don't scale:\n${p.take(2000)}")
      }
    }
  }

  test("q_bucketed_join: bucketed read-back joins and aggregates with no shuffle") {
    // pin to sort-merge so the plan shape is deterministic for the assert
    // (the point is the missing exchange, not the join strategy)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_bucketed_join")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join + bucket-key agg must not shuffle:\n${p.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("bm25FromIndex: query-term In predicate reaches the postings parquet scan") {
    val docs = graft.Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("postings").toString
    graft.operators.TextAnalysis.postingsIndex(docs)
      .write.mode("overwrite").parquet(dir)
    val postings = spark.read.parquet(dir)
    val df = graft.operators.TextAnalysis.bm25FromIndex(postings,
      graft.operators.TextAnalysis.corpusStats(postings), Seq("join", "scan"))
    val p = df.queryExecution.executedPlan.toString
    // isin → In filter at the scan (row-group skipping on a term-sorted
    // index); array_contains would leave the scan unfiltered
    assert(p.contains("PushedFilters") && p.contains("In(term"),
      s"query-term filter must reach the scan:\n${p.take(2000)}")
    // per-term df and the 1-row corpus stats ride broadcasts — the only
    // shuffle-joining relation would be the postings themselves
    assert(!p.contains("SortMergeJoin"),
      s"df/stats sides must broadcast:\n${p.take(2000)}")
  }

  test("q_vocab_oov: bounded vocab broadcasts into the membership anti-join") {
    val p = plan("q_vocab_oov")
    assert(p.contains("topk_by_ord"),
      "vocab selection must be the k-bounded heap, not a global sort")
    assert(p.contains("BroadcastHashJoin LeftAnti") ||
      (p.contains("LeftAnti") && p.contains("BroadcastExchange")),
      s"vocab membership must be a broadcast anti-join — a shuffle here " +
        s"re-shuffles the exploded corpus:\n${p.take(2500)}")
  }

  test("q_funnel / q_retention: no windows, no per-user event-list assembly") {
    Seq("q_funnel", "q_retention").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window") && !p.contains("collect_list"),
        s"$name must stay aggregate+join shaped:\n${p.take(2000)}")
      assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$name aggregates must plan two-phase (map-side partials):\n${p.take(2000)}")
    }
  }

  test("q_quality_strata: rank is range-partitioned — no per-score window") {
    // the old shape planned row_number() over Window.partitionBy(score):
    // every row sharing one score value lands in ONE task. The fixed shape
    // range-exchanges on (score, tie) and numbers per partition; the only
    // window left is the offsets cumsum over the tiny per-partition counts.
    val p = plan("q_quality_strata")
    assert(!p.contains("row_number"),
      s"within-score rank must not be a row_number window:\n${p.take(2000)}")
    assert(p.contains("MapPartitions"),
      s"local numbering must be the narrow per-partition pass:\n${p.take(2000)}")
    assert(p.contains("rangepartitioning"),
      s"the exchange must be a range partitioning on (score, tie):\n${p.take(2000)}")
  }

  test("q_a1_daily_avg: one uncoalesced exchange on user_id, partial + final aggregation above it") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val plan = SparkEntry.queries("q_a1_daily_avg")(spark, sf0001).queryExecution.executedPlan
    val aqe = new AdaptiveSparkPlanHelper {}
    val shown = plan.toString
    // the orderBy's range exchange aside, the readings cross one exchange
    val hash = aqe.collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hash.size == 1 && (hash.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "user_id"
      case _ => false
    }) && hash.head.shuffleOrigin == REPARTITION_BY_NUM,
      s"one hashpartitioning(user_id), REPARTITION_BY_NUM exchange:\n$shown")
    def aggs(p: org.apache.spark.sql.execution.SparkPlan) =
      aqe.collect(p) { case a: BaseAggregateExec => a.aggregateExpressions.map(_.mode) }.flatten
    assert(aggs(plan).contains(Partial) && aggs(plan).contains(Final) &&
      aggs(hash.head.child).isEmpty,
      s"partial and final aggregation both run above the exchange:\n$shown")
  }

  test("catalog: no query exports a top-level array/map column") {
    // the driver's pandas comparator sorts every column and crashes on
    // unhashable ndarray values — the two r3 `err` rows. Every catalog
    // query must canonicalize list outputs to joined strings (the
    // CoreQueries parity rule), enforced here and in Verify.main.
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf0001).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"array/map-typed catalog outputs (canonicalize to joined strings):\n" +
        offenders.mkString("\n"))
  }

  test("q_ngram_topk: topk aggregate runs partial+final (heap merges map-side)") {
    val p = plan("q_ngram_topk")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "TypedImperativeAggregate must plan two-phase so the shuffle carries " +
        s"k-bounded heaps, not rows:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "the aggregate formulation must not fall back to a window sort")
  }

  test("contamination: benchmark side is broadcast; corpus text never shuffles") {
    val docs = graft.Tables.documents(spark, sf0001)
    val df = graft.operators.TextAnalysis.contamination(
      docs, docs.filter(org.apache.spark.sql.functions.col("doc_id") < 20))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "eval-set shingle side must broadcast — a shuffle join here re-shuffles " +
        s"the exploded corpus at scale:\n${p.take(2000)}")
  }

  test("narrow text ops: stripHtml and repetition plan no exchange") {
    val docs = graft.Tables.documents(spark, sf0001)
    Seq(
      "stripHtml" -> graft.operators.TextPrep.stripHtml(docs),
      "mainContent" -> graft.operators.TextPrep.mainContent(
        docs.withColumnRenamed("text", "html")),
      "repetition" -> graft.operators.TextAnalysis.repetition(docs)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"$name must stay a narrow per-row transform:\n${p.take(2000)}")
    }
  }

  test("url faces: blocklist broadcasts with zero exchanges; stats is one partial+final agg") {
    val docs = graft.Tables.documents(spark, sf0001)
      .withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("https://www.h"),
        org.apache.spark.sql.functions.col("doc_id").cast("string"),
        org.apache.spark.sql.functions.lit(".example.com/p")))
    import spark.implicits._
    // the blocklist drop must cost one scan: broadcast anti-join, no
    // exchange anywhere in the plan (the 100 TB contract in Urls scaladoc)
    val filt = graft.operators.Urls.domainFilter(docs,
      org.apache.spark.sql.functions.col("url"),
      Seq("h1.example.com").toDF("domain"))
      .queryExecution.executedPlan.toString
    assert(filt.contains("BroadcastHashJoin") && filt.contains("LeftAnti"),
      s"blocklist must broadcast anti-join:\n${filt.take(2000)}")
    // the only exchange allowed is the blocklist's BroadcastExchange —
    // the corpus side must never hit a shuffle
    assert(!filt.contains("ShuffleExchange") &&
      !filt.contains("Exchange hashpartitioning"),
      s"domainFilter must not shuffle the corpus:\n${filt.take(2000)}")
    // the ledger reduces docs to (domain, n) BEFORE its single exchange:
    // partial+final HashAggregate, and document text is not a shuffle column
    val stats = graft.operators.Urls.domainStats(docs,
      org.apache.spark.sql.functions.col("url"))
      .queryExecution.executedPlan.toString
    assert(stats.contains("partial_count"),
      s"domainStats must map-side combine:\n${stats.take(2000)}")
    assert(stats.contains("Exchange hashpartitioning(domain"),
      s"the one exchange must key on domain (docs reduced to counts first):\n${stats.take(2000)}")
  }

  test("q_crawl_pipeline: zero shuffles before the first aggregation") {
    // the composed crawl-to-corpus plan must keep demux → blocklist →
    // langid → quality gate entirely map-side: the only exchanges
    // allowed below an un-aggregated file scan are broadcasts (the
    // blocklist); the FIRST shuffle is the dedup hash aggregate
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    // exchanges are inserted by EnsureRequirements (executedPlan, not
    // sparkPlan); AQE off for the build so the tree is directly walkable
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      SparkEntry.queries("q_crawl_pipeline")(spark, sf0001)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // does this subtree reach the raw crawl scan with no aggregation
    // (partial agg = the map-side reduction) in between?
    def exposesRawScan(n: SparkPlan): Boolean = n match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => false
      case f: FileSourceScanExec =>
        f.relation.location.inputFiles.exists(_.endsWith(".wet"))
      case other => other.children.exists(exposesRawScan)
    }
    // HASH shuffles must never carry un-aggregated corpus rows; the one
    // exempt exchange is the final ORDER BY's rangepartitioning (output
    // presentation, not pipeline work — the survivor semi-join arrives
    // broadcast, so the corpus itself reaches the sort unshuffled)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    p.collect { case s: ShuffleExchangeExec => s }.foreach { s =>
      if (s.outputPartitioning.isInstanceOf[HashPartitioning])
        assert(!exposesRawScan(s.child),
          s"a hash shuffle sits below the first aggregation:\n${p.toString.take(3000)}")
    }
    // the dedup aggregation exists and groups on the 8-byte hash —
    // since r21 it is the ONE-PASS min_by row-dedup (Dedup.exactRows;
    // a SortAggregate: struct buffers are not hash-aggregable), not the
    // old `gated SEMI JOIN exact(gated)` diamond that parsed the WET
    // corpus once per side
    assert(p.toString.contains("min_by") &&
      p.toString.contains("xxhash64"),
      "exact dedup must be the one-pass min_by keyed on the content hash")
    assert(!p.toString.contains("LeftSemi"),
      s"the dedup diamond is back (two corpus parses):\n${p.toString.take(2000)}")
    // the blocklist drop must be a broadcast anti-join on the corpus side
    assert(p.toString.contains("BroadcastHashJoin") &&
      p.toString.contains("LeftAnti"),
      s"blocklist must broadcast:\n${p.toString.take(2000)}")
  }

  test("q_flagship: small dimension side is broadcast") {
    val p = plan("q_flagship")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      s"dimension join must broadcast at this scale:\n${p.take(2000)}")
  }

  test("splitAssign / samplers: narrow scan-level predicates, no exchange") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf0001)
    Seq(
      "splitAssign" -> graft.operators.Sampling.splitAssign(
        docs, col("doc_id"), Seq("a" -> 0.8, "b" -> 0.2)),
      "hashSample" -> graft.operators.Sampling.hashSample(
        docs, col("doc_id"), 0.3),
      "weightedSample" -> graft.operators.Sampling.weightedSample(
        docs, col("lang"), Map("en" -> 0.5), col("doc_id"))
    ).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"$name must stay a narrow map-side op:\n${p.take(2000)}")
    }
  }

  test("q_corpus_report: ONE two-phase aggregation pass, hashed dup key") {
    val p = plan("q_corpus_report")
    assert(p.contains("xxhash64"),
      "dup counting must key on the 8-byte text hash, not the document")
    assert(!p.contains("Join"),
      s"the report must be a single aggregation pass, not joined sub-reports:\n${p.take(2000)}")
  }

  test("q_para_dedup: survivor arg-min is partial+final agg on the hash") {
    val p = plan("q_para_dedup")
    assert(p.contains("xxhash64"), "survivor grouping must key on the hash")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "arg-min must plan two-phase (partial min per partition) so a hot " +
        s"boilerplate paragraph never assembles an occurrence list:\n${p.take(2000)}")
  }

  test("posting-path mine: standing postings broadcast-joined, never exchanged") {
    // the r15 fix: per-batch candidate generation must not shuffle the
    // standing corpus postings — delta postings broadcast onto them
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = (0L until 40L)
      .map(i => (i, s"base document number $i content tail $i"))
      .toDF("doc_id", "text")
    val delta = Seq((100L, "base document number 7 content tail 7x"))
      .toDF("doc_id", "text")
    val sig = graft.operators.Dedup.signatureIndex(base, bands = 16, rowsPerBand = 4)
    val posts = graft.operators.Dedup.bandPostings(sig, bands = 16, rowsPerBand = 4)
    val mined = graft.operators.Dedup.incrementalMinhashFromPostings(
      delta, sig, posts, graft.operators.Dedup.bandBucketCounts(posts),
      bands = 16, rowsPerBand = 4, threshold = 0.5)
    val p = mined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"delta postings must broadcast onto the standing side:\n${p.take(3000)}")
    // no repartition of the unioned posting set (the generic path's
    // single-exchange move — correct there, the scale-killer here)
    assert(!p.contains("REPARTITION_BY_COL"),
      s"posting path must not re-shuffle postings:\n${p.take(3000)}")
  }

  test("q_substring_dedup: postings on the 8-byte shingle hash, rebuild join-free per doc") {
    val p = plan("q_substring_dedup")
    // survivor arg-min + duplication count in ONE aggregate on the hash
    assert(p.contains("shingle_hashes"),
      "occurrence identity must be the mixed token-hash kernel")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "first-occurrence arg-min must plan two-phase partial aggregation")
  }

  test("keyword blocklist drop: map-side only — no exchange, no join") {
    // the operator itself (the face adds an orderBy for the gate): the
    // broadcast-automaton containsAny predicate must plan as scan →
    // per-partition filter, nothing else — at 100 TB this is ONE pass
    val p = graft.operators.Keywords.filterNone(
        Tables.documents(spark, sf0001), Seq("vector table", "zzz"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"blocklist drop must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("Join"),
      s"blocklist drop must not join:\n${p.take(2000)}")
  }

  test("video decode: payloads stay in the scan stage — no join, no payload exchange") {
    import org.apache.spark.sql.functions.col
    // decodeFrames output is the narrow (id, frame_idx, dims, sum)
    // relation; the only exchange in the whole pipeline must be the
    // one carrying those rows (here: none at all — no order/agg asked)
    val df = graft.operators.Video.decodeFrames(
      graft.operators.Video.attachAvi(
        Tables.documents(spark, sf0001).filter(col("doc_id") % 5 === 0)
          .select(col("doc_id")),
        _ => graft.operators.Video.CodecRgb))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"attach→demux→decode must be exchange-free:\n${p.take(2000)}")
    assert(!p.contains("Join"), "decode path must not join")
  }

  test("hostGraph: HTML reduces to host pairs before the ONLY exchange") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // at 100 TB the page HTML must never cross a shuffle: the plan is
    // scan → extract/resolve/canonicalize projection → partial agg →
    // ONE hash exchange of (src_host, dst_host) rows → final agg
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      graft.operators.Links.hostGraph(
        Tables.documents(spark, sf0001)
          .withColumn("url", concat(lit("http://h"), col("doc_id"), lit(".com/p")))
          .withColumn("html",
            concat(lit("<a href=\"http://ext.org/"), col("doc_id"), lit("\">x</a>"))),
        col("url"), col("html"))
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1,
      s"expected exactly one shuffle (the edge agg), got ${exchanges.size}:\n${p.toString.take(2000)}")
    val shuffled = exchanges.head.child.output.map(_.name).toSet
    assert(!shuffled.exists(n => n.contains("html") || n.contains("text")),
      s"HTML/text must not cross the exchange, got $shuffled")
  }

  test("pageMeta: one narrow pass, no exchange; clusters shuffle URL rows only") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pages = Tables.documents(spark, sf0001)
      .withColumn("url", concat(lit("http://h"), col("doc_id"), lit(".com/p")))
      .withColumn("html", concat(lit("<html><head><title>t</title>" +
        "<link rel=\"canonical\" href=\"/c\"></head><body>"), col("text"),
        lit("</body></html>")))
    // the metadata record itself is a pure projection chain
    val mp = graft.operators.PageMeta.pageMeta(
      pages, col("url"), col("html"), Seq("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!mp.contains("Exchange"),
      s"pageMeta must stay a narrow per-row transform:\n${mp.take(2000)}")
    // the cluster reduction: pages reduce to canonical-URL strings
    // before the ONE hash exchange — HTML/text never cross it
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try
      graft.operators.PageMeta.canonicalClusters(pages, col("url"), col("html"))
        .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1,
      s"expected exactly one shuffle (the cluster agg), got ${exchanges.size}:\n${p.toString.take(2000)}")
    val shuffled = exchanges.head.child.output.map(_.name).toSet
    assert(!shuffled.exists(n => n.contains("html") || n.contains("text")),
      s"HTML/text must not cross the exchange, got $shuffled")
  }

  test("q_anchor_text: per-target anchors aggregate via the k-bounded heap, never collect_set") {
    // collect_set accretes EVERY distinct anchor of a hot target into
    // one aggregation buffer row before any cap (a wikipedia.org front
    // page has ~10^7 distinct anchors → a multi-GB buffer on one key);
    // the two-level shape dedups on the PAIR key then ships ≤ k entries
    // per (partition, target) via topk_by_ord
    val p = plan("q_anchor_text")
    assert(p.contains("topk_by_ord"),
      s"anchor cap must be the k-bounded heap:\n${p.take(2000)}")
    assert(!p.contains("collect_set"),
      s"no unbounded distinct-set buffer may appear:\n${p.take(2000)}")
  }

  test("q_fetch_schedule / q_crawl_frontier: ONE robots parse, no duplicated candidate aggregate") {
    // r19 'What's wrong' #2/#3: the schedule used to parse the robots
    // table twice (frontier's gate + a separate crawlDelays call) and
    // the frontier re-joined its own `unseen` subplan to apply the
    // verdict. The in-row gate + shared agentPolicy delete both: the
    // group-assembly window (`lag`) appears once, and the candidate
    // aggregate (n_refs) is defined once.
    Seq("q_fetch_schedule", "q_crawl_frontier").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val p = df.queryExecution.optimizedPlan.toString
      val parses = "\\blag\\(".r.findAllIn(p).size
      assert(parses == 1,
        s"$name: robots group assembly must run once, found $parses:\n${p.take(3000)}")
      val candAggs = "count\\(1\\) AS n_refs".r.findAllIn(p).size
      assert(candAggs == 1,
        s"$name: candidate aggregate must appear once, found $candAggs:\n${p.take(3000)}")
    }
  }

  test("robots filter: URL side joins once on host, judgment is in-projection") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the corpus-side URL relation must see exactly one exchange (the
    // host equi-join); the per-URL verdict is an array HOF inside the
    // join projection — no second shuffle, no per-rule row explosion
    // crossing an exchange (robots-SIDE exchanges are fine: that table
    // is hosts-sized, not corpus-sized)
    import spark.implicits._
    val robots = Seq(("h0.com", "User-agent: *\nDisallow: /x"))
      .toDF("host", "robots_txt")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      graft.operators.Robots.filter(
        Tables.documents(spark, sf0001)
          .withColumn("url", concat(lit("http://h"), col("doc_id") % 3, lit(".com/p"))),
        "doc_id", col("url"), robots, "bot")
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // exchanges whose child reads the documents scan: exactly one
    def readsDocs(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.collectLeaves().exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.exists(_.contains("documents"))
        case _ => false
      }
    val docExchanges = p.collect {
      case e: ShuffleExchangeExec if readsDocs(e.child) => e
    }
    // ≤ 1: a hosts-sized rules table broadcasts (0 corpus shuffles —
    // this fixture); a web-scale one makes it a host equi-join (1).
    // The judgment itself must never add a second corpus shuffle.
    assert(docExchanges.size <= 1,
      s"URL side must shuffle at most once (the host join), got ${docExchanges.size}:\n${p.toString.take(2000)}")
  }

  test("metaRefresh: plan barrier stops pushdown (no expression explosion)") {
    import org.apache.spark.sql.functions._
    // html DERIVED from columns (the catalog fixture's shape): with the
    // barrier absent, pushing the notNull/rlike drops down substitutes
    // the resolve/canonicalize alias chains multiplicatively into the
    // predicates — measured 183,459 expression nodes in ONE Filter and
    // 33 MB of generated Java, past janino's 64 KB method limit and
    // into interpreted fallback (43 s at sf0.1 vs 0.7 s fixed)
    val pages = Tables.documents(spark, sf0001)
      .withColumn("url", concat(lit("http://h.com/p/"),
        col("doc_id").cast("string")))
      .withColumn("html", concat(lit("<html><head>"),
        when(col("doc_id") % 2 === 0, concat(
          lit("<meta http-equiv=\"refresh\" content=\"1; url=/t/"),
          col("doc_id").cast("string"), lit("\">"))).otherwise(lit("")),
        lit("</head><body></body></html>")))
    val df = graft.operators.PageMeta.metaRefresh(
      pages, col("url"), col("html"), Seq("doc_id"))
    val opt = df.queryExecution.optimizedPlan
    assert(opt.toString.contains("CollectMetrics"),
      s"the plan barrier must survive optimization:\n${opt.toString.take(2000)}")
    val worst = opt.collect { case n =>
      n.expressions.map(e => e.collect { case x => x }.size).sum }.max
    assert(worst < 5000,
      s"no node may carry an exploded expression tree, worst=$worst")
  }

  test("r20 additions: narrow ops plan no exchange; heavy ops keep narrow keys") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val withUrl = docs.withColumn("url",
      concat(lit("http://h.com/p/"), col("doc_id").cast("string")))
    // per-row riders: no exchange anywhere
    Seq(
      "trapSignals" -> graft.operators.Urls.trapSignals(withUrl, col("url")),
      "fimTransform" -> graft.operators.TextPrep.fimTransform(docs),
      "metaRefresh" -> graft.operators.PageMeta.metaRefresh(
        withUrl.withColumn("html", lit(
          """<html><head><meta http-equiv="refresh" content="0; url=/x">""" +
            "</head><body></body></html>")),
        col("url"), col("html"), Seq("doc_id")),
      "binaryQuantize" -> graft.operators.EmbeddingPrep.binaryQuantize(
        Tables.embeddings(spark, sf0001))
    ).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"$name must stay a narrow per-row transform:\n${p.take(2000)}")
    }
    // revalidation fold: the ONE full-outer URL equi-join, verdict in
    // projection — no second join, no re-aggregation
    val fold = graft.operators.Recrawl.foldRevalidated(
      withUrl.select(col("url"), col("text").as("body")),
      withUrl.select(col("url"), lit(200).as("status"),
        col("text").as("body")))
      .queryExecution.executedPlan.toString
    assert(fold.contains("FullOuter"),
      s"foldRevalidated must be one full-outer join:\n${fold.take(2000)}")
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(fold).size == 1,
      s"exactly one join in the fold plan:\n${fold.take(2000)}")
    // mirror mining: every exchange keys on the 8-byte hash or host —
    // the content column itself is never a shuffle key
    val mir = graft.operators.Dedup.mirrorHosts(
      docs.select(col("source").as("host"), col("text").as("content")),
      col("host"), col("content"))
      .queryExecution.executedPlan.toString
    assert(mir.contains("xxhash64"),
      s"mirrorHosts must hash content at the scan:\n${mir.take(2000)}")
    assert(!mir.contains("hashpartitioning(content"),
      s"content must never be a shuffle key:\n${mir.take(2000)}")
    // BQ search: per-query k via the TopK aggregate (no window sort),
    // query codes broadcast against the corpus code scan
    val embs = Tables.embeddings(spark, sf0001)
    val bq = graft.operators.Similarity
      .bqTopK(embs, embs.filter(col("vec_id") < 4), k = 5)
      .queryExecution.executedPlan.toString
    assert(!bq.contains("Window"),
      s"bqTopK must use the k-bounded aggregate, not a window:\n${bq.take(2000)}")
    assert(bq.contains("BroadcastExchange"),
      s"the query side must broadcast:\n${bq.take(2000)}")
  }

  // ---- the reference composition (WeatherOpsSpec E2E), keyed by the cell ----

  /** A file scan of `json`, not a local relation the optimizer would fold away. */
  private def jsonLines(name: String, json: String): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(name)
    java.nio.file.Files.writeString(dir.resolve("part.jsonl"), json)
    graft.sources.Sources.rawLines(spark, dir.toString)
  }

  private def topology(weather: org.apache.spark.sql.DataFrame,
      hotels: org.apache.spark.sql.DataFrame, lenient: Boolean = false) = {
    import graft.operators.WeatherOps
    WeatherOps.enrich(
      WeatherOps.parseAddress(hotels),
      WeatherOps.cellHistory(WeatherOps.dailyAverage(
        WeatherOps.parseWeather(weather, lenient = lenient), keyCols = Seq("hash")),
        keyCol = "hash").withColumnRenamed("hash", "key"))
  }

  test("weather/hotel parsers: one JSON kernel per parsed input, no from_json") {
    import graft.functions.JsonStructParse
    import graft.operators.WeatherOps
    import graft.streaming.WeatherStreams
    import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.functions.col
    val line =
      """{"avg_tmpr_c":19.8,"avg_tmpr_f":67.7,"lat":39.6467,"lng":-89.8455,"wthr_date":"2017-08-29"}"""
    val weather = jsonLines("parse-once-w", line)
    val hotels = jsonLines("parse-once-h",
      """{"Hash":"dp01","Country":"US","City":"c","Address":"a","Name":"n","Id":"1"}""")
    // each parse left in the optimized plan tokenizes every record again, and
    // a from_json would bring back its per-record reader
    def count(plan: LogicalPlan)(pf: PartialFunction[Expression, Expression]): Int =
      plan.collect { case n => n.expressions.map(_.collect(pf).size).sum }.sum
    // a streaming plan is optimized per micro-batch: take the executed one's
    val streamed = {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[String]
      val q = WeatherStreams.parseWeatherStream(in.toDF().toDF("value"))
        .writeStream.format("noop").start()
      try {
        in.addData(line); q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      } finally q.stop()
    }
    Seq(
      ("topology", topology(weather, hotels).queryExecution.optimizedPlan, 2),
      ("topology lenient", topology(weather, hotels, lenient = true).queryExecution.optimizedPlan, 2),
      ("q_s2_roundtrip",
        SparkEntry.queries("q_s2_roundtrip")(spark, sf0001).queryExecution.optimizedPlan, 1),
      ("rejects ok side",
        WeatherOps.parseWeatherWithRejects(weather).filter(col("ok")).queryExecution.optimizedPlan, 1),
      ("parseWeatherStream", streamed, 1)
    ).foreach { case (name, plan, inputs) =>
      assert(count(plan) { case j: JsonStructParse => j } == inputs,
        s"$name: one json_struct per parsed input\n$plan")
      assert(count(plan) { case j: JsonToStructs => j } == 0, s"$name: a from_json is left\n$plan")
    }
  }

  test("topology: one uncoalesced exchange on the cell, then partial + final avg and collect_list on every partition") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, AggregateMode, Average, CollectList, Final, Partial}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM, ShuffleExchangeExec}
    val stations = Seq((39.6467, -89.8455), (35.7395, -78.3249), (36.3367, -77.113),
      (39.2336, -108.67), (36.9639, -85.3242), (51.5131, -0.1779))
    val weather = jsonLines("history-w", stations.zipWithIndex.flatMap { case ((lat, lng), i) =>
      (1 to 3).map(d => s"""{"avg_tmpr_c":${i + d}.5,"avg_tmpr_f":${40 + i + d}.5,"lat":$lat,"lng":$lng,"wthr_date":"2020-01-0$d"}""")
    }.mkString("\n"))
    val hotels = jsonLines("history-h",
      """{"Hash":"dp01","Country":"US","City":"c","Address":"a","Name":"n","Id":"1"}""")
    val parts = spark.sessionState.conf.numShufflePartitions

    // the write's final adaptive plan, and the task count of every stage
    // whose tasks updated a given SQL metric
    val executed = new java.util.concurrent.atomic.AtomicReference[SparkPlan]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        executed.set(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val metricStages = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val taskListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.foreach(a => metricStages.add(a.id -> e.stageId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks); ()
      }
    }
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(taskListener)
    try topology(weather, hotels).write.format("noop").mode("overwrite").save()
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(taskListener)
      spark.listenerManager.unregister(qeListener)
    }
    val plan = Option(executed.get).getOrElse(fail("the noop write reported no plan"))
    val aqe = new AdaptiveSparkPlanHelper {}
    val shown = plan.toString
    assert(shown.contains("isFinalPlan=true"), shown)

    val hashExchanges = aqe.collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    // the daily average and the cell history share one exchange on the cell
    assert(hashExchanges.size == 1 && (hashExchanges.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), n) => a.name == "hash" && n == parts
      case _ => false
    }) && hashExchanges.head.shuffleOrigin == REPARTITION_BY_NUM,
      s"the only hash exchange is hashpartitioning(hash, $parts), REPARTITION_BY_NUM:\n$shown")
    val broadcasts = aqe.collect(plan) { case b: BroadcastExchangeExec => b }
    assert(broadcasts.size == 1 && broadcasts.head.output.exists(_.name == "country"),
      s"the hotels broadcast:\n$shown")

    def aggregates[F <: AggregateFunction](p: SparkPlan, mode: AggregateMode)(
        implicit f: scala.reflect.ClassTag[F]) =
      aqe.collect(p) {
        case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == mode && f.runtimeClass.isInstance(e.aggregateFunction)) => a
      }
    val exchanged = aqe.collect(plan) { case e: ShuffleExchangeExec => e.child }
    assert(exchanged.flatMap(aggregates[CollectList](_, Partial)).isEmpty,
      s"no partial_collect_list below an exchange:\n$shown")
    // a partial average below an exchange would bring back the (cell, date) shuffle
    assert(aggregates[Average](plan, Partial).nonEmpty &&
      exchanged.flatMap(aggregates[Average](_, Partial)).isEmpty,
      s"partial_avg above the exchange, none below it:\n$shown")

    val finals = aggregates[CollectList](plan, Final)
    assert(finals.size == 1, shown)
    val outRows = finals.head.metrics("numOutputRows").id
    val stages = metricStages.toArray(Array.empty[(Long, Int)]).collect { case (`outRows`, s) => s }.distinct
    assert(stages.nonEmpty && stages.forall(s => stageTasks.get(s) == parts),
      s"the collect_list stage runs $parts tasks: ${stages.map(s => s -> stageTasks.get(s)).mkString(", ")}")
  }
}
