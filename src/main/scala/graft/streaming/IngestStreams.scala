package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

/** Streaming corpus ingestion with DURABLE cross-batch dedup — exact
  * always, near-dup (minhash) optionally.
  *
  * [[WeatherStreams.dedupStream]] bounds its state with a watermark — the
  * right tool when duplicates arrive close together. Corpus ingestion has
  * the opposite profile: a document seen TODAY must still be recognized
  * next month, so the dedup state is unbounded and belongs OUTSIDE the
  * stream, in durable staging tables — the same `(key_hash)` index that
  * [[Dedup.incrementalExact]] consumes in batch, and (optionally) the
  * same `(id, sh, sig)` [[Dedup.signatureIndex]] that
  * [[Dedup.incrementalMinhash]] consumes. A micro-batch sink is the
  * Spark-native seam for this pattern: each micro-batch is deduped against
  * the index AND itself, survivors are appended to the output, their
  * hashes (and signatures) extend the indexes, and near-dup pairs of the
  * batch against everything admitted before it are emitted — so batch N+1
  * sees everything batch N admitted.
  *
  * Every ingest here writes through one exactly-once sink on plain
  * parquet, [[batchKeyed]]. One wrinkle for dedup: on replay the hash
  * index may ALREADY hold batch N's hashes (crash after the index write),
  * which would make the batch dedup against itself and admit nothing — so
  * index loads exclude the in-flight batch's partition (partition-pruned
  * filter, never scans other batches).
  *
  * Scale: the exact index carries ONE 8-byte hash per admitted document
  * (the [[Dedup.exact]] narrow-key contract, birthday bound documented
  * there); the signature index a few hundred bytes per doc. Per batch the
  * corpus cost is one semi-join of the (small) batch against the hash
  * index plus (if enabled) the narrow (id, band) postings join of
  * [[Dedup.incrementalMinhash]] — the standing output text is never
  * re-read.
  */
object IngestStreams {

  /** Near-dup maintenance knobs for [[dedupIngest]]; parameters must match
    * across every batch and any batch-mode consumer of the same index
    * (the [[Dedup.incrementalMinhash]] caller contract). */
  final case class MinhashConfig(pairsDir: String, k: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = 1000)

  /** Start the ingestion query. `docs` is a streaming DataFrame with
    * (idCol, textCol, ...); survivors land in `outDir` (partitioned by
    * admitting batch), their key hashes in `indexDir/hashes`. With
    * `minhash` set, admitted survivors' minhash signatures are maintained
    * in `indexDir/signatures` and each batch's near-dup pairs versus the
    * standing corpus (and itself) land in `minhash.pairsDir` as
    * (id_a, id_b, jaccard) with id_a the newer doc. All directories may
    * start empty/absent. */
  def dedupIngest(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text",
      minhash: Option[MinhashConfig] = None): StreamingQuery =
    batchKeyed(docs, checkpointDir) { (batch, key, _) =>
      val spark = batch.sparkSession
      val survivors = Dedup.incrementalExact(
        batch, loadIndex(spark, indexDir, excludeBatch = key),
        keyCol = textCol, idCol = idCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // survivors carry (idCol, key_hash, n_dups); join the batch back
        // for the full payload — batch-local, never touches the output
        val admitted = batch
          .join(survivors.select(col(idCol)), Seq(idCol), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          overwriteBatch(admitted, key, outDir)
          overwriteBatch(survivors.select(col("key_hash")), key,
            s"$indexDir/hashes")
          minhash.foreach { mh =>
            // signatures of the admitted docs only: the near-dup index
            // mirrors the corpus the exact pass actually admitted
            val sigs = Dedup.signatureIndex(admitted, idCol, textCol,
              mh.k, mh.bands, mh.rowsPerBand)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val standing =
                loadSignatures(spark, indexDir, idCol, excludeBatch = key)
              // the fold takes the POSTING path (r15): the standing
              // corpus's LSH postings and per-bucket counts are standing
              // artifacts maintained beside the signatures, so each
              // batch broadcasts its own postings map-side instead of
              // re-banding + shuffling the whole standing index (the
              // bandPostings scaladoc — bit-identical output by the
              // incrementalMinhashFromPostings contract)
              val standingPosts = loadPostings(spark, indexDir, idCol,
                excludeBatch = key)
              val standingCnts = loadBucketCounts(spark, indexDir,
                excludeBatch = key)
              // handles variant: the mine stages the batch's delta
              // signatures/postings; the pairs write below forces
              // them, so they are released per batch — on the plain
              // signature every micro-batch would pin two more
              // CacheManager relations for the stream's lifetime.
              // The mine reads the persisted `sigs` (its precomputed-
              // `sig` path), so the batch is signed once and its
              // release leaves `sigs` cached for the writes below
              val (pairs, releaseMine) =
                Dedup.incrementalMinhashFromPostingsHandles(sigs,
                  standing, standingPosts, standingCnts, idCol, textCol,
                  mh.k, mh.bands, mh.rowsPerBand, mh.threshold, mh.maxBucket)
              try overwriteBatch(pairs, key, mh.pairsDir)
              finally releaseMine()
              overwriteBatch(sigs, key, s"$indexDir/signatures")
              val posts = Dedup.bandPostings(sigs, idCol,
                mh.bands, mh.rowsPerBand)
              overwriteBatch(posts, key, s"$indexDir/postings")
              overwriteBatch(Dedup.bandBucketCounts(posts), key,
                s"$indexDir/bucket_counts")
            } finally sigs.unpersist()
          }
        } finally admitted.unpersist()
      } finally survivors.unpersist()
    }

  /** PQ compression knobs for [[embedIngest]]: vectors additionally get
    * `m` codebook codes (trained once, persisted with the index), so the
    * [[annFromIndex]] ADC pass scans `m` small ints per row instead of
    * `dims` doubles — parquet column pruning makes the compression real
    * at query time even though exact vectors sit in the same files for
    * the refine step. */
  final case class PqIndexConfig(m: Int = 8, ksub: Int = 16)

  /** Streaming embedding ingestion with a DURABLE IVF index — the
    * similarity-family analogue of [[dedupIngest]]'s dedup indexes: each
    * micro-batch's vectors are assigned to coarse k-means cells and the
    * (id, cell) postings accumulate in a parquet index, so ANN queries
    * over the standing corpus never re-assign (or re-read) old vectors.
    *
    * The coarse quantizer is trained ONCE, on the first non-empty batch
    * (driver-local deterministic Lloyd over a bounded sample — the
    * [[graft.operators.Similarity.ivfTopK]] trainer), and persisted to
    * `indexDir/centroids`; every later batch — and any restart — loads
    * those centroids, so cell ids stay consistent for the life of the
    * index (the FAISS "train once, add forever" contract; retrain by
    * starting a new index). Unit-normalized vectors are stored alongside
    * the postings so the query face can exact-rescore its probed cells
    * without a separate vector store. Writes go through [[batchKeyed]].
    */
  def embedIngest(embs: DataFrame, indexDir: String, checkpointDir: String,
      nlist: Int = 16, trainSample: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pq: Option[PqIndexConfig] = None): StreamingQuery =
    batchKeyed(embs, checkpointDir) { (batch, key, _) =>
      ingestEmbeddingBatch(batch, indexDir, key, nlist, trainSample, idCol,
        vecCol, pq)
    }

  /** Build (or extend) an [[embedIngest]]-shaped index from a BATCH of
    * vectors: identical kernels, train-once quantizer contract, and
    * batch-key overwrite as one streaming micro-batch — idempotent for a
    * fixed `batchKey`. This is the bulk-backfill path (build the standing
    * index from history, then stream deltas onto it) and the
    * catalog/bench face of the streamed index ([[annFromIndex]] reads the
    * result either way). */
  def buildEmbeddingIndex(embs: DataFrame, indexDir: String,
      batchKey: String = "batch-0", nlist: Int = 16, trainSample: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pq: Option[PqIndexConfig] = None): Unit =
    ingestEmbeddingBatch(embs, indexDir, batchKey, nlist, trainSample,
      idCol, vecCol, pq)

  private def ingestEmbeddingBatch(batch: DataFrame, indexDir: String,
      key: String, nlist: Int, trainSample: Int, idCol: String,
      vecCol: String, pq: Option[PqIndexConfig]): Unit = {
    val spark = batch.sparkSession
    val unit = Similarity.unit(batch, idCol, vecCol, idCol, "v")
    if (!unit.isEmpty) {
      // collected at most once, and only when a quantizer still needs it
      lazy val sample = Similarity.trainingSample(unit, idCol, "v",
        trainSample)
      val cents = loadOrTrainCentroids(spark, indexDir, sample, nlist)
      val base = unit.select(col(idCol),
        Similarity.nearestCell(col("v"), cents).as("cell"), col("v"))
      val withCodes = pq.fold(base) { cfg =>
        base.withColumn("code", Similarity.pqCodes(col("v"),
          loadOrTrainCodebooks(spark, indexDir, sample, cfg)))
      }
      overwriteBatch(withCodes, key, s"$indexDir/postings")
    }
  }

  /** ANN top-k for a (small) query set against a streamed [[embedIngest]]
    * index: probe `nprobe` cells per query; when the index carries PQ
    * codes, ADC-score them (the probed scan reads only the narrow
    * (id, cell, code) columns — parquet prunes the vector column away)
    * into a k·`rerank` shortlist, then exact-rescore only shortlisted
    * vectors; without codes, exact-rescore the probed cells directly.
    * Per-query work is |index|·nprobe/nlist either way; the standing
    * corpus is never re-assigned. Same output contract as
    * [[graft.operators.Similarity.ivfTopK]].
    *
    * @param shortlistSink when set (ADC branch only), the shortlist
    *   (query_id, vec_id) is eagerly staged to this parquet path and the
    *   refine consumes the read-back — the DuckDB oracle then re-derives
    *   the exact-cosine re-rank from the index's own stored vectors plus
    *   the raw queries, value-gating the standing-index read path's
    *   refine leg (shortlist membership stays under the recall twin). */
  def annFromIndex(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, rerank: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding",
      shortlistSink: Option[String] = None): DataFrame = {
    val cents = loadCentroids(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no centroids at $indexDir — ingest first"))
    val q = Similarity.unit(queries, idCol, vecCol, "query_id", "qv")
    val postings = spark.read.parquet(s"$indexDir/postings")
      .withColumnRenamed(idCol, "vec_id")
    loadCodebooks(spark, indexDir) match {
      case Some(books) if postings.columns.contains("code") =>
        // ADC over the narrow columns only → bounded shortlist → refine
        Similarity.adcRefineTopK(
          postings.select(col("vec_id"), col("cell"), col("code")),
          postings.select(col("vec_id"), col("v")), q, cents, nprobe, books,
          k, rerank, shortlistSink)
      case _ =>
        Similarity.topKPerQuery(Similarity.exactCos(
          postings.join(broadcast(Similarity.probe(q, cents, nprobe)), Seq("cell"))
            .filter(col("query_id") =!= col("vec_id"))), "cos", k)
    }
  }

  /** Load persisted centroids, or train-and-persist them from this first
    * batch ([[Similarity.lloyd]] over the bounded [[Similarity.trainingSample]]). */
  private def loadOrTrainCentroids(spark: SparkSession, indexDir: String,
      sample: => Array[Array[Double]], nlist: Int): Array[Array[Double]] =
    loadCentroids(spark, indexDir).getOrElse {
      val cents = Similarity.lloyd(sample, nlist)
      import spark.implicits._
      cents.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        // plain write, no batch key: trained exactly once per index; a
        // replay of the first batch finds it and skips retraining (same
        // sample → same centroids, so either path is identical)
        .write.mode("ignore").parquet(s"$indexDir/centroids")
      cents
    }

  private def loadCentroids(spark: SparkSession,
      indexDir: String): Option[Array[Array[Double]]] = {
    val p = s"$indexDir/centroids"
    Option.when(exists(spark, p))(
      spark.read.parquet(p)
        .orderBy(col("cell"))
        .collect().map(_.getSeq[Double](1).toArray))
  }

  /** Load persisted PQ codebooks, or train-and-persist from this first
    * batch ([[Similarity.codebooks]] over the same sample, same
    * train-once contract as the coarse centroids). */
  private def loadOrTrainCodebooks(spark: SparkSession, indexDir: String,
      sample: => Array[Array[Double]],
      cfg: PqIndexConfig): Array[Array[Array[Double]]] =
    loadCodebooks(spark, indexDir).getOrElse {
      val books = Similarity.codebooks(sample, cfg.m, cfg.ksub)
      import spark.implicits._
      books.zipWithIndex.flatMap { case (book, sub) =>
        book.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
      }.toSeq.toDF("sub", "code", "centroid")
        .write.mode("ignore").parquet(s"$indexDir/codebooks")
      books
    }

  private def loadCodebooks(spark: SparkSession,
      indexDir: String): Option[Array[Array[Array[Double]]]] = {
    val p = s"$indexDir/codebooks"
    Option.when(exists(spark, p)) {
      val bySub = spark.read.parquet(p)
        .orderBy(col("sub"), col("code"))
        .collect().groupBy(_.getInt(0))
      (0 until bySub.size).toArray.map(sub =>
        bySub(sub).sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
    }
  }

  /** Compact a streamed index into a fresh directory: every micro-batch
    * leaves its own `batch_key` partition (often a single small file),
    * and at 100 TB the scan's task count — and namenode load — is
    * governed by FILE count, not bytes. Rewrites each postings-style
    * subdirectory (`hashes`, `signatures`, `postings`) into ONE
    * `batch_key=<compacted>` partition of ≈`targetBytes` files, and
    * copies `centroids`/`codebooks` verbatim (the train-once contract —
    * compaction must never retrain). The SOURCE index is left untouched;
    * ingestion resumes against the new directory with a NEW checkpoint
    * (batch keys embed the checkpoint path, so fresh batch ids can never
    * collide with the compacted partition).
    *
    * Resume caveat: a fresh checkpoint RESETS source offsets. For
    * [[dedupIngest]] that is safe at any starting offset — re-read rows
    * dedup against the standing hash index. [[embedIngest]] has no such
    * guard: resuming from `earliest` re-appends every already-indexed
    * vector, and the default `latest` drops rows that arrived between the
    * old run's last commit and the new start — carry the offsets over
    * with [[resumeOffsets]] (pin them via the source's `startingOffsets`
    * option) before pointing a new embedIngest at a compacted index. */
  def compactIndex(spark: SparkSession, indexDir: String, outDir: String,
      targetBytes: Long = 128L << 20): Unit = {
    requireFresh(spark, indexDir, outDir, "compactIndex")
    val conf = spark.sparkContext.hadoopConfiguration
    def present(sub: String) = exists(spark, s"$indexDir/$sub")
    Seq("hashes", "signatures", "postings", "bucket_counts")
      .filter(present).foreach { sub =>
      val df = spark.read.parquet(s"$indexDir/$sub").drop("batch_key")
      val bytes = df.inputFiles.map { f =>
        val p =
          try new Path(new java.net.URI(f))
          catch { case _: java.net.URISyntaxException => new Path(f) }
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      df.repartition(n)
        .withColumn("batch_key", lit("compacted"))
        .write.mode("overwrite").partitionBy("batch_key")
        .parquet(s"$outDir/$sub")
    }
    Seq("centroids", "codebooks").filter(present).foreach { sub =>
      spark.read.parquet(s"$indexDir/$sub")
        .write.mode("overwrite").parquet(s"$outDir/$sub")
    }
  }

  /** Streaming maintenance of a standing document-frequency index —
    * [[graft.operators.TextAnalysis.dfIndex]] kept fresh by a stream, the
    * statistic the idf-weighted scorers read. Each micro-batch's per-term
    * df lands as its OWN batch-keyed partition: df is additive under the
    * disjoint-id ingest contract (each doc ingested exactly once, the
    * [[dedupIngest]] convention), so the index is APPEND-ONLY and the
    * standing statistic is the read-time term-keyed sum ([[readDfIndex]]).
    * No read-modify-write of standing state ever happens, so the
    * [[batchKeyed]] sink alone makes it exactly-once.
    *
    * Scale: per batch, one explode of the BATCH's text + one term-keyed
    * aggregation; corpus text is never re-read and the index carries
    * narrow (term, long) rows. Batch partitions accumulate — fold them
    * with [[compactDfIndex]]; at 100 TB bucket the compacted table by a
    * term hash so scorer lookups and later compactions prune. */
  def dfIngest(docs: DataFrame, indexDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    batchKeyed(docs, checkpointDir) { (batch, key, _) =>
      overwriteBatch(graft.operators.TextAnalysis.dfIndex(batch, idCol,
        textCol), key, indexDir)
    }

  /** Streaming maintenance of the standing per-domain corpus ledger —
    * [[graft.operators.Urls.domainStats]] kept fresh by the ingest
    * stream, the statistic domain quotas/blocklists are tuned against.
    * Identical contract shape to [[dfIngest]]: the ledger is additive
    * under the disjoint-id ingest convention, each micro-batch's
    * (domain, n_docs, n_tokens) aggregate lands as its OWN batch-keyed
    * partition, and the standing statistic is the read-time domain-
    * keyed sum ([[readDomainStats]]). Per batch: one canonicalize +
    * partial-agg groupBy over the BATCH only — the standing ledger is
    * never read, the corpus never re-scanned. */
  def domainIngest(docs: DataFrame, urlCol: org.apache.spark.sql.Column,
      indexDir: String, checkpointDir: String,
      textCol: org.apache.spark.sql.Column = col("text")): StreamingQuery =
    batchKeyed(docs, checkpointDir) { (batch, key, _) =>
      overwriteBatch(graft.operators.Urls.domainStats(batch, urlCol, textCol),
        key, indexDir)
    }

  /** Streaming maintenance of the standing host-level LINK GRAPH —
    * [[graft.operators.Links.hostGraph]] kept fresh as pages arrive
    * (the web graph a crawler's ranking/frontier reads is never built
    * in one shot; it accretes with the crawl). Identical additive
    * contract to [[domainIngest]]: per micro-batch one
    * extract/resolve/canonicalize pass + one partial-agg groupBy over
    * the BATCH only, landed as its own batch-keyed partition; the
    * standing graph is the read-time edge-keyed sum
    * ([[readLinkGraph]] — edge counts are additive across batches by
    * construction). */
  def linkIngest(pages: DataFrame, urlCol: org.apache.spark.sql.Column,
      htmlCol: org.apache.spark.sql.Column,
      indexDir: String, checkpointDir: String): StreamingQuery =
    batchKeyed(pages, checkpointDir) { (batch, key, _) =>
      overwriteBatch(graft.operators.Links.hostGraph(batch, urlCol, htmlCol),
        key, indexDir)
    }

  /** The standing link graph of a [[linkIngest]] index: edge-keyed sums
    * across batch partitions — equals the one-shot `Links.hostGraph`
    * over the concatenated batches (gated end-to-end through the
    * 3-batch replay as `q_link_ingest_replay`, on the q_host_graph
    * oracle verbatim). An absent/empty directory is the empty graph. */
  def readLinkGraph(spark: SparkSession, indexDir: String): DataFrame =
    loadOrEmpty(spark, indexDir, "",
      StructType(Seq(StructField("src_host", StringType),
        StructField("dst_host", StringType),
        StructField("n_links", LongType))))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(sum(col("n_links")).as("n_links"))

  /** Streaming maintenance of the standing CANONICAL-CLUSTER ledger —
    * [[graft.operators.PageMeta.canonicalClusters]] kept fresh as pages
    * arrive: the rel=canonical dedup signal accretes with the crawl
    * like the link graph does. Identical additive contract to
    * [[domainIngest]] with one twist: the ledger merges per canonical
    * target as (SUM n_pages, MIN min_url) — count is additive and min
    * is associative across any batch split, so the read-time fold
    * ([[readCanonicalClusters]]) equals the one-shot batch operator
    * over the concatenated corpus. Per batch: one metadata pass + one
    * partial-agg groupBy over the BATCH only; HTML never leaves the
    * batch scan. */
  def metaIngest(pages: DataFrame, urlCol: org.apache.spark.sql.Column,
      htmlCol: org.apache.spark.sql.Column,
      indexDir: String, checkpointDir: String): StreamingQuery =
    batchKeyed(pages, checkpointDir) { (batch, key, _) =>
      overwriteBatch(graft.operators.PageMeta.canonicalClusters(batch, urlCol,
        htmlCol), key, indexDir)
    }

  /** The standing canonical-cluster ledger of a [[metaIngest]] index:
    * per-canonical (sum, min) across batch partitions — equals the
    * one-shot `PageMeta.canonicalClusters` over the concatenated
    * batches (gated end-to-end as `q_meta_ingest_replay`, on the
    * q_canonical_cluster oracle verbatim). Absent/empty directory →
    * empty ledger. */
  def readCanonicalClusters(spark: SparkSession, indexDir: String): DataFrame =
    loadOrEmpty(spark, indexDir, "",
      StructType(Seq(StructField("canonical", StringType),
        StructField("n_pages", LongType),
        StructField("min_url", StringType))))
      .groupBy(col("canonical"))
      .agg(sum(col("n_pages")).as("n_pages"),
        min(col("min_url")).as("min_url"))

  /** Streaming maintenance of the standing MIRROR-CONTENT ledger — the
    * narrow `(host, content-hash)` pair relation
    * [[graft.operators.Dedup.mirrorHosts]] mines, kept fresh as pages
    * arrive: per micro-batch one hash projection + batch-local DISTINCT
    * landed as its own batch-keyed partition. Distinct-of-union is
    * associative across ANY batch split, so the read-time fold
    * ([[readMirrorHosts]] — cross-batch distinct, then the df-cap +
    * self-join + ppm pair mining) equals the one-shot batch operator
    * over the concatenated corpus. Text never leaves the batch scan. */
  def mirrorIngest(docs: DataFrame, hostCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column,
      indexDir: String, checkpointDir: String): StreamingQuery =
    batchKeyed(docs, checkpointDir) { (batch, key, _) =>
      overwriteBatch(batch.select(hostCol.as("host"),
        xxhash64(textCol).as("__h")).distinct(), key, indexDir)
    }

  /** The standing mirror report of a [[mirrorIngest]] index: cross-batch
    * distinct of the accumulated pair partitions, then
    * [[graft.operators.Dedup.mirrorHostsFromPairs]] (gated end-to-end
    * through the 3-batch replay as `q_mirror_ingest_replay`, on the
    * q_mirror_hosts oracle verbatim). Absent/empty directory → empty
    * report. */
  def readMirrorHosts(spark: SparkSession, indexDir: String,
      minShared: Int = 2, minOverlapPpm: Long = 500000L,
      dfCap: Int = 64): DataFrame =
    graft.operators.Dedup.mirrorHostsFromPairs(
      loadOrEmpty(spark, indexDir, "",
        StructType(Seq(StructField("host", StringType),
          StructField("__h", LongType))))
        .select(col("host"), col("__h")).distinct(),
      minShared, minOverlapPpm, dfCap)

  /** Streaming maintenance of the standing per-pattern hit ledger —
    * [[graft.operators.Keywords.matchCounts]] kept fresh by the ingest
    * stream (the statistic a blocklist/spam dial is tuned against).
    * Identical additive contract to [[domainIngest]]: per micro-batch
    * ONE automaton scan + one partial-agg groupBy over the BATCH only
    * (the automaton rebuild per batch is driver-side and linear in
    * total pattern length — noise next to the scan), landed as its own
    * batch-keyed partition; the standing statistic is the read-time
    * pattern-keyed sum ([[readKeywordStats]]). */
  def keywordIngest(docs: DataFrame, patterns: Seq[String],
      indexDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    batchKeyed(docs, checkpointDir) { (batch, key, _) =>
      overwriteBatch(
        graft.operators.Keywords.matchCounts(batch, patterns, textCol, idCol)
          .groupBy(col("pattern"))
          .agg(sum(col("n")).as("n_hits"), count(lit(1)).as("n_docs")),
        key, indexDir)
    }

  /** The standing ledger of a [[keywordIngest]] index: pattern-keyed
    * sums across batch partitions — equals the one-shot
    * `Keywords.matchCounts` aggregate over the concatenated batches for
    * every pattern that hit at least once (never-hit patterns have no
    * rows to sum; the batch face q_keyword_hits carries the explicit
    * zeros). Gated end-to-end through the 3-batch replay as
    * `q_keyword_ingest_replay`. */
  def readKeywordStats(spark: SparkSession, indexDir: String): DataFrame =
    loadOrEmpty(spark, indexDir, "",
      StructType(Seq(StructField("pattern", StringType),
        StructField("n_hits", LongType), StructField("n_docs", LongType))))
      .groupBy(col("pattern"))
      .agg(sum(col("n_hits")).as("n_hits"),
        sum(col("n_docs")).as("n_docs"))

  /** The standing ledger of a [[domainIngest]] index: domain-keyed sums
    * across batch partitions — equals `Urls.domainStats` over the
    * concatenated batches (gated end-to-end through the 3-batch replay
    * as `q_url_ingest_replay`). Absent/empty directory = empty corpus. */
  def readDomainStats(spark: SparkSession, indexDir: String): DataFrame =
    loadOrEmpty(spark, indexDir, "",
      StructType(Seq(StructField("domain", StringType),
        StructField("n_docs", LongType), StructField("n_tokens", LongType))))
      .groupBy(col("domain"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))

  /** The standing df statistic of a [[dfIngest]] index: term-keyed sum
    * across batch partitions. Equals `TextAnalysis.dfIndex` over the
    * concatenated batches — gated end-to-end through a 3-batch replay as
    * `q_df_ingest_replay` (✓ hash vs DuckDB full-corpus df). An
    * absent/empty directory is the empty corpus. */
  def readDfIndex(spark: SparkSession, indexDir: String): DataFrame =
    loadOrEmpty(spark, indexDir, "",
      StructType(Seq(StructField("term", StringType), StructField("df", LongType))))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))

  /** Sum-preserving compaction of a [[dfIngest]] index: pre-aggregates
    * every batch partition into one `compacted` partition in a FRESH
    * directory. Unlike [[compactIndex]] (content-identical rewrite), rows
    * here MERGE — but [[readDfIndex]] over the result is unchanged (a sum
    * of sums), asserted in IngestStreamsSpec. The [[compactIndex]] resume
    * caveat applies identically: point resumed streams at the new
    * directory with a new checkpoint and pinned [[resumeOffsets]]. */
  def compactDfIndex(spark: SparkSession, indexDir: String,
      outDir: String): Unit = {
    requireFresh(spark, indexDir, outDir, "compactDfIndex")
    readDfIndex(spark, indexDir)
      .withColumn("batch_key", lit("compacted"))
      .write.mode("overwrite").partitionBy("batch_key").parquet(outDir)
  }

  /** Streaming maintenance of the reference's J2 TABLE-TABLE left join
    * (`MyStream.java:168-173`: KTable ⟕ KTable): both sides are standing
    * keyed state kept fresh from ONE tagged changelog stream, and each
    * micro-batch emits the join snapshot. Spark's stream-stream joins
    * require event-time bounds a KTable changelog doesn't have, so the
    * Spark-native seam is the same micro-batch standing-state pattern
    * as [[dedupIngest]]/[[dfIngest]] — append-only batch-keyed parquet
    * state + read-time reduction, never a read-modify-write:
    *
    *  - rows with `side = "dim"` are (key, ord, name) dimension UPSERTS:
    *    the standing value per key is the arg-max-`ord` row (latest-wins
    *    with the no-regression rule — a stale version arriving LATE, or
    *    in a later batch, never overwrites; `ord` must be unique per
    *    key, the [[WeatherStreams.latestPerKeyStream]] contract);
    *  - rows with `side = "fact"` are fact-event arrivals counted per
    *    key: the standing aggregate is the additive read-time sum of
    *    per-batch deltas (the [[dfIngest]] df shape).
    *
    * Per batch, the CURRENT standing dim left-joins the standing counts
    * and the snapshot lands batch-keyed in `outDir` with a `batch_id`
    * column — the changelog of join results; the latest batch's rows are
    * the current table. Exactly-once everywhere via [[batchKeyed]]: a
    * crash-and-replay of batch N deterministically rewrites batch N's
    * state AND snapshot partitions. Gated end-to-end as `q_j2_stream_replay`
    * (3-batch scrambled feed with stale dim versions planted across
    * batch boundaries) against q_j2_left's batch oracle.
    *
    * Scale: per batch one narrow write per side plus the join of the
    * standing states; dim/fact state carries (key, ord, name)/(key,
    * long) rows, never fact payloads. Batch partitions accumulate —
    * compact with the [[compactDfIndex]] recipe; at 100 TB bucket both
    * state tables by key hash so the per-batch join prunes, and emit
    * deltas instead of full snapshots if the table is consumed as a
    * changelog. */
  def tableJoinIngest(tagged: DataFrame, dimDir: String, factDir: String,
      outDir: String, checkpointDir: String): StreamingQuery =
    batchKeyed(tagged, checkpointDir) { (batch, key, bid) =>
      overwriteBatch(batch.filter(col("side") === "dim")
        .select(col("key"), col("ord"), col("name")), key, dimDir)
      overwriteBatch(batch.filter(col("side") === "fact")
        .groupBy(col("key")).agg(count(lit(1)).as("delta")), key, factDir)
      val spark = batch.sparkSession
      val dim = spark.read.parquet(dimDir)
        .groupBy(col("key"))
        .agg(max_by(col("name"), col("ord")).as("name"))
      val counts = spark.read.parquet(factDir)
        .groupBy(col("key")).agg(sum(col("delta")).as("n_events"))
      overwriteBatch(dim.join(counts, Seq("key"), "left")
        .withColumn("batch_id", lit(bid)), key, outDir)
    }

  /** SCD2 changelog consumer — the type-2 twin of [[tableJoinIngest]]'s
    * type-1 upsert surface: every micro-batch appends its `(key, ord,
    * payload…)` version rows into the standing version state (the
    * [[batchKeyed]] contract: a crash-and-replay of batch N
    * deterministically rewrites batch N's state AND snapshot
    * partitions), then re-derives the full validity-interval
    * table with [[graft.operators.WeatherOps.scd2History]] over the
    * standing state and snapshots it under the batch id — so a version
    * arriving LATE (after its successor, even batches later) correctly
    * closes/opens the affected intervals, because the window always runs
    * over all versions seen so far. Input columns: `key`, `ord`, plus
    * payload; `ord` unique per key (the scd2History contract).
    *
    * Scale: per batch one narrow append of the batch's versions plus the
    * window over the standing state — version state is changelog-sized
    * (keys × versions), never fact-sized; at 100 TB bucket the state
    * table by key hash and emit only the keys the batch touched (join
    * the window input against the batch's key set) instead of the full
    * snapshot. Gated end-to-end as `q_scd2_stream_replay` (3-batch
    * scrambled feed, stale versions planted across batch boundaries)
    * against q_scd2's batch-window oracle. */
  def scd2Ingest(changes: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    batchKeyed(changes, checkpointDir) { (batch, key, bid) =>
      overwriteBatch(batch, key, stateDir)
      val spark = batch.sparkSession
      val state = spark.read.parquet(stateDir).drop("batch_key")
      val scd = graft.operators.WeatherOps.scd2History(
        state, Seq("key"), "ord")
      overwriteBatch(scd.withColumn("batch_id", lit(bid)), key, outDir)
    }

  /** Streamed as-of enrichment — production merge_asof-at-ingest: each
    * micro-batch runs the BATCH as-of join
    * ([[graft.operators.AsOf.join]], backward/most-recent) of the
    * batch's left rows against the STANDING right table (`right` is
    * re-evaluated per batch — a parquet read of the durable dimension,
    * the [[dedupIngest]] standing-index pattern) and lands the enriched
    * rows under the batch key (the [[batchKeyed]] contract: crash-and-
    * replay of batch N rewrites batch N's partition). Correct under ANY
    * batching or arrival order because a static-right as-of join is
    * per-left-row: the union over batches
    * equals the one-shot batch join — which is exactly what
    * `q_asof_stream_replay` gates against q_asof_join's oracle.
    *
    * Scale: per batch the union-window plan shuffles the batch's left
    * rows plus one pass of the standing right; at 100 TB pre-bucket the
    * standing side on the key and broadcast small batches instead. */
  def asofIngest(left: DataFrame, right: () => DataFrame,
      leftKey: String, rightKey: String, leftTime: String,
      rightTime: String, rightPayload: Seq[String], rightOrd: String,
      outDir: String, checkpointDir: String): StreamingQuery =
    batchKeyed(left, checkpointDir) { (batch, key, _) =>
      val joined = graft.operators.AsOf.join(batch, right(),
        leftKey = col(leftKey), rightKey = col(rightKey),
        leftTime = col(leftTime), rightTime = col(rightTime),
        rightPayload = rightPayload, rightOrd = col(rightOrd))
      overwriteBatch(joined, key, outDir)
    }

  /** Offsets to pin when resuming a stream on a NEW checkpoint — the
    * compact-then-resume recipe (the [[compactIndex]] resume caveat) made
    * mechanical: reads the OLD checkpoint's commit log, finds the last
    * COMMITTED batch, and returns that batch's per-source ending offsets
    * exactly as each source serialized them (one entry per source, in the
    * query's source order). For a Kafka source the returned string is
    * verbatim the `startingOffsets` option value for the resumed reader;
    * rate/memory-style sources serialize a bare number. A source the
    * committed batch recorded NO offset for (the OffsetSeqLog's `-`
    * marker) surfaces as `None` — resume that source from its default
    * rather than pinning the raw marker, which no reader parses. Empty
    * when the old checkpoint never committed a batch — resume everything
    * from source defaults in that case. */
  def resumeOffsets(spark: SparkSession,
      oldCheckpointDir: String): Seq[Option[String]] = {
    val commits = new Path(s"$oldCheckpointDir/commits")
    if (!exists(spark, commits.toString)) return Seq.empty
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = fs.listStatus(commits).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    if (committed.isEmpty) return Seq.empty
    val in = fs.open(new Path(s"$oldCheckpointDir/offsets/${committed.max}"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    // OffsetSeqLog layout: "v1", one metadata JSON line, then one line
    // per source holding that source's offset JSON — or the bare `-`
    // void marker when the batch committed no offset for that source
    lines.drop(2).filter(_.nonEmpty)
      .map(l => if (l == "-") None else Some(l))
  }

  /** Deterministic partition key for a micro-batch: stable across replays
    * of the same checkpoint, distinct across checkpoints. The prefix is
    * the first 64 bits of md5(checkpoint path) — algorithm-fixed, so the
    * key survives JVM restarts, and wide enough that two runs sharing an
    * index/output directory can't collide on (prefix, batchId) the way a
    * 32-bit String.hashCode could (a collision would silently overwrite
    * the other run's partition AND make excludeBatch drop its hashes).
    *
    * Upgrade note (round 7 → 8): the prefix changed from 32-bit
    * `String.hashCode` to this md5 form. A checkpoint created BEFORE the
    * change must not be resumed against its old index/output directories:
    * the replayed in-flight batch would write under the new key, leaving
    * the legacy attempt's partition in place (duplicate rows) while
    * `excludeBatch` no longer matches it. Start a fresh checkpoint (for
    * [[dedupIngest]] any starting offset is safe; for [[embedIngest]] pin
    * [[resumeOffsets]]) or compact to a new directory first. */
  private[streaming] def batchKey(checkpoint: String, bid: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.take(8).map(b => f"$b%02x").mkString + s"-$bid"
  }

  /** The one streaming sink every ingest here runs through, and the
    * exactly-once contract they share on plain parquet. `body` receives
    * each micro-batch with its [[batchKey]] and batch id, and writes
    * everything the batch produced through [[overwriteBatch]]. A crash
    * anywhere between those writes and the commit log replays batch N
    * from the checkpoint; the deterministic recompute then rewrites
    * exactly batch N's partitions with identical content instead of
    * appending duplicates. The key is stable under replay of the same
    * checkpoint (idempotence) and distinct across ingestion runs: a NEW
    * checkpoint restarts batch ids at 0, and a bare batch-id partition
    * would clobber an earlier run's partition 0 — callers must reuse the
    * same checkpointDir string to resume a run. Standing state that
    * `body` reads back (indexes, ledgers, join sides) is itself
    * batch-keyed and append-only, never read-modify-write, which is what
    * keeps the recompute identical. Crash-tested in IngestStreamsSpec. */
  private[streaming] def batchKeyed(in: DataFrame, checkpointDir: String)(
      body: (DataFrame, String, Long) => Unit): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        body(batch, batchKey(checkpointDir, bid), bid)
      }
      .start()

  /** Idempotent batch write: everything this batch produced lands in the
    * `batch_key=<key>` partition, and OVERWRITE + dynamic partition mode
    * replaces exactly that partition on checkpoint replay (deterministic
    * recompute → identical content) instead of appending a duplicate. */
  private[streaming] def overwriteBatch(df: DataFrame, key: String,
      dir: String): Unit =
    df.withColumn("batch_key", lit(key))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_key")
      .parquet(dir)

  /** The standing (key_hash) index; an absent/empty directory is the empty
    * index (first ever batch). `excludeBatch` drops the in-flight batch's
    * own partition — present only when replaying after a crash that
    * happened after the index write — so the replay can't dedup the batch
    * against itself (partition-pruned, never scans other batches). */
  def loadIndex(spark: SparkSession, indexDir: String,
      excludeBatch: String = ""): DataFrame =
    loadOrEmpty(spark, s"$indexDir/hashes", excludeBatch,
      StructType(Seq(StructField("key_hash", LongType))))
      .select(col("key_hash"))

  /** The standing (id, sh, sig) [[Dedup.signatureIndex]]; absent/empty →
    * empty index. Same `excludeBatch` replay rule as [[loadIndex]]. */
  def loadSignatures(spark: SparkSession, indexDir: String,
      idCol: String = "doc_id", excludeBatch: String = ""): DataFrame =
    loadOrEmpty(spark, s"$indexDir/signatures", excludeBatch,
      StructType(Seq(
        StructField(idCol, LongType),
        StructField("sh", ArrayType(LongType, containsNull = false)),
        StructField("sig", ArrayType(LongType, containsNull = false)))))
      .select(col(idCol), col("sh"), col("sig"))

  /** The standing LSH posting relation ([[Dedup.bandPostings]]) the
    * ingest maintains beside the signature index; absent/empty → empty.
    * Same `excludeBatch` replay rule as [[loadIndex]]. */
  def loadPostings(spark: SparkSession, indexDir: String,
      idCol: String = "doc_id", excludeBatch: String = ""): DataFrame =
    loadOrEmpty(spark, s"$indexDir/postings", excludeBatch,
      StructType(Seq(
        StructField(idCol, LongType),
        StructField("band_idx", IntegerType),
        StructField("band_hash", LongType))))
      .select(col(idCol), col("band_idx"), col("band_hash"))

  /** The standing per-bucket posting counts, summed across batch
    * partitions (per-batch counts are additive — each admitted doc posts
    * once per band in exactly one batch). Absent/empty → empty. */
  def loadBucketCounts(spark: SparkSession, indexDir: String,
      excludeBatch: String = ""): DataFrame =
    loadOrEmpty(spark, s"$indexDir/bucket_counts", excludeBatch,
      StructType(Seq(
        StructField("band_idx", IntegerType),
        StructField("band_hash", LongType),
        StructField("n_base", LongType))))
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sum(col("n_base")).as("n_base"))

  /** A batch-keyed directory minus the `excludeBatch` partition; an
    * absent directory reads as empty with `schema` (the first batch ever,
    * or a ledger nothing has been ingested into yet). */
  private def loadOrEmpty(spark: SparkSession, path: String,
      excludeBatch: String, schema: StructType): DataFrame =
    if (exists(spark, path))
      spark.read.parquet(path)
        .filter(col("batch_key") =!= lit(excludeBatch))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Compaction writes `outDir` in static-overwrite mode, which would
    * delete `indexDir` before reading it if the two were one directory.
    * Both are qualified (scheme + working dir), so `file:/x` vs `/x`, or a
    * relative spelling, cannot slip past. */
  private def requireFresh(spark: SparkSession, indexDir: String,
      outDir: String, op: String): Unit = {
    def qualified(s: String) = {
      val p = new Path(s)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
    }
    require(qualified(outDir) != qualified(indexDir),
      s"$op writes a fresh directory")
  }
}
