package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.GraftFunctions.cosine

/** Deduplication operators for a training-data pipeline (SURVEY.md §2.10):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design notes (the 100 TB story):
  *  - exact dedup is one hash-shuffle on the dup key (or its xxhash64 to keep
  *    shuffle rows narrow when the key is a whole document);
  *  - MinHash/LSH: per-doc signature is a narrow map-side transform; the only
  *    shuffle is the `(band_idx, band_hash)` explode (×#bands row growth but
  *    each row is just ids+hash), then candidate verification joins only
  *    within buckets — never all-pairs. Skewed buckets (boilerplate docs)
  *    are the classic hazard: `maxBucket` caps them deterministically;
  *  - SimHash: join on 16-bit chunk equality (pigeonhole: hamming ≤ 3 ⇒ at
  *    least one of 4 chunks equal), verify with `bit_count(xor)`;
  *  - embedding near-dup blocks on an existing coarse key (label/IVF cell)
  *    so the quadratic verify is per-block, not global.
  */
object Dedup {

  /** Every `stagingDir` parameter in this object follows the [[Staging]]
    * contract: staged tables land under unique per-invocation
    * subdirectories (concurrent sharing is safe), the write is eager at
    * call time, and the directory is job-scoped scratch the caller
    * deletes only after the returned DataFrame has been fully consumed. */
  private def stage(df: DataFrame, stagingDir: Option[String],
      name: String): DataFrame = Staging.stage(df, stagingDir, name)

  /** Shared skew guard: deterministically drop rows whose bucket (the
    * `keys` combination) holds more than `cap` rows. Partial-agg count +
    * anti-join — NOT count().over(Window.partitionBy(keys)), which would
    * shuffle the entire hot bucket into one task just to measure it,
    * recreating the straggler the guard exists to prevent; groupBy's
    * map-side combine counts hot buckets without ever assembling them. */
  private def dropOversized(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val oversized = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .select(keys.map(col): _*)
    df.join(oversized, keys, "left_anti")
  }

  /** Exact dedup: deterministic survivor (min id) per distinct key.
    *
    * Groups on `xxhash64(key)`, not the key itself: with a whole-document
    * key, partial aggregation would otherwise carry the full text across the
    * shuffle as the group key — at 100 TB that is re-shuffling the corpus.
    * The 8-byte hash keeps shuffle rows narrow; a 64-bit collision merging
    * two distinct documents needs ~2³² documents *per false merge* (birthday
    * bound ≈ n²/2⁶⁵) and only ever costs one extra dropped doc, the standard
    * production trade.
    */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(keyCol)).as("key_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** [[exact]] keeping whole surviving rows: the min-`idCol` row of each
    * content key in ONE aggregate pass (`min_by`) — the fused form of
    * `df SEMI JOIN exact(df) ON idCol`, which as a diamond computes
    * `df`'s lineage twice (the two sides prune different columns, so
    * neither the exchange nor the cache dedupes them — measured as two
    * full single-task parses of the WET corpus on q_crawl_pipeline) and
    * pays the join exchange besides. Exactly equivalent because `idCol`
    * is unique per row: the semi-join keeps the one row per key whose id
    * IS that key's min. Shuffle rows carry only `cols` (project-before-
    * exchange, guide §2.3). */
  def exactRows(df: DataFrame, keyCol: String, idCol: String,
      cols: Seq[String]): DataFrame =
    df.groupBy(xxhash64(col(keyCol)).as("__key_hash"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.$c")): _*)

  /** Content-hash index of an already-deduplicated corpus: one `key_hash`
    * (xxhash64) row per distinct document. This is the state an INCREMENTAL
    * ingestion pipeline persists between batches — 8 bytes per corpus doc,
    * ~0.8 TB of index for 10¹¹ docs — so that deduplicating a new batch
    * ([[incrementalExact]]) never rescans corpus text, only joins this
    * narrow relation. Same 64-bit-collision trade as [[exact]].
    * Appending a batch assumes each doc id arrives ONCE — front-door an
    * at-least-once source through [[guardReingest]]. */
  def hashIndex(corpus: DataFrame, keyCol: String = "text"): DataFrame =
    corpus.select(xxhash64(col(keyCol)).as("key_hash")).distinct()

  /** Incremental exact dedup: survivors of a NEW batch against an existing
    * corpus [[hashIndex]] — the min-id first occurrence of each content key
    * within the batch, minus keys the corpus already holds. The batch-side
    * group-by collapses the delta BEFORE the index join, so the join input
    * is one row per distinct new key, not per delta row.
    *
    * Scale: the delta aggregates on its 8-byte key hash (map-side combine);
    * the anti-join against the index is a hash-equi join on that same
    * narrow key — sort-merge at full index scale, broadcast when a
    * day's-worth index partition fits. Corpus text is never read; appending
    * the survivors' hashes back to the index is a union, closing the loop
    * for the next batch. */
  def incrementalExact(delta: DataFrame, index: DataFrame,
      keyCol: String = "text", idCol: String = "doc_id"): DataFrame =
    delta.groupBy(xxhash64(col(keyCol)).as("key_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .join(index, Seq("key_hash"), "left_anti")

  /** Corpus snapshot diff — "what changed since the last crawl": per
    * doc id, whether it was `added`, `removed`, `changed` (same id,
    * different content), or `unchanged` between two snapshots. The
    * audit every periodic-refresh pipeline runs before deciding what to
    * re-process (re-dedup/re-embed only `added ∪ changed`; retire
    * `removed` from standing indexes), and the freshness ledger a
    * training-data release notes.
    *
    * Comparison is by 8-byte content hash (xxhash64 of `keyCol` — the
    * [[hashIndex]] collision trade), so document text never crosses the
    * exchange: each side reduces to (id, hash) at the scan, the
    * full-outer join runs on narrow id-keyed rows, and at 100 TB the
    * join is sort-merge on ~16 bytes/doc — or broadcast when one side
    * is a day's delta. Output: `(idCol, status)`. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", keyCol: String = "text"): DataFrame = {
    val o = oldSnap.select(col(idCol), xxhash64(col(keyCol)).as("__h_old"))
    val n = newSnap.select(col(idCol), xxhash64(col(keyCol)).as("__h_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__h_old").isNull, lit("added"))
          .when(col("__h_new").isNull, lit("removed"))
          .when(col("__h_old") =!= col("__h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Re-ingest guard — the front door that upholds the DISJOINT-ID
    * contract every standing-index fold depends on ([[hashIndex]],
    * [[signatureIndex]], [[TextAnalysis.incrementalDf]],
    * [[TextAnalysis.postingsIndex]]): drop delta rows whose id the corpus
    * has already ingested, by anti-joining against a persisted id roster
    * (any relation carrying the ingested ids — the base corpus itself, a
    * survivor table, or a dedicated 8-byte-per-doc id list).
    *
    * Why it exists: the folds are ADDITIVE (df counts sum, postings
    * append, hash/signature rows union), so re-delivering a doc id —
    * an at-least-once source replaying a batch, an upstream backfill —
    * silently double-counts instead of erroring. Routing every delta
    * through this guard makes the folds idempotent under redelivery:
    * re-ingested rows are dropped, fresh rows pass untouched (the
    * unguarded failure mode and this recovery are locked in
    * TextAnalysisSpec; the df face is hash-gated as `q_text_df_guard`).
    *
    * Scale: an anti-join on narrow ids only — the delta side is one
    * batch, so the roster probe broadcasts the delta's id partitions or
    * sort-merges on the 8-byte key; corpus text is never read. */
  def guardReingest(delta: DataFrame, roster: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    delta.join(roster.select(col(idCol)), Seq(idCol), "left_anti")

  /** MIRROR-HOST detection — the host-level view of exact dedup: pairs
    * of hosts serving largely the same content (mirrors, scraper sites,
    * multi-domain deployments of one CMS). Crawl pipelines run this
    * BEFORE per-document dedup so a whole mirrored host can be dropped
    * or down-prioritized in the frontier instead of paying per-page
    * fetches + per-page dedup.
    *
    * Derivation: each doc reduces to a distinct `(host, xxhash64(text))`
    * pair at the scan (text never shuffles — the [[snapshotDiff]]
    * collision trade); content present on more than `dfCap` hosts is
    * dropped FIRST (corpus-ubiquitous boilerplate certifies nothing
    * about any particular pair and grows the self-join quadratically in
    * its df — the [[dedupNgram]] dfCap rule at host granularity); the
    * surviving narrow relation self-joins on the 8-byte hash
    * (`host_a < host_b` — each pair meets once), and a pair is reported
    * when it shares ≥ `minShared` contents covering ≥ `minOverlapPpm`
    * parts-per-million of the SMALLER host's (post-cap) inventory —
    * integer arithmetic, engine-portable, no float drift.
    *
    * Scale: the exchanges carry (8-byte hash, host) and (host-pair,
    * count) rows only; per-content fan-out is ≤ dfCap², and host-pair
    * cardinality is bounded by observed co-occurrence, never
    * #hosts². Output: `(host_a, host_b, n_shared, n_a, n_b,
    * overlap_ppm)`. */
  def mirrorHosts(docs: DataFrame, hostCol: Column, textCol: Column,
      minShared: Int = 2, minOverlapPpm: Long = 500000L,
      dfCap: Int = 64): DataFrame =
    mirrorHostsFromPairs(
      docs.select(hostCol.as("host"), xxhash64(textCol).as("__h")).distinct(),
      minShared, minOverlapPpm, dfCap)

  /** [[mirrorHosts]] over an already-distinct `(host, __h)` content
    * ledger — the standing-artifact form: a streamed crawl persists the
    * narrow pair relation as it accretes
    * ([[graft.streaming.IngestStreams.mirrorIngest]]) and runs the
    * pair-mining fold at read time. Distinct-of-union is associative
    * across any batch split, so the ledger path equals the one-shot
    * batch operator over the concatenated corpus. */
  def mirrorHostsFromPairs(hc: DataFrame,
      minShared: Int = 2, minOverlapPpm: Long = 500000L,
      dfCap: Int = 64): DataFrame = {
    require(minShared >= 1 && minOverlapPpm >= 0 && dfCap >= 2,
      s"minShared=$minShared minOverlapPpm=$minOverlapPpm dfCap=$dfCap")
    val rare = hc.join(
      hc.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
        .where(col("__df") <= dfCap)
        .select(col("__h")),
      Seq("__h"))
    val tot = rare.groupBy(col("host")).agg(count(lit(1)).as("__n"))
    val shared = rare.select(col("__h"), col("host").as("host_a"))
      .join(rare.select(col("__h"), col("host").as("host_b")), Seq("__h"))
      .where(col("host_a") < col("host_b"))
      .groupBy(col("host_a"), col("host_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    shared
      .join(tot.select(col("host").as("host_a"), col("__n").as("n_a")),
        Seq("host_a"))
      .join(tot.select(col("host").as("host_b"), col("__n").as("n_b")),
        Seq("host_b"))
      .withColumn("overlap_ppm",
        expr("n_shared * 1000000L div least(n_a, n_b)"))
      .where(col("overlap_ppm") >= minOverlapPpm)
      .select(col("host_a"), col("host_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("overlap_ppm"))
  }

  /** Audit sink for mined near-dup pairs: when set, the pair relation is
    * eagerly written to `path` as parquet and downstream consumes the
    * READ-BACK — so an external auditor (the DuckDB oracle re-deriving
    * closure + survivor selection) provably sees the exact pairs the
    * survivors were computed from, not a re-execution that could drift.
    * One extra narrow write of an O(near-dup pairs) relation — the same
    * artifact a production pipeline persists for provenance anyway. */
  private def sinkPairs(pairs: DataFrame, pairsSink: Option[String]): DataFrame =
    pairsSink match {
      case Some(path) =>
        pairs.write.mode("overwrite").parquet(path)
        pairs.sparkSession.read.parquet(path)
      case None => pairs
    }

  /** End-to-end corpus dedup: drop exact duplicates (min-id survivor per
    * text) then near-duplicates found by MinHash+LSH, keeping each pair's
    * lower id. Pair-wise survivor selection is a single-pass approximation
    * of connected components: every dropped doc was near-duplicate of SOME
    * doc with a lower id, but along a chain a → b → c both b and c are
    * dropped even though c's only direct neighbor b did not survive —
    * i.e. survivors are not a maximal independent set. The exact
    * alternative is iterative connected components (log-rounds of joins);
    * the one-pass form is the standard production trade and errs only
    * toward dropping more near-duplicates, never toward keeping one.
    *
    * @param preStaged standing sketch state a pipeline persists anyway —
    *   see [[PreStagedSketch]] for the contract. */
  def dedupCorpus(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", bands: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.8, stagingDir: Option[String] = None,
      pairsSink: Option[String] = None,
      preStaged: Option[PreStagedSketch] = None): DataFrame = {
    // staged: the survivor relation is read twice (near-dup mining input
    // AND the final anti-join base) and each read would otherwise redo the
    // exact-dedup scan+agg — same diamond rule as minhashPairs' signatures
    val (exactSurvivors, minePairs) =
      corpusMiningLegs(docs, idCol, textCol, bands, rowsPerBand, threshold,
        stagingDir, preStaged)
    val pairs = sinkPairs(minePairs, pairsSink)
    survivorsFromPairs(exactSurvivors, pairs, idCol)
  }

  /** One-pass survivor selection over an ALREADY-MINED near-dup pair
    * relation — [[dedupCorpus]]'s final step factored out for pipelines
    * that hold the pair set as a standing artifact (mined once at
    * ingest, persisted for provenance, consumed by every downstream
    * policy run): drop every doc that appears as the HIGHER id of some
    * pair (`id_b` — [[minhashPairs]] emits `id_a < id_b`), keep the
    * rest. Same single-pass approximation semantics as [[dedupCorpus]]
    * (survivors are local minima, never a missed near-duplicate).
    *
    * Scale: one distinct over the pair relation's narrow `id_b` column
    * + one id-keyed anti-join — pairs are tiny relative to the corpus,
    * so this is the cheap end of the pipeline at any size. */
  def survivorsFromPairs(exactSurvivors: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    exactSurvivors.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Standing sketch state for the corpus-dedup entry points: the
    * exact-dedup survivor id set and the [[signatureIndex]]-shaped
    * (id, sh, sig) relation over the SAME corpus — both artifacts a
    * production pipeline persists at ingest anyway ([[hashIndex]] /
    * [[signatureIndex]] scaladocs). Handing them in skips the two
    * full-text passes (hash + shingle/sign) a cold run pays; the values
    * must equal the default computation (true by construction when both
    * were produced by these kernels over the same corpus — the
    * [[dedupCorpusCCInc]] `deltaUniq` contract, generalized). */
  final case class PreStagedSketch(survivorIds: DataFrame, signatures: DataFrame)

  /** Shared mining front of [[dedupCorpus]]/[[dedupCorpusCC]]: the staged
    * exact-survivor relation and the (lazy) mined near-dup pair set. */
  private def corpusMiningLegs(docs: DataFrame, idCol: String,
      textCol: String, bands: Int, rowsPerBand: Int, threshold: Double,
      stagingDir: Option[String],
      preStaged: Option[PreStagedSketch]): (DataFrame, DataFrame) = {
    val survIds = preStaged.map(_.survivorIds.select(col(idCol)))
      .getOrElse(exact(docs, textCol, idCol).select(col(idCol)))
    val exactSurvivors = stage(docs.join(survIds, Seq(idCol), "left_semi"),
      stagingDir, "exact_survivors")
    val pairs = preStaged match {
      case Some(ps) =>
        // signatures cover the whole corpus; the survivor semi-join
        // narrows them to the mining population (identical text ⇒
        // identical sh/sig, so slicing ≡ recomputing over survivors)
        minhashPairsFromShingles(
          ps.signatures.join(exactSurvivors.select(col(idCol)),
            Seq(idCol), "left_semi"),
          idCol, bands, rowsPerBand, threshold, stagingDir = stagingDir)
      case None =>
        minhashPairs(exactSurvivors, idCol, textCol,
          bands = bands, rowsPerBand = rowsPerBand, threshold = threshold,
          stagingDir = stagingDir)
    }
    (exactSurvivors, pairs)
  }

  /** Corpus dedup with EXACT transitive-cluster semantics: connected
    * components over the near-dup pair graph, one survivor (the min id)
    * per cluster. [[dedupCorpus]]'s one-pass pairwise selection keeps
    * every *local* minimum — a doc smaller than all its direct neighbors
    * survives even when a smaller doc sits elsewhere in the same
    * transitive cluster; CC collapses each cluster to exactly one
    * survivor (so `dedupCorpusCC` ⊆ `dedupCorpus` always). Costs
    * O(log² n) extra rounds over the PAIR set (see
    * [[Graph.connectedComponents]]); pairs are tiny relative to the
    * corpus, so the rounds never rescan documents.
    *
    * @param survivorOrd when set, the per-cluster survivor maximizes
    *   `(survivorOrd, then lowest id)` via [[survivorsFromLabelsBy]]
    *   (keep-longest/keep-best-scored policy) instead of the default
    *   lowest id — exact dedup within the cluster is policy-blind either
    *   way (identical text ⇒ identical score). */
  def dedupCorpusCC(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", bands: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.8, stagingDir: Option[String] = None,
      survivorOrd: Option[Column] = None,
      pairsSink: Option[String] = None,
      preStaged: Option[PreStagedSketch] = None): DataFrame = {
    val (exactSurvivors, minePairs) =
      corpusMiningLegs(docs, idCol, textCol, bands, rowsPerBand, threshold,
        stagingDir, preStaged)
    val pairs = sinkPairs(minePairs, pairsSink)
    val labels = Graph.connectedComponents(pairs, stagingDir = stagingDir)
    survivorOrd match {
      case Some(ord) => survivorsFromLabelsBy(exactSurvivors, labels, ord, idCol)
      case None      => survivorsFromLabels(exactSurvivors, labels, idCol)
    }
  }

  /** Derive the surviving documents from a CC label table — the shared
    * final step of [[dedupCorpusCC]] and of any incremental pipeline
    * holding the standing labels from [[dedupCorpusCCInc]]: a doc loses
    * iff it appears in the label table with a component other than itself
    * (`id =!= component` ⇒ a smaller doc leads its transitive cluster);
    * docs absent from the pair graph are implicitly singleton survivors
    * (the [[Graph.connectedComponents]] convention).
    *
    * `exactSurvivors` is the exact-dedup survivor set the labels were
    * mined over — for the incremental path, corpus survivors ∪ delta
    * batch survivors (see `q_dedup_corpus_inc`).
    *
    * Scale: the loser side is O(near-dup docs) narrow ids — typically a
    * small fraction of the corpus — so the anti-join broadcasts or
    * shuffles only ids, never text. */
  def survivorsFromLabels(exactSurvivors: DataFrame, labels: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    exactSurvivors.join(
      labels.filter(col("id") =!= col("component")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** [[survivorsFromLabels]] with a QUALITY survivor policy: per transitive
    * cluster keep the candidate maximizing `(ordCol, then lowest id)`
    * instead of the lowest id — the production near-dup rule when a
    * quality signal exists (keep the longest / highest-scored member of
    * each duplicate cluster; the min-id rule keeps whichever crawled
    * first). Exact duplicates are policy-blind (identical text ⇒ identical
    * score) — this lever only exists at the cluster level, which is why it
    * lives here and not in [[exact]].
    *
    * Deterministic: the arg-max key is `(ord, −id)` — a total order per
    * candidate — so ties on the score can't make survivor choice depend on
    * partitioning.
    *
    * Scale: same never-shuffle-the-corpus shape as [[survivorsFromLabels]]
    * — only LABELED docs (pair-graph nodes, O(near-dup docs)) are scored:
    * the ord lookup joins the label table against the candidates on narrow
    * ids, the per-component arg-max aggregates O(labels) rows with
    * map-side combine, and the corpus pays one id anti-join at the end.
    * Docs outside the pair graph survive without being touched. */
  def survivorsFromLabelsBy(candidates: DataFrame, labels: DataFrame,
      ordCol: Column, idCol: String = "doc_id"): DataFrame = {
    val labeled = labels.select(col("id").as(idCol), col("component"))
      .join(candidates.select(col(idCol), ordCol.as("__ord")), Seq(idCol))
    val best = labeled.groupBy(col("component"))
      .agg(max_by(col(idCol), struct(col("__ord"), col(idCol) * lit(-1L)))
        .as("keep_id"))
    val losers = labeled.select(col(idCol))
      .join(best.select(col("keep_id").as(idCol)), Seq(idCol), "left_anti")
    candidates.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental [[dedupCorpusCC]]: fold ONE ingest batch into the
    * standing dedup state without rescanning or re-converging the corpus.
    * Composes the three standing relations an incremental pipeline
    * persists between batches — the exact-dedup [[hashIndex]], the
    * MinHash [[signatureIndex]] (both over the corpus's exact-unique
    * docs), and the CC label table from the previous batch — exactly as
    * their individual equivalence contracts promise: exact-unique delta
    * docs come from [[incrementalExact]] (batch-internal min-id survivor,
    * minus keys the corpus holds), their near-dup pairs from
    * [[incrementalMinhash]] (= the full-corpus pairs touching the delta),
    * and the merge from [[Graph.incrementalCC]] (= full CC recompute on
    * the unioned pair graph, labels included).
    *
    * Returns the UPDATED label table (id, component) over every node of
    * the unioned pair graph — the new standing state. Survivors derive
    * from it the same way [[dedupCorpusCC]] does: corpus ∪ delta
    * exact-survivors anti-joined with `id =!= component` rows. Docs with
    * no near-dup pair stay absent (implicitly singleton), the
    * [[Graph.connectedComponents]] convention. Parity with a batch
    * [[dedupCorpusCC]] over the unioned corpus is property-tested in
    * DedupSpec; it requires the standing contracts: delta ids disjoint
    * from AND larger than corpus ids (min-id survivor agreement), same
    * (k, bands, rowsPerBand, threshold, maxBucket) on every batch.
    *
    * Scale: corpus text is never read (the indexes are narrow), the label
    * table is streamed twice and never shuffled, and the only iterative
    * work is the O(delta) contracted label graph — each batch costs
    * O(delta + affected components), not O(corpus).
    *
    * @param pairsSink when set, the delta's mined near-dup pairs are
    *   staged and the CC fold consumes the read-back ([[sinkPairs]]) —
    *   together with the persisted standing state (labels, survivors)
    *   this lets the DuckDB oracle re-verify the pairs from raw text and
    *   recompute the whole incremental fold independently. */
  def dedupCorpusCCInc(delta: DataFrame, hashIdx: DataFrame,
      sigIndex: DataFrame, prevLabels: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8, maxBucket: Int = 1000,
      stagingDir: Option[String] = None,
      deltaUniq: Option[DataFrame] = None,
      pairsSink: Option[String] = None,
      indexPostings: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // exact-unique delta docs: batch-internal survivors minus corpus keys;
    // staged — read by the signature pass AND (via pairs) the CC rounds.
    // A pipeline that has already run [[incrementalExact]] on this batch
    // (exact dedup precedes near-dup in every standing ingest flow) hands
    // the survivor ROWS in via `deltaUniq` instead of paying the
    // aggregation again; the value must equal this default computation.
    val uniq = stage(deltaUniq.getOrElse(delta.join(
      incrementalExact(delta, hashIdx, textCol, idCol).select(col(idCol)),
      Seq(idCol), "left_semi")), stagingDir, "inc_exact_survivors")
    // with standing (postings, bucketCounts) artifacts the mine takes the
    // broadcast-delta path that never re-bands or shuffles the corpus —
    // bit-identical output (incrementalMinhashFromPostings contract).
    // When pairsSink forces the pairs eagerly, the mine's staged delta
    // relations are released right after the force (handles contract);
    // without a sink the lazy plan still reads them, so the
    // session-lifetime caching caveat applies as in the generic path.
    val pairs = indexPostings match {
      case Some((posts, cnts)) =>
        val (mined, release) = incrementalMinhashFromPostingsHandles(uniq,
          sigIndex, posts, cnts, idCol, textCol, k, bands, rowsPerBand,
          threshold, maxBucket)
        if (pairsSink.isDefined) try sinkPairs(mined, pairsSink) finally release()
        else mined
      case None => sinkPairs(incrementalMinhash(uniq, sigIndex, idCol,
        textCol, k, bands, rowsPerBand, threshold, maxBucket), pairsSink)
    }
    Graph.incrementalCC(prevLabels, pairs, srcCol = "id_a", dstCol = "id_b",
      stagingDir = stagingDir)
  }

  /** Per-doc sorted distinct shingle-hash sets — the shared first pass of
    * every shingle-based dedup operator. Callers running SEVERAL of them
    * over one corpus (e.g. a recall audit of minhash against the exact
    * ground truth) should compute this once, `persist` it, and hand it to
    * the `*FromShingles` variants: the corpus text is then scanned and
    * shingled ONCE instead of once per operator — at 100 TB the scan is
    * the bill. `extraCols` carries blocking keys (lang, source) along. */
  def shingled(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3,
      extraCols: Seq[String] = Nil): DataFrame =
    docs.select((idCol +: extraCols).map(col) :+
      sort_array(array_distinct(shingleHashes(tokens(col(textCol)), k))).as("sh"): _*)

  /** Candidate near-dup pairs via MinHash + LSH banding, verified with exact
    * Jaccard over distinct shingle-hash sets.
    *
    * @param bands     number of LSH bands (signature length = bands * rowsPerBand)
    * @param maxBucket drop pathological buckets larger than this (skew guard)
    */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 1000,
      stagingDir: Option[String] = None): DataFrame =
    minhashPairsFromShingles(shingled(docs, idCol, textCol, k), idCol,
      bands, rowsPerBand, threshold, maxBucket, stagingDir)

  /** Per-band bucket keys from a minhash signature (statically unrolled —
    * `bands` is a plan-time constant). Shared by the batch miner and the
    * incremental path so both derive IDENTICAL buckets for the same text. */
  private def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(lit(b), concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))): _*)

  /** The standing-corpus staging relation for [[incrementalMinhash]]:
    * (id, sh, sig) — sorted distinct shingle hashes + minhash signature per
    * document. Write it once as a table (parquet/bucketed) when the corpus
    * is ingested; daily deltas then dedup against it WITHOUT re-scanning or
    * re-signing the corpus — at 100 TB the index is a few hundred bytes per
    * doc vs re-reading the text. Same (k, bands, rowsPerBand) must be used
    * on both sides; id spaces must be disjoint (caller contract, same as
    * [[incrementalExact]] — enforceable at the front door via
    * [[guardReingest]]). */
  def signatureIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4, extraCols: Seq[String] = Nil): DataFrame =
    shingled(docs, idCol, textCol, k, extraCols)
      .withColumn("sig", minhashSig(col("sh"), bands * rowsPerBand))

  /** Guard for the precomputed-`sig` fast paths: a standing index built
    * under a DIFFERENT (bands, rowsPerBand) parameterization has the
    * wrong signature length, and [[bandHashes]] would silently band wrong
    * slices of it — every bucket key garbage, recall collapsing to ~0
    * with no error. Fail loudly at the first row instead: the check is a
    * codegen'd `when` riding the projection (no extra pass, no action). */
  private def sigChecked(numHashes: Int): Column =
    when(size(col("sig")) === numHashes, col("sig"))
      .otherwise(raise_error(concat(
        lit(s"precomputed sig length != bands*rowsPerBand = $numHashes: got "),
        // coalesce: size(NULL) is NULL and would null the whole message
        // (raise_error with a NULL text) — a null-sig row must still
        // trip the guard WITH the contract text
        coalesce(size(col("sig")), lit(-1)).cast("string"),
        lit(" — index built under a different (bands, rowsPerBand)"))))

  /** Near-dup pairs of DELTA documents against a standing corpus's
    * [[signatureIndex]] AND each other — the incremental form of
    * [[minhashPairs]]. Output: (id_a, id_b, jaccard) where id_a is always a
    * delta doc; delta-delta pairs appear once (id_a < id_b).
    *
    * Equivalence contract (property-tested): with the same parameters this
    * finds EXACTLY the [[minhashPairs]]-over-the-full-corpus pairs that
    * touch a delta doc — signatures, band buckets, the bucket cap, and the
    * exact-Jaccard verify are all computed by the same deterministic
    * kernels, so batch and incremental can never drift.
    *
    * Scale: the index's text is never read (only its narrow (id, band)
    * postings and its shingle sets for verified candidates); the bucket-cap
    * guard counts over the UNION of postings, matching the batch run. Both
    * candidate sides read one shared (band_idx, band_hash) exchange. */
  def incrementalMinhash(delta: DataFrame, index: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame = {
    // a delta already carrying (sh, sig) — e.g. sliced from a staged
    // signatureIndex — skips the re-sign (same contract note as
    // [[minhashPairsFromShingles]]'s sig fast path)
    val dSig = (if (delta.columns.contains("sig"))
        delta.select(col(idCol), col("sh"),
          sigChecked(bands * rowsPerBand).as("sig"))
      else signatureIndex(delta, idCol, textCol, k, bands, rowsPerBand))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // BOTH sides persist, not just the delta: the index relation has the
    // same consumer diamond (postings + both verify joins, and the bucket
    // guard reads postings twice), and if the caller handed a lazily
    // recomputed index — e.g. signatureIndex over raw documents rather
    // than a staged parquet table — every consumer would re-scan and
    // re-sign the standing corpus, the exact cost this operator exists to
    // avoid (observed as 6× corpus scans in the audited plan). For a
    // parquet-staged index this costs one cheap extra materialization.
    // Both pins live under the session-lifetime CacheManager caveat
    // (minhashPairsFromShingles scaladoc); a PER-BATCH caller belongs on
    // the postings path (incrementalMinhashFromPostingsHandles), which
    // both skips the corpus-side re-band entirely and releases its
    // staging per batch.
    val iSig = index.select(col(idCol), col("sh"),
        sigChecked(bands * rowsPerBand).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def postings(sigs: DataFrame, isDelta: Boolean): DataFrame = sigs.select(
      col(idCol),
      posexplode(bandHashes(col("sig"), bands, rowsPerBand))
        .as(Seq("band_idx", "band_hash")))
      .select(col(idCol), col("band_idx"), col("band_hash"),
        lit(isDelta).as("is_delta"))
    // one exchange: both candidate sides read the identical repartitioned
    // projection (the delta-only filter sits ABOVE the exchange)
    val all = postings(dSig, isDelta = true)
      .union(postings(iSig, isDelta = false))
      .repartition(col("band_idx"), col("band_hash"))
    val guarded = dropOversized(all, Seq("band_idx", "band_hash"), maxBucket)
    val l = guarded.filter(col("is_delta"))
      .select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val r = guarded.select(col("band_idx"), col("band_hash"),
      col(idCol).as("id_b"), col("is_delta").as("b_delta"))
    val candidates = l.join(r, Seq("band_idx", "band_hash"))
      // index partner: any orientation; delta partner: once, as id_a < id_b
      .filter((!col("b_delta") && col("id_a") =!= col("id_b")) ||
        (col("b_delta") && col("id_a") < col("id_b")))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sh = dSig.select(col(idCol), col("sh"))
      .union(iSig.select(col(idCol), col("sh")))
    candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The LSH POSTING relation of a [[signatureIndex]]-shaped input:
    * `(idCol, band_idx, band_hash)`, one row per (doc, band). This is
    * the second standing artifact an incremental near-dup pipeline
    * persists beside the signature index itself: with postings (and
    * their per-bucket counts, [[bandBucketCounts]]) on disk, a per-batch
    * fold never re-bands or re-shuffles the standing corpus — see
    * [[incrementalMinhashFromPostings]]. At cluster scale write it
    * bucketed by (band_idx, band_hash) so bucket-local joins skip even
    * the scan-side exchange. */
  def bandPostings(sigIndex: DataFrame, idCol: String = "doc_id",
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    sigIndex.select(col(idCol), sigChecked(bands * rowsPerBand).as("sig"))
      .select(col(idCol),
        posexplode(bandHashes(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
      .select(col(idCol), col("band_idx"), col("band_hash"))

  /** Per-bucket posting counts of a [[bandPostings]] relation — the
    * precomputed standing half of the `maxBucket` skew guard. */
  def bandBucketCounts(postings: DataFrame): DataFrame =
    postings.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("n_base"))

  /** [[incrementalMinhash]] against a PRE-POSTED standing index — the
    * per-batch shape that survives 100 TB. The generic path re-bands and
    * re-shuffles the standing index's postings on every batch (an
    * O(corpus) exchange per daily delta — the classic incremental-dedup
    * scale-killer); this variant reads the postings and their bucket
    * counts as standing artifacts ([[bandPostings]] /
    * [[bandBucketCounts]], persisted at index build) and instead
    * BROADCASTS the delta's postings against them: the standing corpus
    * is scanned map-side, never shuffled, and the skew guard folds the
    * precomputed base counts with the delta's own (so the guard decides
    * on exactly the union totals the generic path counts — outputs are
    * bit-identical, property-locked in DedupSpec).
    *
    * Contract: the delta is batch-bounded (its posting relation — ×bands
    * rows — must broadcast; production deltas are, by the same bound
    * that makes them "a batch"). `index` supplies the `sh` sets for the
    * verify joins, exactly as in the generic path.
    *
    * The lazy result closes over two staged delta relations (the delta's
    * signatures and postings — each a three-consumer diamond, same
    * rationale as [[minhashPairsFromShingles]]'s sigd), pinned in the
    * SQL CacheManager under the session-lifetime caveat documented
    * there. A caller that FORCES the pairs (writes them, as every
    * standing ingest does) should use
    * [[incrementalMinhashFromPostingsHandles]] and release the staging
    * after the force — a per-micro-batch caller on this signature would
    * otherwise accumulate two pinned relations per batch for the
    * stream's lifetime. */
  def incrementalMinhashFromPostings(delta: DataFrame, index: DataFrame,
      indexPostings: DataFrame, indexBucketCounts: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame =
    incrementalMinhashFromPostingsHandles(delta, index, indexPostings,
      indexBucketCounts, idCol, textCol, k, bands, rowsPerBand, threshold,
      maxBucket)._1

  /** [[incrementalMinhashFromPostings]] plus a release handle for its
    * two staged delta relations: call it once the returned pairs have
    * been forced (e.g. written to the pairs log) and the staging is
    * dropped from the CacheManager instead of pinning it for the
    * session. The per-micro-batch shape ([[graft.streaming
    * .IngestStreams]]'s dedupIngest): force in `try`, release in
    * `finally`, so a long-running 100 TB ingest holds at most one
    * batch's staging at a time. */
  private[graft] def incrementalMinhashFromPostingsHandles(
      delta: DataFrame, index: DataFrame,
      indexPostings: DataFrame, indexBucketCounts: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = 1000): (DataFrame, () => Unit) = {
    val dSig = (if (delta.columns.contains("sig"))
        delta.select(col(idCol), col("sh"),
          sigChecked(bands * rowsPerBand).as("sig"))
      else signatureIndex(delta, idCol, textCol, k, bands, rowsPerBand))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dPost = bandPostings(dSig, idCol, bands, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // guard: union totals = delta bucket counts + precomputed base counts
    val dCnt = dPost.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("n_delta"))
    val oversized = dCnt
      .join(indexBucketCounts, Seq("band_idx", "band_hash"), "full")
      .filter(coalesce(col("n_delta"), lit(0L)) +
        coalesce(col("n_base"), lit(0L)) > maxBucket)
      .select(col("band_idx"), col("band_hash"))
    // oversized buckets are few by construction → broadcast anti-joins
    val dG = dPost.join(broadcast(oversized),
      Seq("band_idx", "band_hash"), "left_anti")
    val iG = indexPostings.join(broadcast(oversized),
      Seq("band_idx", "band_hash"), "left_anti")
    // delta×index: the standing postings stream map-side past the
    // broadcast delta — no shuffle of the corpus-sized side
    val candDI = broadcast(
        dG.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a")))
      .join(iG.select(col("band_idx"), col("band_hash"),
        col(idCol).as("id_b")), Seq("band_idx", "band_hash"))
      .filter(col("id_a") =!= col("id_b"))
    // delta×delta: batch-internal pairs, both sides small
    val candDD = dG.select(col("band_idx"), col("band_hash"),
        col(idCol).as("id_a"))
      .join(dG.select(col("band_idx"), col("band_hash"),
        col(idCol).as("id_b")), Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
    val candidates = candDI.select(col("id_a"), col("id_b"))
      .union(candDD.select(col("id_a"), col("id_b")))
      .distinct()
    val sh = dSig.select(col(idCol), col("sh"))
      .union(index.select(col(idCol), col("sh")))
    val pairs = candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (pairs, () => { dSig.unpersist(); dPost.unpersist(); () })
  }

  /** [[minhashPairs]] over a precomputed [[shingled]] relation (column
    * `sh`: sorted distinct shingle hashes per `idCol`). If the input
    * ALSO carries a `sig` column (a [[signatureIndex]]-shaped relation —
    * e.g. a staged standing index), the minhash kernel is skipped and
    * the precomputed signatures are used as-is; the caller contract is
    * the [[signatureIndex]] one (same kernel, length = bands ·
    * rowsPerBand), which holds by construction for anything this module
    * produced. At 100 TB this is the difference between re-signing the
    * corpus per dedup job and reading the standing index. */
  def minhashPairsFromShingles(shingledDocs: DataFrame, idCol: String = "doc_id",
      bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 1000,
      stagingDir: Option[String] = None): DataFrame = {
    val numHashes = bands * rowsPerBand
    // The shingle + minhash projection is the expensive kernel (one pass
    // over every token × numHashes). Three consumers need it: banding, the
    // id_a verify join and the id_b verify join — without a materialization
    // point Catalyst recomputes the projection per consumer (4 full corpus
    // passes, seen in the audited plan). Exchange reuse can't help: column
    // pruning hands each consumer a different projection, so the canonical
    // subtrees never match. [[stage]] is the shared materialization — the
    // signature-staging step every production dedup pipeline runs. At
    // 100 TB pass `stagingDir` for an explicit parquet staging table;
    // the default executor-local persist is pinned by the SQL
    // CacheManager for the session lifetime (the ContextCleaner does NOT
    // collect CacheManager entries): callers running many dedup jobs in
    // one session should `spark.catalog.clearCache()` between them
    // (Spark ML's handlePersistence unpersists after its action for the
    // same reason — a lazy-DataFrame API has no post-action hook to do it
    // for you).
    val sigd = stage(
      if (shingledDocs.columns.contains("sig"))
        shingledDocs.select(col(idCol), col("sh"),
          sigChecked(numHashes).as("sig"))
      else shingledDocs.select(col(idCol), col("sh"))
        .withColumn("sig", minhashSig(col("sh"), numHashes)),
      stagingDir, "signatures")

    // band_j = hash of the j-th signature slice → bucket key (bands is a
    // plan-time constant, so the band array is statically unrolled — better
    // codegen than a sequence+transform HOF). Only (id, band) rows enter the
    // banding shuffles — the shingle arrays stay behind and are joined back
    // exactly once per verified pair, so the ×bands explode and the skew
    // window shuffle carry narrow rows (the whole point of LSH at scale).
    val bandArray = bandHashes(col("sig"), bands, rowsPerBand)
    // repartition on the bucket key: both sides of the candidate self-join
    // need exactly this partitioning, and since they read identical
    // projections the exchange is canonically shared — one narrow (id,
    // band) shuffle instead of two at scale. Hot buckets do concentrate in
    // one partition here, but exchanges stream — rows are anti-joined away
    // on read, never assembled (unlike a window/sort which buffers them).
    val banded = sigd.select(
      col(idCol),
      posexplode(bandArray).as(Seq("band_idx", "band_hash")))
      .repartition(col("band_idx"), col("band_hash"))

    val bucketed = dropOversized(banded, Seq("band_idx", "band_hash"), maxBucket)

    val l = bucketed.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val r = bucketed.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
    val candidates = l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // dedupe pairs sharing several bands BEFORE the verify

    candidates
      .join(sigd.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sigd.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= maxHamming.
    * Candidate generation joins on equality of one of `chunks` 16-bit chunks
    * (pigeonhole guarantee when maxHamming < chunks).
    *
    * @param signaturesSink when set, the (id, sim) signature relation is
    *   eagerly staged to this parquet path and downstream consumes the
    *   read-back — given the signatures, chunking, the bucket guard,
    *   candidate pairing and the hamming verify are all integer
    *   arithmetic an external auditor (the DuckDB oracle) re-derives
    *   exactly; only the simhash64 kernel itself stays engine-side
    *   (spec-locked). A production pipeline persists signatures anyway
    *   (the simhash analogue of [[signatureIndex]]). */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, chunks: Int = 4, maxBucket: Int = 1000,
      signaturesSink: Option[String] = None): DataFrame = {
    // persist for the same diamond reason as minhashPairs' sigd (three
    // consumers, pruning-divergent projections); (id, sim) is 16 bytes/doc
    // — a staged sink plays the same materialization role when requested
    val sigsRaw = docs.select(col(idCol),
      simhash64(hashed(tokens(col(textCol)))).as("sim"))
    val sigs = signaturesSink match {
      case Some(path) =>
        sigsRaw.write.mode("overwrite").parquet(path)
        docs.sparkSession.read.parquet(path)
      case None =>
        sigsRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    simhashPairsFromSignatures(sigs, idCol, maxHamming, chunks, maxBucket)
  }

  /** [[simhashPairs]] over a precomputed `(idCol, sim)` signature
    * relation — the standing-index form: a production pipeline signs the
    * corpus once at ingest (the simhash analogue of [[signatureIndex]])
    * and every dedup job reads the 16-byte/doc signature table instead
    * of re-tokenizing 100 TB of text. Chunking, the bucket guard,
    * pigeonhole candidate pairing and the hamming verify are identical
    * to [[simhashPairs]] (bit-identical output by construction — the
    * batch path delegates here). */
  def simhashPairsFromSignatures(sigs: DataFrame, idCol: String = "doc_id",
      maxHamming: Int = 3, chunks: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val width = 64 / chunks
    val mask = (1L << width) - 1L
    val chunkArray = array((0 until chunks).map(c =>
      shiftright(col("sim"), c * width).bitwiseAND(lit(mask))): _*)
    // same exchange-reuse shape as minhashPairs: one narrow shuffle on the
    // bucket key, consumed by the guard count and both self-join sides, so
    // the simhash kernel runs once per doc instead of three times
    val exploded = sigs.select(col(idCol), col("sim"),
      posexplode(chunkArray).as(Seq("chunk_idx", "chunk_val")))
      .repartition(col("chunk_idx"), col("chunk_val"))
    val chunked = dropOversized(exploded, Seq("chunk_idx", "chunk_val"), maxBucket)

    val l = chunked.select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("id_a"), col("sim").as("sim_a"))
    val r = chunked.select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("id_b"), col("sim").as("sim_b"))
    l.join(r, Seq("chunk_idx", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard pairs within a blocking key (no sketch — the
    * SQL-checkable ground truth the sketched variants approximate).
    *
    * Implemented as an inverted-index similarity join (the scalable exact
    * formulation) rather than a block-quadratic verify:
    *  1. explode each doc's distinct shingle hashes into postings
    *     `(block, shingle, id, len)` — a narrow row, no arrays;
    *  2. self-join postings on `(block, shingle)`: only pairs sharing at
    *     least one shingle ever materialize (pairs with J = 0 never exist);
    *     a size-ratio prefilter (`J ≤ min/max < threshold`) prunes in the
    *     join condition;
    *  3. `|A∩B|` = count of joined postings per pair, `|A∪B|` = len_a +
    *     len_b − |A∩B| — a pure count aggregation, the shingle arrays never
    *     cross a shuffle.
    * With `dfCap = None` the result set is identical to the naive all-pairs
    * form; with the (default) cap it is a subset — see the 100 TB note.
    *
    * 100 TB note: cost is Σ_shingle df² within a block, and the per-shingle
    * pair expansion happens IN-ARRAY in one row — df = 10⁶ boilerplate
    * shingles would build 10¹² structs in a single task. `dfCap` drops
    * postings of shingles seen in more than that many docs per block, which
    * bounds any one row to cap² pairs. Capping can only lower measured J
    * (may miss pairs glued together ONLY by boilerplate, which is almost
    * always the desired reading anyway); the guard is ON by default — pass
    * `dfCap = None` explicitly to accept unbounded expansion.
    */
  def ngramJaccardPairs(docs: DataFrame, blockCol: Column,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 3, threshold: Double = 0.5,
      dfCap: Option[Int] = Some(1000)): DataFrame =
    ngramJaccardPairsFromShingles(
      shingled(docs.withColumn("block", blockCol), idCol, textCol, k,
        extraCols = Seq("block")),
      idCol, threshold, dfCap)

  /** [[ngramJaccardPairs]] over a precomputed [[shingled]] relation with a
    * `block` column (share the shingle pass across operators — see
    * [[shingled]]). */
  def ngramJaccardPairsFromShingles(shingledDocs: DataFrame,
      idCol: String = "doc_id", threshold: Double = 0.5,
      dfCap: Option[Int] = Some(1000)): DataFrame = {
    val d = shingledDocs.select(col(idCol), col("block"), col("sh"))
      .withColumn("len", size(col("sh")))
    val postings = d.select(col("block"), explode(col("sh")).as("s"),
      struct(col(idCol).as("id"), col("len")).as("doc"))

    // one groupBy per (block, shingle) gathers its posting list; pairs are
    // expanded IN-ARRAY (df is small for non-boilerplate shingles), so the
    // shingle lineage is evaluated once and no self-join recomputation or
    // array shuffle happens
    val lists = postings.groupBy(col("block"), col("s"))
      .agg(collect_list(col("doc")).as("ds"))
    val pruned = dfCap match {
      case Some(cap) => lists.filter(size(col("ds")) <= cap)
      case None => lists
    }
    val pairs = pruned.select(explode(flatten(transform(col("ds"), a =>
      filter(transform(col("ds"), b => struct(a.getField("id").as("id_a"),
        a.getField("len").as("len_a"), b.getField("id").as("id_b"),
        b.getField("len").as("len_b"))),
        p => p.getField("id_a") < p.getField("id_b") &&
          p.getField("len_a").cast("double") >= p.getField("len_b") * threshold &&
          p.getField("len_b").cast("double") >= p.getField("len_a") * threshold))))
      .as("p"))

    pairs.groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
      col("p.len_a").as("len_a"), col("p.len_b").as("len_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("len_a") + col("len_b") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact duplicated-substring coverage (the span-level dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): for each document, how many token positions are
    * covered by a `k`-token n-gram that occurs at least `minCount` times in
    * the whole corpus (including repeats inside one document). Unlike
    * document-level dedup this catches boilerplate *inside* otherwise-unique
    * documents — the license header pasted into every file, the navigation
    * chrome around every page.
    *
    * Plan shape (the 100 TB story):
    *  1. one pass emits `(doc, pos, xxhash64(k-gram))` postings — narrow
    *     rows, the text never leaves the scan;
    *  2. a count aggregate (map-side partial) finds hashes with
    *     `count >= minCount`; corpus positions are semi-joined against that
    *     set, so only *duplicated* positions survive;
    *  3. covered-token count per doc is an interval-union done with one
    *     `lead` window over the surviving positions — each position covers
    *     `[pos, pos+k)` clamped to the doc, and overlap with the next
    *     position is subtracted — NOT by exploding the k indices of every
    *     hit (a ×k row blowup precisely on the boilerplate-heavy data the
    *     operator exists to find). The window partitions by doc over
    *     *duplicated positions only*, tiny relative to the posting set.
    *
    * Documents shorter than `k` tokens contribute one whole-doc shingle
    * (the [[graft.functions.TextFunctions.shingleHashes]] contract), so a
    * short doc pasted twice still counts as fully covered. Grouping is on
    * the 64-bit n-gram hash — same birthday-bound trade as [[exact]].
    *
    * Output: `(doc_id, n_tokens, n_dup_tokens, dup_ratio)`, one row per doc.
    */
  def dupCoverage(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5, minCount: Long = 2): DataFrame = {
    require(k >= 1 && minCount >= 1)
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), size(col("toks")).as("n_tokens"),
        shingleHashes(col("toks"), k).as("sh"))
    val pos = toks.select(col(idCol), col("n_tokens"),
      posexplode(col("sh")).as(Seq("pos", "s")))
    val dup = pos.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minCount)
      .select(col("s"))
    val hits = pos.join(dup, Seq("s"), "left_semi")
    // interval union per doc: end_i = min(pos_i + k, n_tokens); the next
    // duplicated position (same doc) truncates the contribution.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val covered = hits
      .withColumn("next_pos", lead(col("pos"), 1).over(w))
      .withColumn("span_end", least(col("pos") + lit(k), col("n_tokens")))
      .withColumn("contrib",
        least(col("span_end"), coalesce(col("next_pos"), col("span_end"))) - col("pos"))
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("n_dup_tokens"))
    toks.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double"), 6).as("dup_ratio"))
  }

  /** Exact substring-level dedup — the Lee et al. 2022 duplicate-span
    * REMOVAL pass ([[dupCoverage]] measures coverage; this op EXCISES it):
    * every k-token span whose shingle occurs elsewhere in the corpus is
    * removed from every occurrence EXCEPT the arg-min-first — min
    * (doc id, position), the [[graft.operators.TextPrep.dedupParagraphs]]
    * keep-first rule at span granularity — then per-doc overlapping
    * excision intervals are merged and each document is reassembled from
    * its surviving tokens in order (tokens are the lowercased
    * whitespace-split of the text, rejoined with single spaces — the
    * [[graft.functions.TextFunctions.tokens]] contract).
    *
    * Documents shorter than `k` tokens carry one whole-doc shingle (the
    * [[graft.functions.TextFunctions.shingleHashes]] contract), so a short
    * doc pasted verbatim elsewhere is excised entirely unless it is the
    * first corpus occurrence of its content.
    *
    * Scale shape (100 TB): shingle identity is the 8-byte mixed token-hash
    * (same birthday-bound trade as [[exact]]) so the occurrence shuffle
    * ships (hash, id, pos) only, never span text; the first-occurrence
    * arg-min + count is one partial-agg-friendly aggregate (an occurrence
    * list is never assembled — a hot boilerplate span can occur once per
    * document); the interval-merge window partitions per doc over *excised
    * positions only*, tiny relative to the posting set; and the rebuild is
    * a single join of the token arrays (staged consumer diamond)
    * against each doc's merged-interval list — the document text never
    * crosses a shuffle, because the indexed `filter` HOF drops covered
    * tokens in place.
    *
    * Output: `(doc_id, text_dedup, n_tokens, n_removed)`, one row per
    * input doc (a fully-duplicated doc keeps its row with empty
    * `text_dedup`).
    */
  def dedupSubstrings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5,
      stagingDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the tokenized corpus is a consumer diamond (the posting explode
    // feeds the first-occurrence aggregate AND the excision join; the
    // token arrays feed the final rebuild) — [[Staging.stage]] is the
    // shared materialization. The result is corpus-sized, so the
    // frequentPairs eager-force escape hatch doesn't apply: by default
    // the stage is an executor-local persist pinned by the SQL
    // CacheManager for the session lifetime (the
    // [[minhashPairsFromShingles]] caveat — `spark.catalog.clearCache()`
    // between repeated jobs); at 100 TB pass `stagingDir` for a durable
    // parquet staging table that pins nothing (caller deletes the dir
    // once the result is consumed, the [[Staging]] contract).
    val toks = Staging.stage(
      docs.select(col(idCol), tokens(col(textCol)).as("toks"))
        .select(col(idCol), col("toks"), size(col("toks")).as("n_tokens"),
          shingleHashes(col("toks"), k).as("sh")),
      stagingDir, "substr_toks")
    val pos = toks.select(col(idCol), col("n_tokens"),
      posexplode(col("sh")).as(Seq("pos", "s")))
    // one aggregate carries both the duplication predicate (count >= 2)
    // and the survivor (arg-min over (id, pos)) — never an occurrence list
    val firsts = pos.groupBy(col("s")).agg(
        min(struct(col(idCol), col("pos"))).as("f"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("s"), col(s"f.$idCol").as("__fid"), col("f.pos").as("__fpos"))
    // excised occurrences: every duplicated-shingle position except the
    // corpus-first; span [pos, pos+k) clamped to the doc (which also makes
    // the whole-doc shingle of a short doc cover exactly that doc)
    val cut = pos.join(firsts, Seq("s"))
      .filter(!(col(idCol) === col("__fid") && col("pos") === col("__fpos")))
      .select(col(idCol), col("pos"),
        least(col("pos") + lit(k), col("n_tokens")).as("end"))
    // classic gaps-and-islands interval merge: a new island starts where a
    // position clears the running max end of everything before it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val islands = cut
      .withColumn("prev_max_end", max(col("end")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("a"), max(col("end")).as("b"))
    val ivd = islands.groupBy(col(idCol)).agg(
      collect_list(struct(col("a"), col("b"))).as("ivs"),
      sum(col("b") - col("a")).as("n_removed"))
    toks.join(ivd, Seq(idCol), "left")
      .select(col(idCol),
        array_join(filter(col("toks"), (t, i) =>
          col("ivs").isNull ||
            !exists(col("ivs"), iv => i >= iv.getField("a") && i < iv.getField("b"))),
          " ").as("text_dedup"),
        col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Recall audit for a sketched pair-mining operator: what fraction of the
    * exact ground-truth pairs did the sketch surface? One row
    * (n_exact, n_hit, recall) — the in-engine health number for a dedup
    * sketch (same pattern as `Similarity.recallAudit`): a broken banding or
    * signature collapses `recall` while the sketch query itself still
    * returns rows. Both inputs are pair sets ((id_a, id_b) with id_a <
    * id_b), tiny relative to the corpus, so the audit joins never rescan
    * documents. */
  def pairRecallAudit(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("id_a"), col("id_b"))
    val a = approx.select(col("id_a"), col("id_b"))
    e.agg(count(lit(1)).as("n_exact"))
      .crossJoin(e.join(a, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit")))
      .withColumn("recall",
        when(col("n_exact") === 0L, lit(1.0d))
          .otherwise(round(col("n_hit").cast("double") / col("n_exact"), 4)))
  }

  /** Embedding-cosine near-dup pairs within a blocking key (label / IVF
    * cell): the per-block quadratic verify that backs ANN dedup.
    *
    * `maxBlock` is the quadratic-blowup guard (default ON): a block of n
    * vectors materializes n² candidate pairs, so one degenerate block
    * (every doc mapped to one label) turns the verify into an all-pairs
    * join. Over-sized blocks are counted by a partial aggregate and
    * anti-joined away — same guard shape as `maxBucket`/`dfCap`. Pass
    * `None` to verify everything regardless of block size.
    */
  def embeddingPairs(embs: DataFrame, blockCol: Column,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, maxBlock: Option[Int] = Some(10000)): DataFrame = {
    val all = embs.select(col(idCol), blockCol.as("block"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val d = maxBlock match {
      case Some(cap) => dropOversized(all, Seq("block"), cap)
      case None => all
    }
    val l = d.select(col("block"), col(idCol).as("id_a"), col("v").as("v_a"))
    val r = d.select(col("block"), col(idCol).as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Semantic near-dup pairs with LEARNED blocking (the SemDeDup shape):
    * a bounded-sample k-means coarse quantizer assigns every vector its
    * `nprobe` nearest cells; vectors sharing ANY cell become candidates,
    * verified with exact cosine. [[embeddingPairs]] needs a pre-existing
    * blocking key — this learns one from the geometry, and multi-probe
    * assignment (`nprobe` ≥ 2) recovers pairs that straddle a cell
    * boundary, the failure mode of single-cell blocking.
    *
    * Every returned pair is exact-cosine-verified (precision 1 vs the
    * all-pairs ground truth by construction); recall is the blocking dial
    * (nlist ↓ or nprobe ↑ ⇒ recall ↑, cost ↑) — property-tested against
    * the unblocked ground truth in DedupSpec.
    *
    * Scale: training touches ≤ `trainSample` vectors; assignment is one
    * narrow map pass (NearestCells kernel, centroid matrix as expression
    * state); the shuffle carries (cell, id) postings; `maxBlock` caps the
    * per-cell quadratic exactly like [[embeddingPairs]].
    *
    * @param centroidsSink when set, the learned blocking quantizer is
    *   persisted as (cell, c double[]) parquet ([[Similarity.writeCentroids]])
    *   — given the centroids, multi-probe assignment, the block-size
    *   guard, candidate pairing, and the exact-cosine verify are all
    *   re-derivable by the DuckDB oracle, value-gating the whole face. */
  def semanticPairs(embs: DataFrame, threshold: Double = 0.95,
      nlist: Int = 16, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSample: Int = 10000, maxBlock: Option[Int] = Some(10000),
      centroidsSink: Option[String] = None): DataFrame = {
    require(nprobe >= 1 && nlist >= 1, s"nlist=$nlist nprobe=$nprobe")
    // vectors are read three times (cell assignment + both verify sides) —
    // same staging persist as minhashPairsFromShingles' sigd (and the same
    // CacheManager-lifetime caveat documented there)
    val v = embs.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the IVF coarse quantizer (driver-local Lloyd on the id-ordered
    // sample): the blocking, hence its recall, is identical on any cluster
    val cents = Similarity.coarseQuantizer(v, idCol, "v", nlist, trainSample,
      centroidsSink)
    val cells = v.select(col(idCol),
      explode(Similarity.nearestCells(col("v"), cents, nprobe)).as("cell"))
      .repartition(col("cell")) // one exchange, read by both candidate sides
    val guarded = maxBlock match {
      case Some(cap) => dropOversized(cells, Seq("cell"), cap)
      case None => cells
    }
    val candidates = guarded.select(col("cell"), col(idCol).as("id_a"))
      .join(guarded.select(col("cell"), col(idCol).as("id_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // multi-probe: a pair can share up to nprobe cells
    candidates
      .join(v.select(col(idCol).as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(v.select(col(idCol).as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
