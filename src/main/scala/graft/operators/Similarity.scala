package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosine
import graft.functions.TextFunctions.mix64
import graft.functions.TopK

/** Similarity search over an embedding column (SURVEY.md §2.10).
  *
  * Two tiers, same output contract (query_id, vec_id, cos, rank):
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against the
  *    full corpus; one scan, no corpus shuffle, per-partition partial top-k
  *    via the aggregate path would be ideal, here window row_number over
  *    (query, score) keeps it declarative; ranking uses the rounded score
  *    with id tie-break so results are deterministic and engine-portable.
  *  - [[lshTopK]] — approximate at scale: random-hyperplane signatures bucket
  *    the corpus (narrow map-side transform, shuffle only ids+bucket);
  *    queries probe their own bucket, exact-rescore within. Recall/cost dials:
  *    `planes` (bucket granularity) and `probes` (multi-probe by flipping the
  *    lowest-confidence bits).
  *
  * Hyperplanes are pseudo-random but deterministic: component (p, d) is a
  * splitmix64 mix mapped to [-1, 1] — reproducible across runs/executors
  * with no RNG state.
  */
object Similarity {

  /** Deterministic hyperplane component in [-1, 1]. */
  def planeComponent(plane: Int, dim: Int, seed: Long): Double = {
    val h = mix64(seed ^ (plane.toLong << 32) ^ dim.toLong)
    (h.toDouble / Long.MaxValue.toDouble)
  }

  private def asDouble(vecCol: Column): Column =
    transform(vecCol, x => x.cast("double"))

  /** Scale-safe per-query top-k: a k-bounded [[graft.functions.TopK]]
    * aggregate instead of `row_number()` over `Window.partitionBy(query_id)`.
    * The window form shuffles EVERY scored candidate of a query into one
    * task and sorts it — candidates grow linearly with the corpus
    * (|corpus| for a flat scan, nprobe·|corpus|/nlist for IVF), so at
    * 100 TB that is a single-task O(n log n) straggler per query. The
    * aggregate ships at most k entries per (partition, query) and nothing
    * is globally sorted. Output contract is identical to the window form:
    * `ORDER BY score DESC, vec_id ASC`, rank 1-based. */
  private[graft] def topKPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopK.topKByOrd(
        struct(col("vec_id"), col(scoreCol)), col(scoreCol), col("vec_id"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.vec_id").as("vec_id"),
        col("col." + scoreCol).as(scoreCol),
        (col("pos") + 1).cast("int").as("rank"))

  /** Scale-safe shortlist: ids of the `n` best candidates per query, same
    * k-bounded aggregate (the ADC shortlist feeding the exact refine). */
  private[graft] def shortlistPerQuery(scored: DataFrame, scoreCol: String,
      n: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopK.topKByOrd(col("vec_id"), col(scoreCol), col("vec_id"), n)
        .as("__ids"))
      .select(col("query_id"), explode(col("__ids")).as("vec_id"))

  /** The score every tier ranks by: exact cosine rounded to 6 places,
    * over candidate rows carrying (query_id, qv, vec_id, v). */
  private[graft] def exactCos(candidates: DataFrame): DataFrame =
    candidates.select(col("query_id"), col("vec_id"),
      round(cosine(col("qv"), col("v")), 6).as("cos"))

  /** Exact top-k: every query vector scored against every corpus vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val scored = exactCos(c.join(broadcast(q), col("query_id") =!= col("vec_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Approximate top-k via random-hyperplane LSH buckets + exact rescoring
    * within the probed buckets.
    *
    * `probes` is the multi-probe recall dial: each query searches its own
    * bucket plus the buckets reachable by flipping one sign bit
    * (`probes = 1` → own bucket only; max `planes + 1`). Flipped buckets
    * are the likeliest homes of near neighbours that landed just across a
    * hyperplane. Corpus rows stay in exactly one bucket, so probing only
    * fans out the (small, broadcast) query side.
    *
    * @param planesSink when set, the deterministic hyperplane matrix is
    *   persisted as (cell = plane index, c double[]) parquet — given the
    *   planes, bucket signatures, the bucket join, and the exact-cosine
    *   ranking are all re-derivable by the DuckDB oracle, value-gating
    *   the face (single-probe configurations). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
      planes: Int = 8, probes: Int = 1, seed: Long = 7L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      planesSink: Option[String] = None): DataFrame = {
    require(probes >= 1 && probes <= planes + 1)
    planesSink.foreach(writeCentroids(corpus.sparkSession,
      Array.tabulate(planes, dims)((p, d) => planeComponent(p, d, seed)), _))
    val sigOf = (v: Column) => signatureCol(v, dims, planes, seed)
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", sigOf(col("v")))
    val probeBuckets = (0 until probes).map {
      case 0 => col("bucket0")
      case p => flipBit(col("bucket0"), p - 1)
    }
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("bucket0", sigOf(col("qv")))
      .withColumn("bucket", explode(array(probeBuckets: _*)))
      .drop("bucket0")
    topKPerQuery(exactCos(c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))), "cos", k)
  }

  /** Flip sign-bit `p` of a packed bucket id (XOR with 2^p). */
  private def flipBit(bucket: Column, p: Int): Column =
    bucket.bitwiseXOR(lit(1L << p))

  /** Pack the `planes` sign bits of deterministic hyperplane projections
    * into one LONG bucket id, via the [[HyperplaneSig]] kernel expression.
    *
    * The plane matrix (planes × dims doubles from [[planeComponent]]) rides
    * along as expression state (`ctx.addReferenceObj`), NOT as unrolled plan
    * literals: the literal formulation grows the expression tree by
    * planes × dims terms, which at real embedding widths (768–1536 dims)
    * blows past janino's method-size limits and drops the whole projection
    * to interpreted per-term eval — a measured 9.5× same-code swing even at
    * dims = 64. The kernel is one tight JIT'd loop regardless of dims. */
  def signatureCol(vec: Column, dims: Int, planes: Int, seed: Long): Column = {
    require(planes >= 1 && planes <= 63, s"planes must be in [1, 63], got $planes")
    val matrix: Array[Array[Double]] =
      Array.tabulate(planes, dims)((p, d) => planeComponent(p, d, seed))
    import org.apache.spark.sql.graftbridge.Bridge
    // cast guards ARRAY<FLOAT> callers: the kernel reads 8-byte doubles, so
    // an un-cast float array would be reinterpreted, not converted (garbage
    // buckets with no error); Catalyst elides the cast when already double
    Bridge.column(HyperplaneSig(
      Bridge.expression(vec.cast("array<double>")), new Mat2(matrix)))
  }

  /** Kernel: sign-bit of each hyperplane projection, packed little-endian
    * (bit p set ⇔ plane p projection ≥ 0 — same convention as the previous
    * literal formulation, so bucket ids are unchanged). */
  def hyperplaneSigKernel(v: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Array[Array[Double]]): Long = {
    var bits = 0L
    var p = 0
    val np = planes.length
    while (p < np) {
      val pl = planes(p)
      val dims = math.min(v.numElements(), pl.length)
      var dot = 0.0d; var d = 0
      while (d < dims) { dot += v.getDouble(d) * pl(d); d += 1 }
      if (dot >= 0.0d) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Binary-quantized top-k: the sign-bit retrieval recipe (binary
    * embeddings + Hamming shortlist + exact rerank — the 32×-compressed
    * scan path modern embedding stores ship as "binary rescoring").
    * Corpus and queries reduce to packed sign words
    * ([[EmbeddingPrep.binaryQuantize]]); the scan scores Hamming
    * distance over ⌈d/32⌉ BIGINTs per pair (bit_count of XOR — for
    * normalized vectors Hamming is a monotone proxy of angular
    * distance); the best `k·rerank` candidates per query (ties to the
    * lower id) are exact-cosine reranked and the top `k` emitted.
    *
    * Scale: the scan side carries only (id, codes) — 8–16 bytes/vector
    * at real widths vs 3–6 KB of floats; raw vectors are joined back
    * for the k·rerank shortlist ONLY. Queries broadcast (the
    * [[bruteForceTopK]] contract: query sets are small); for
    * corpus-×-corpus workloads compose with the IVF cell join
    * ([[knnGraph]]'s plan) — the code scan drops in wherever full
    * vectors were being scanned. Fully deterministic: no trained state
    * at all (the quantizer IS the sign function), so an external engine
    * re-derives codes, shortlist, and rerank from raw vectors alone.
    * Output: `(query_id, vec_id, cos, rank)`. */
  def bqTopK(corpus: DataFrame, queries: DataFrame, k: Int, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && rerank >= 1, s"k=$k rerank=$rerank")
    val c = EmbeddingPrep.binaryQuantize(
      corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v")),
      "v")
    val q = EmbeddingPrep.binaryQuantize(
      queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv")), "qv")
      .withColumnRenamed("bvec", "qbvec")
    val scored = c.select(col("vec_id"), col("bvec"))
      .join(broadcast(q.select(col("query_id"), col("qbvec"))),
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (lit(0L) - aggregate(
          zip_with(col("bvec"), col("qbvec"),
            (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, x) => acc + x)).as("negham"))
    val short = shortlistPerQuery(scored, "negham", k * rerank)
    val refined = short
      .join(c.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
    topKPerQuery(exactCos(refined), "cos", k)
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; each query rescans only its
    * `nprobe` nearest cells.
    *
    * The 100 TB shape: centroids are trained on a sample (k-means over the
    * full corpus is never needed), the corpus is bucketed in one narrow pass
    * (cell id = argmin centroid distance, a plan-literal dot product), and
    * the query→cell fan-out is a broadcast join on cell id — per-query work
    * drops from |corpus| to nprobe·|corpus|/nlist. Deterministic: Lloyd
    * starts from a fixed spread over the id-ordered training sample (no
    * RNG), so the same corpus trains the same quantizer on any cluster.
    *
    * @param centroidsSink when set, the trained coarse quantizer is
    *   eagerly written to this parquet path as (cell, c double[]) — the
    *   audit artifact that lets an EXTERNAL engine (the DuckDB oracle)
    *   re-derive cell assignment, probing, and the exact top-k from the
    *   same geometry, value-gating the whole IVF read path. A production
    *   index persists its quantizer anyway (train-once contract). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSample: Int = 10000,
      centroidsSink: Option[String] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val cents = coarseQuantizer(c, "vec_id", "v", nlist, trainSample,
      centroidsSink)
    val bucketed = c.withColumn("cell", nearestCell(col("v"), cents))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    topKPerQuery(exactCos(bucketed.join(broadcast(probe(q, cents, nprobe)),
      Seq("cell")).filter(col("query_id") =!= col("vec_id"))), "cos", k)
  }

  /** Approximate ALL-PAIRS kNN graph — every corpus vector gets its top-k
    * neighbours (the semantic-clustering / curation / SemDeDup-adjacent
    * graph a training pipeline mines once and analyzes many times, e.g.
    * with [[Graph.connectedComponents]] / [[Graph.kCorePeel]]).
    *
    * Same IVF geometry as [[ivfTopK]] — train-once coarse quantizer,
    * corpus bucketed to its primary cell, every vector as a query probes
    * its `nprobe` nearest cells — but the candidate join is a SHUFFLE
    * join on the cell id, NOT [[ivfTopK]]'s broadcast of the probed query
    * relation: with queries = corpus, both sides are corpus-sized, and a
    * broadcast would ship the whole corpus to every executor. Per-cell
    * work is |cell| · (probes landing there); the per-query top-k is the
    * k-bounded heap aggregate (never a window sort). A (query, vec) pair
    * meets at most once (the vector lives in exactly one primary cell),
    * so no dedup pass is needed.
    *
    * Output: (query_id, rank, vec_id, cos) — rank 1-based by
    * (cos DESC, vec_id ASC), ≤ k rows per query. Recall vs brute force
    * is the [[recallAudit]] of the same config; `centroidsSink` stages
    * the quantizer for external (oracle) re-derivation. */
  def knnGraph(corpus: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSample: Int = 10000,
      centroidsSink: Option[String] = None,
      stagingDir: Option[String] = None): DataFrame =
    ivfSelfTopK(corpus, k, nlist, nprobe, idCol, vecCol,
      excludeLabelCol = None, trainSample, centroidsSink, stagingDir)

  /** Shared core of [[knnGraph]] and [[hardNegatives]] — ONE derivation
    * (train sample, Lloyd, centroid sink, assignment, probing, scoring,
    * k-bounded top-k) so the two faces can never drift from the shared
    * staged-quantizer oracle: quantizer assignment at nprobe=1, each
    * query probes its `nprobe` nearest cells, candidates meet on the
    * cell (SHUFFLE join — queries = corpus, nothing broadcasts), and
    * the exclusion predicate is the ONLY difference: self-id for the
    * kNN graph, same-label for hard negatives (which subsumes self —
    * same id ⇒ same label). */
  private def ivfSelfTopK(corpus: DataFrame, k: Int, nlist: Int, nprobe: Int,
      idCol: String, vecCol: String, excludeLabelCol: Option[String],
      trainSample: Int, centroidsSink: Option[String],
      stagingDir: Option[String] = None): DataFrame = {
    val c = corpus.select((Seq(col(idCol).as("vec_id")) ++
      excludeLabelCol.map(l => col(l).as("lab")) :+
      asDouble(col(vecCol)).as("v")): _*)
    val cents = coarseQuantizer(c, "vec_id", "v", nlist, trainSample,
      centroidsSink)
    // staged: the (vec_id[, lab], v, cell) relation feeds BOTH join sides
    // — an unmaterialized diamond would run the assignment kernel twice.
    // Default executor-local persist (session-lifetime CacheManager
    // caveat of Dedup.minhashPairsFromShingles); stagingDir for the
    // durable cluster path, the Staging contract.
    // Staging.spread (r21): the probe side broadcasts (a BHJ in
    // q_knn_graph's plan), so the scoring join's parallelism IS this
    // relation's partition count — and a sub-megabyte embeddings file
    // arrives as one scan split, putting the whole |corpus|·nprobe/nlist
    // candidate cross-product in a single task (measured 1.9 s / 3.1 s
    // single-task jobs on q_knn_graph / q_hard_negatives at 32 cores).
    val bucketed = Staging.stage(
      Staging.spread(c.withColumn("cell", nearestCell(col("v"), cents))),
      stagingDir, "ivf_bucketed")
    val probed = probe(c.select((Seq(col("vec_id").as("query_id")) ++
        excludeLabelCol.map(_ => col("lab").as("qlab")) :+
        col("v").as("qv")): _*), cents, nprobe)
    val joined = bucketed.join(probed, Seq("cell"))
    val kept = excludeLabelCol match {
      case Some(_) => joined.filter(col("lab") =!= col("qlab"))
      case None => joined.filter(col("query_id") =!= col("vec_id"))
    }
    topKPerQuery(exactCos(kept), "cos", k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Hard-negative mining — for every vector, the `k` most-similar
    * vectors with a DIFFERENT label (the contrastive-training negatives
    * a DPR/SimCLR-style pipeline mines: close in embedding space, wrong
    * class). Same IVF-bucketed SHUFFLE candidate plan as [[knnGraph]]
    * (queries = corpus, nothing broadcasts); the label exclusion is a
    * narrow predicate on the cell join — labels ride the bucketed rows,
    * the corpus never re-joins to fetch them. Same-id pairs are excluded
    * by construction (same id ⇒ same label).
    *
    * Output: (query_id, rank, vec_id, cos), rank 1..k by (cos DESC,
    * vec_id ASC). */
  def hardNegatives(corpus: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 2, idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", trainSample: Int = 10000,
      centroidsSink: Option[String] = None,
      stagingDir: Option[String] = None): DataFrame =
    ivfSelfTopK(corpus, k, nlist, nprobe, idCol, vecCol,
      excludeLabelCol = Some(labelCol), trainSample, centroidsSink,
      stagingDir)

  /** Recall audit: per-query overlap of an approximate top-k result with
    * the exact top-k on the same (corpus, queries, k) — the in-engine
    * health number for a sketch. If someone breaks LSH bucketing or IVF
    * cell assignment, `recall` collapses while the sketch query itself may
    * still "run fine"; auditing inside Spark keeps the check cheap (both
    * inputs are top-k outputs, |queries|·k rows — the joins never touch
    * the corpus again).
    *
    * Output: (query_id, n_exact, n_hit, recall), ordered by query_id. */
  def recallAudit(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("vec_id"))
    val a = approx.select(col("query_id"), col("vec_id"))
    val nExact = e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
    val nHit = e.join(a, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    nExact.join(nHit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
      .orderBy(col("query_id"))
  }

  /** Persist a trained centroid matrix as (cell, c double[]) parquet —
    * the audit artifact that lets an external engine (the DuckDB oracle)
    * re-derive every centroid-seeded face from the same geometry. Tiny
    * (nlist·dims doubles), written driver-side in one file. */
  private[operators] def writeCentroids(sess: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]], path: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val rows = cents.zipWithIndex.map { case (cent, i) =>
      org.apache.spark.sql.Row(i, cent.toSeq) }.toList
    sess.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("cell", IntegerType, nullable = false),
          StructField("c", ArrayType(DoubleType), nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** `nprobe` nearest centroid ids (ascending score, ties → lower id) for an
    * ARRAY<DOUBLE> vector column. */
  def nearestCells(vec: Column, cents: Array[Array[Double]], nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    // same float-input guard as signatureCol (kernel reads doubles)
    Bridge.column(NearestCells(
      Bridge.expression(vec.cast("array<double>")), new Mat2(cents), nprobe))
  }

  /** Kernel: score every centroid, selection-pick the nprobe smallest. */
  def nearestCellsKernel(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Array[Double]], c2: Array[Double], nprobe: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val nlist = cents.length
    val dims = math.min(v.numElements(), cents(0).length)
    val scores = new Array[Double](nlist)
    var ci = 0
    while (ci < nlist) {
      val cent = cents(ci)
      var dot = 0.0d; var d = 0
      while (d < dims) { dot += v.getDouble(d) * cent(d); d += 1 }
      scores(ci) = c2(ci) - 2.0d * dot
      ci += 1
    }
    val m = math.min(nprobe, nlist)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](nlist)
    var r = 0
    while (r < m) {
      var best = -1
      var ci2 = 0
      while (ci2 < nlist) {
        if (!taken(ci2) && (best < 0 || scores(ci2) < scores(best))) best = ci2
        ci2 += 1
      }
      taken(best) = true; out(r) = best; r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `nprobe` nearest cells per query: one (query, cell) row each, the
    * probe side of every IVF candidate join. */
  private[graft] def probe(q: DataFrame, cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    q.withColumn("cell", explode(nearestCells(col("qv"), cents, nprobe)))

  /** The cell a vector is stored in: its nearest centroid. An unrolled
    * literal formulation (nlist × dims plan literals) grows the expression
    * tree past codegen limits and falls back to interpreted eval; the
    * [[NearestCells]] kernel keeps the centroid matrix as expression state
    * and scores in one tight loop. Score = ||c||² − 2·v·c (rank-equal to
    * distance), ties → lower cell. */
  private[graft] def nearestCell(vec: Column,
      cents: Array[Array[Double]]): Column =
    element_at(nearestCells(vec, cents, 1), 1)

  // ---- Quantizer training ----------------------------------------------

  /** The bounded training sample every quantizer of this family trains
    * on: the first `n` vectors by id, collected to the driver. Ordering by
    * id makes the sample, hence every trained centroid and codebook,
    * identical on any cluster layout (partition count, shuffle
    * partitions), unlike distributed k-means whose float aggregation
    * order varies with partitioning. Only training is driver-side; the
    * data path stays distributed. */
  private[graft] def trainingSample(df: DataFrame, idCol: String,
      vecCol: String, n: Int): Array[Array[Double]] = {
    val sample = df.orderBy(col(idCol)).limit(n)
      .select(col(vecCol)).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    sample
  }

  /** The coarse (IVF) quantizer: [[lloyd]] over the [[trainingSample]];
    * coarse cells only need rough geometry. With `sink` set the centroids
    * are also staged as (cell, c) parquet ([[writeCentroids]]) for the
    * oracle. */
  private[graft] def coarseQuantizer(df: DataFrame, idCol: String,
      vecCol: String, nlist: Int, trainSample: Int,
      sink: Option[String]): Array[Array[Double]] = {
    val cents = lloyd(trainingSample(df, idCol, vecCol, trainSample), nlist)
    sink.foreach(writeCentroids(df.sparkSession, cents, _))
    cents
  }

  /** PQ codebooks: `m` independent [[lloyd]] problems of `ksub` centroids,
    * one per (dims/m)-dim subvector of the sample. */
  private[graft] def codebooks(sample: Array[Array[Double]], m: Int,
      ksub: Int): Array[Array[Array[Double]]] = {
    val dims = sample(0).length
    require(dims % m == 0, s"dims=$dims must divide by m=$m")
    val dsub = dims / m
    Array.tabulate(m)(sub => lloyd(sample.map(p =>
      java.util.Arrays.copyOfRange(p, sub * dsub, (sub + 1) * dsub)), ksub))
  }

  /** Driver-local deterministic Lloyd k-means over a BOUNDED sample, the
    * one trainer of the coarse quantizers and the PQ codebooks: small
    * problems aren't worth a distributed solver. A fixed spread init
    * (every (n/k)-th sample point, no RNG) and a fixed 8 iterations keep
    * it reproducible on any cluster. */
  private[graft] def lloyd(points: Array[Array[Double]],
      k: Int): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    val kk = math.max(1, math.min(k, n))
    val cents = Array.tabulate(kk)(i => points((i.toLong * n / kk).toInt).clone())
    var it = 0
    while (it < 8) {
      val sums = Array.ofDim[Double](kk, d)
      val counts = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < kk) {
          var dist = 0.0d; var j = 0
          while (j < d) { val t = p(j) - cents(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < kk) { // empty cluster keeps its previous centroid
        if (counts(c) > 0) {
          var j = 0
          while (j < d) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Topic-cluster assignment — the k-means cell per vector, as a
    * first-class column: the primitive of CLUSTER-BALANCED corpus mixing
    * (balance pretraining data across semantic clusters instead of
    * metadata groups — the cluster-then-balance recipe; SemDeDup's
    * blocking is the same geometry used for dedup). Train the coarse
    * quantizer ([[coarseQuantizer]]), then assign every vector its nearest
    * cell in ONE narrow map-side pass — no shuffle, no join; at 100 TB the
    * cluster column streams out of the scan. Compose the emitted
    * `cluster` with [[graft.operators.Sampling.mixToShares]] /
    * [[graft.operators.Sampling.epochsMix]] for the balancing step.
    * `centroidsSink` stages the quantizer so an external engine re-derives
    * every assignment (argmin ‖c‖² − 2·v·c, ties → lower cell). */
  def clusterAssign(corpus: DataFrame, nlist: Int = 16,
      vecCol: String = "embedding", trainSample: Int = 10000,
      seedIdCol: String = "vec_id",
      centroidsSink: Option[String] = None): DataFrame = {
    val withV = corpus.withColumn("__v", asDouble(col(vecCol)))
    val cents = coarseQuantizer(withV, seedIdCol, "__v", nlist, trainSample,
      centroidsSink)
    withV.withColumn("cluster", nearestCell(col("__v"), cents)).drop("__v")
  }

  // ---- Product quantization (PQ) -------------------------------------

  /** (id, unit vector) from an embedding column: dot == cosine afterwards.
    * The norm scalar is materialized BEFORE the HOF lambda (the
    * EmbeddingPrep re-evaluation trap). */
  private[graft] def unit(df: DataFrame, idCol: String, vecCol: String,
      outId: String, outVec: String): DataFrame =
    df.withColumn("__v0", asDouble(col(vecCol)))
      .withColumn("__n2",
        aggregate(col("__v0"), lit(0.0d), (a, x) => a + x * x))
      .select(col(idCol).as(outId),
        transform(col("__v0"),
          x => x / sqrt(greatest(col("__n2"), lit(1e-300)))).as(outVec))

  /** PQ codes of an ARRAY<DOUBLE> vector column (the [[PqEncode]] kernel,
    * codebooks as expression state). */
  private[graft] def pqCodes(vec: Column,
      books: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(PqEncode(Bridge.expression(vec), new Mat3(books)))
  }

  /** IVF-PQ approximate top-k, the production composition (FAISS
    * `IVFx,PQy` + refine). Vectors are unit-normalized; coarse k-means
    * cells bound WHICH vectors each query scores (per-query work
    * |corpus|·nprobe/nlist); each vector is split into `m` subvectors and
    * each subvector replaced by the id of its nearest codebook centroid,
    * so a scored row COSTS `m` small ints instead of `dims` floats.
    * Scoring is asymmetric (ADC): the query stays exact, the corpus side
    * is reconstructed from codebooks inside one fused kernel, so the
    * approximate score ≈ cosine.
    *
    * THE 100 TB argument is scan compression: at m=8 over 64 float dims
    * the corpus shrinks 8× (256 B → 32 B/vector; 8 B with byte-packed
    * codes) — the embedding sweep reads codes, never the float matrix,
    * and the codebooks (m·ksub·dims/m doubles) ride the plan as
    * expression state. `nlist = 1, nprobe = 1` is flat PQ: every vector
    * sits in cell 0 and every query scores the whole corpus.
    *
    * Codebook distortion is repaired the standard way (FAISS "refine",
    * [[adcRefineTopK]]): ADC produces a SHORTLIST of k·`rerank`
    * candidates per query, and only those rows fetch their float vectors
    * for an exact-cosine re-rank. `rerank = 1` disables the refine step
    * (pure ADC ranking); recall is audited in-engine ([[recallAudit]]).
    * Both quantizers train driver-locally on one [[trainingSample]];
    * cells, codes, ADC and refine are distributed and deterministic.
    *
    * @param shortlistSink when set, the ADC shortlist (query_id, vec_id)
    *   is eagerly staged to this parquet path and the refine consumes the
    *   read-back — the DuckDB oracle then re-derives the exact-cosine
    *   re-rank over unit-normalized vectors from raw data, value-gating
    *   the refine leg (shortlist membership stays in-engine, audited by
    *   the recall twin — the same epistemic split as LSH banding). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 16, ksub: Int = 32,
      rerank: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", trainSample: Int = 10000,
      shortlistSink: Option[String] = None,
      stagingDir: Option[String] = None): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && m >= 1 && ksub >= 1,
      s"nlist=$nlist nprobe=$nprobe m=$m ksub=$ksub")
    // three consumers (training sample, encode pass, shortlist refine) —
    // the minhashPairs staging rule (persist default + its CacheManager
    // caveat; stagingDir for the durable cluster path)
    val c = Staging.stage(unit(corpus, idCol, vecCol, "vec_id", "v"),
      stagingDir, "ivfpq_vectors")
    val sample = trainingSample(c, "vec_id", "v", trainSample)
    val cents = lloyd(sample, nlist)
    val books = codebooks(sample, m, ksub)
    // one narrow pass emits (id, cell, codes) — the compressed index
    val codes = c.select(col("vec_id"), nearestCell(col("v"), cents).as("cell"),
      pqCodes(col("v"), books).as("code"))
    adcRefineTopK(codes, c, unit(queries, idCol, vecCol, "query_id", "qv"),
      cents, nprobe, books, k, rerank, shortlistSink)
  }

  /** The IVF-PQ read leg, shared by [[ivfPqTopK]] and the standing index's
    * [[graft.streaming.IngestStreams.annFromIndex]]: probe `nprobe` cells
    * per query, ADC-score the probed (vec_id, cell, code) rows into a
    * k·`rerank` shortlist (staged to `shortlistSink` and read back when
    * set, so the oracle-visible shortlist is exactly what refined), then
    * exact-cosine re-rank only the shortlisted (vec_id, v) vectors. The
    * shortlist is bounded (|queries|·k·rerank rows), so it broadcasts
    * into the vector scan and the refine never sort-merge-joins; the
    * float matrix is never re-scanned. `q` is (query_id, qv), unit
    * vectors. */
  private[graft] def adcRefineTopK(codes: DataFrame, vectors: DataFrame,
      q: DataFrame, cents: Array[Array[Double]], nprobe: Int,
      books: Array[Array[Array[Double]]], k: Int, rerank: Int,
      shortlistSink: Option[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val scored = codes.join(broadcast(probe(q, cents, nprobe)), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        Bridge.column(PqAdc(Bridge.expression(col("qv")),
          Bridge.expression(col("code")), new Mat3(books))).as("adc"))
    val shortlist0 = shortlistPerQuery(scored, "adc", k * math.max(1, rerank))
    val shortlist = shortlistSink match {
      case Some(path) =>
        shortlist0.write.mode("overwrite").parquet(path)
        codes.sparkSession.read.parquet(path)
      case None => shortlist0
    }
    val refined = vectors.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
    topKPerQuery(exactCos(refined), "cos", k)
  }

  /** Kernel: nearest codebook centroid per subvector → m code ints. */
  def pqEncodeKernel(v: org.apache.spark.sql.catalyst.util.ArrayData,
      books: Array[Array[Array[Double]]])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = books.length
    val dsub = books(0)(0).length
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val base = sub * dsub
      val book = books(sub)
      var best = 0; var bestD = Double.MaxValue; var cc = 0
      while (cc < book.length) {
        val cent = book(cc)
        var dist = 0.0d; var j = 0
        while (j < dsub) { val t = v.getDouble(base + j) - cent(j); dist += t * t; j += 1 }
        if (dist < bestD) { bestD = dist; best = cc }
        cc += 1
      }
      out(sub) = best
      sub += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Kernel: asymmetric-distance dot — exact query × reconstructed codes. */
  def pqAdcKernel(qv: org.apache.spark.sql.catalyst.util.ArrayData,
      codes: org.apache.spark.sql.catalyst.util.ArrayData,
      books: Array[Array[Array[Double]]]): Double = {
    val m = books.length
    val dsub = books(0)(0).length
    var score = 0.0d
    var sub = 0
    while (sub < m) {
      val cent = books(sub)(codes.getInt(sub))
      val base = sub * dsub
      var j = 0
      while (j < dsub) { score += qv.getDouble(base + j) * cent(j); j += 1 }
      sub += 1
    }
    score
  }
}

/** Deep-equality wrapper for a kernel parameter matrix. JVM arrays compare
  * by reference, so a case-class `Expression` holding a raw `Array[Array[
  * Double]]` never compares semantically equal to a structurally identical
  * twin — Catalyst canonicalization, subexpression elimination, and
  * exchange reuse all silently miss. Wrapping the matrix restores
  * structural `equals`/`hashCode` while the kernel still reads the raw
  * array (`a`) with zero copy. */
final class Mat2(val a: Array[Array[Double]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case m: Mat2 => java.util.Arrays.deepEquals(
      a.asInstanceOf[Array[AnyRef]], m.a.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.deepHashCode(a.asInstanceOf[Array[AnyRef]])
}

/** [[Mat2]] for rank-3 codebooks (m × ksub × dsub). */
final class Mat3(val a: Array[Array[Array[Double]]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case m: Mat3 => java.util.Arrays.deepEquals(
      a.asInstanceOf[Array[AnyRef]], m.a.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.deepHashCode(a.asInstanceOf[Array[AnyRef]])
}

/** LSH bucket id for an ARRAY<DOUBLE> vector: the plane matrix is expression
  * state (serialized once with the plan), the projection loop is a single
  * static kernel call inside whole-stage codegen — constant codegen size in
  * `dims`, unlike an unrolled per-component literal sum.
  */
case class HyperplaneSig(child: org.apache.spark.sql.catalyst.expressions.Expression,
    planes: Mat2)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sig"

  override def nullSafeEval(input: Any): Any =
    graft.operators.Similarity.hyperplaneSigKernel(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planes.a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes.a, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.operators.Similarity.hyperplaneSigKernel($c, $planesRef)")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Expression form of the IVF cell probe: centroids ride along as expression
  * state (nlist × dims doubles — serialized once with the plan, not per
  * row). Interpreted eval only (`CodegenFallback` semantics via eval): the
  * kernel itself is one tight JIT'd loop, so codegen would only inline the
  * same static call.
  */
case class NearestCells(child: org.apache.spark.sql.catalyst.expressions.Expression,
    cents: Mat2, nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  private val c2: Array[Double] = cents.a.map(c => c.map(x => x * x).sum)

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cells"

  override def nullSafeEval(input: Any): Any =
    graft.operators.Similarity.nearestCellsKernel(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cents.a, c2, nprobe)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ship the arrays into the generated class once via reference objects
    val centsRef = ctx.addReferenceObj("cents", cents.a, "double[][]")
    val c2Ref = ctx.addReferenceObj("c2", c2, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.operators.Similarity.nearestCellsKernel($c, $centsRef, $c2Ref, $nprobe)")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): NearestCells =
    copy(child = newChild)
}

/** PQ encoder: codebooks ride as expression state (m × ksub × dims/m
  * doubles, serialized once with the plan); per row one fused
  * nearest-centroid loop per subvector inside whole-stage codegen. */
case class PqEncode(child: org.apache.spark.sql.catalyst.expressions.Expression,
    books: Mat3)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any =
    graft.operators.Similarity.pqEncodeKernel(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], books.a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books.a, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.operators.Similarity.pqEncodeKernel($c, $booksRef)")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): PqEncode =
    copy(child = newChild)
}

/** PQ asymmetric scorer: exact query vector × codebook-reconstructed
  * corpus codes, one fused loop, codebooks as expression state. */
case class PqAdc(left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression,
    books: Mat3)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.operators.Similarity.pqAdcKernel(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], books.a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books.a, "double[][][]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.operators.Similarity.pqAdcKernel($a, $b, $booksRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}
