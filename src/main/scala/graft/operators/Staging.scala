package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared materialization point for consumer-diamond staging relations
  * and for the per-round lineage cut of the iterative operators.
  *
  * [[stage]]: with `stagingDir` set, the relation is written EAGERLY (at
  * call time, not first action) as an explicit parquet table under a
  * unique subdirectory of `stagingDir` and read back — the 100 TB shape
  * (SCALE.md §Cross-cutting): every consumer re-reads from disk, nothing
  * pins the SQL CacheManager for the session lifetime, and the staged
  * table doubles as a restart point. Without it, executor-local
  * `persist(MEMORY_AND_DISK)` — the small-job default, whose cache is
  * pinned by the CacheManager until `spark.catalog.clearCache()` (the
  * Spark ML handlePersistence caveat, documented at
  * [[Dedup.minhashPairsFromShingles]]).
  *
  * [[Rounds]]: the iterative operators ([[Graph]], [[Bpe]],
  * [[WordPiece]]) cut the lineage that grows with every round under ONE
  * eager policy — each round runs a job when it is built, staged
  * (`stagingDir`) or `localCheckpoint()` (no `stagingDir`), so no lazy
  * checkpoint chain is left for a later action to complete round by
  * round.
  *
  * Subdirectory names are unique per invocation
  * (`name_p<pid>_<jvmTag>_<n>`: process id, a random per-JVM tag, and a
  * process-wide counter), so concurrent pipelines — across JVMs as well
  * as within one — or repeated runs of one operator may share a
  * `stagingDir` without overwriting each other's staged relations
  * mid-read. The random tag is what carries the cross-JVM claim: pids
  * recycle, and containerized JVMs often ALL get pid 1, so sequential
  * re-runs against an undeleted dir cannot ride the pid alone. The cost
  * of that safety: staged tables accumulate; `stagingDir` is job-scoped
  * scratch space and the CALLER deletes it once every returned DataFrame
  * has been fully consumed (the results lazily re-read their staged
  * paths on every action) — or scopes the whole job in [[withDir]],
  * which does the deletion mechanically.
  *
  * Either path also FREEZES the relation's content and partitioning, so
  * diamond consumers provably read the same data — which is a correctness
  * requirement for operators whose staging pass is nondeterministic at
  * the partition level (e.g. [[Sampling.scoreStrata]]'s sampled range
  * exchange).
  */
object Staging {
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  // one random token per JVM: see the cross-JVM uniqueness note above
  private val jvmTag = java.lang.Long.toUnsignedString(
    new java.security.SecureRandom().nextLong(), 36)

  def stage(df: DataFrame, stagingDir: Option[String],
      name: String): DataFrame = stagingDir match {
    case Some(dir) => stageAt(df, dir, name)._1
    case None =>
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** A zero-materialization PLAN barrier: stops predicate pushdown and
    * projection collapse at this point without staging anything —
    * implemented as a no-op `observe` (a `CollectMetrics` node, public
    * Dataset API). Catalyst must not move predicates across a metrics
    * collection point (the metric would change), so filters above stop
    * HERE instead of substituting alias definitions all the way to the
    * scan.
    *
    * Why this exists: pushing a filter through a projection SUBSTITUTES
    * each referenced alias's defining expression into the predicate,
    * with no cost guard. A predicate over a column derived through a
    * chain of multi-reference aliases (e.g. RFC 3986 resolution, whose
    * CaseWhen references its base ~6x, over an effective-base that
    * references the page URL ~5x, over regex pulls...) therefore grows
    * MULTIPLICATIVELY as it descends — measured 183,459 expression
    * nodes / 33 MB of generated Java on [[PageMeta.metaRefresh]]'s
    * pre-fix plan, past janino's 64 KB method limit and into silent
    * whole-row interpreted fallback (a 20x slowdown there). Operators
    * whose extraction feeds an `explode` get this stop for free (a
    * `Generate` also blocks pushdown — [[Links.outlinks]]' shape); pure
    * projection chains place one barrier between extraction and
    * filtered resolution instead.
    *
    * Cost: one `count(1)` accumulator update per row, no extra pass, no
    * exchange, no materialization; rows/schema pass through unchanged.
    * Metric names are uniqued per call so one plan may compose several
    * barriered operators. */
  def planBarrier(df: DataFrame): DataFrame =
    df.observe(s"__graft_barrier_${counter.incrementAndGet()}",
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))

  /** Parallelism floor for a relation feeding compute-heavy per-row
    * work or an output-exploding join (guide §2: derive partitioning
    * from input size/cores, never a constant). File-split parallelism
    * follows BYTES (`maxPartitionBytes`), not work: a 200 KB fixture
    * file is one scan split, so a regex demux chain or an IVF scoring
    * join downstream runs in ONE task regardless of cores (measured:
    * q_hard_negatives scored every candidate pair in a single 3.1 s
    * task at 32 cores; q_crawl_pipeline parsed+langid'd its whole WET
    * corpus twice in two 1.7 s single-task jobs). When the plan's
    * partitioning is below the session's default parallelism,
    * round-robin repartition up to it; at scale the scan already
    * carries >= cores splits and NO exchange is inserted — the floor
    * is self-retiring. Row-preserving; callers must be
    * partitioning-insensitive (all graft operators are: outputs are
    * ordered or aggregate-final). */
  def spread(df: DataFrame): DataFrame = {
    val floor = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < floor) df.repartition(floor) else df
  }

  /** Like [[stage]] with a directory, but also returns the staged path —
    * for callers that [[drop]] the table themselves ([[Rounds]] retires
    * each round's predecessor this way). */
  def stageAt(df: DataFrame, dir: String, name: String): (DataFrame, String) = {
    val path = s"$dir/${name}_p${ProcessHandle.current().pid()}_" +
      s"${jvmTag}_${counter.incrementAndGet()}"
    // error-on-exists: the name is unique by construction, so an existing
    // path means a uniqueness bug — fail loudly, never silently overwrite
    df.write.mode("error").parquet(path)
    (df.sparkSession.read.parquet(path), path)
  }

  /** Run `body` against a private scratch scope under `dir` and delete
    * the scope — and with it every relation staged inside it — when the
    * block exits (normally or not). `body` receives the scope path; pass
    * it as the operators' `stagingDir` and every [[stageAt]] they issue
    * lands under the scope by construction, so "track the paths created
    * in scope" is directory containment, with no registry to race:
    * concurrent and nested `withDir` calls each get their own unique
    * scope subdirectory, even against one shared `dir`.
    *
    * This is the mechanical form of the caller-deletes contract: results
    * computed inside MUST be forced (collected, or written outside the
    * scope) before the block returns — staged DataFrames lazily re-read
    * their staged paths, which are gone afterwards.
    *
    * {{{
    * val survivors = Staging.withDir(spark, "s3://bucket/scratch") { scope =>
    *   Dedup.dedupCorpusCC(docs, stagingDir = Some(scope))
    *     .write.parquet("s3://bucket/out/survivors")   // forced in scope
    * }
    * }}}
    */
  def withDir[T](spark: SparkSession, dir: String)(body: String => T): T = {
    val scope = s"$dir/scope_p${ProcessHandle.current().pid()}_" +
      s"${jvmTag}_${counter.incrementAndGet()}"
    try body(scope) finally drop(spark, scope)
  }

  /** Delete a path returned by [[stageAt]] once no live DataFrame reads
    * it. Works on any Hadoop filesystem (the staging dir is HDFS/S3A at
    * cluster scale, local disk in tests). */
  def drop(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  /** The per-round lineage cut of one iterated relation: call it once
    * per round (and on the round-0 input). Each call runs the job that
    * materializes `df` before it returns — an `Observation` on `df` fills
    * on that job, on either leg:
    *  - with `stagingDir`, `df` is written by [[stageAt]] and read back,
    *    then the table this instance staged on its previous call is
    *    dropped: nothing reads it once the new one is on disk. Peak
    *    footprint is two tables; the last one backs the caller's result
    *    until [[retire]] or the caller's scratch delete;
    *  - without, `df.localCheckpoint()` — executor-local blocks, not
    *    tolerant of executor loss, fine for a single-node or short job. */
  private[graft] final class Rounds(stagingDir: Option[String], name: String) {
    private var last: Option[(SparkSession, String)] = None

    def apply(df: DataFrame): DataFrame = stagingDir match {
      case Some(dir) =>
        val (staged, path) = stageAt(df, dir, name)
        retire()
        last = Some((df.sparkSession, path))
        staged
      case None => df.localCheckpoint()
    }

    /** Drop the last table this instance staged, if any. */
    def retire(): Unit = {
      last.foreach { case (spark, path) => drop(spark, path) }
      last = None
    }
  }
}
