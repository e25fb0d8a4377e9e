package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed connected components over an undirected edge set — the
  * principled clustering step for transitive near-duplicate groups (the
  * alternative to `Dedup.dedupCorpus`'s one-pass pairwise survivor pick,
  * whose drift from true components is documented at `Dedup.scala:55`).
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", ACM SoCC 2014). Converges in O(log² n) rounds on any
  * graph; every round is a constant number of `groupBy(min)` + equi-join
  * shuffles over the edge set, all map-side-combinable.
  *
  * Scale design (the 100 TB story):
  *  - a star center's neighborhood is NEVER assembled in one task — both
  *    half-rounds need only `min` over the neighborhood, so the partial
  *    aggregate ships one value per (partition, node), and the relabel is
  *    an equi-join against that 2-column min relation (a `collect_list`
  *    formulation would buffer the hottest node's entire neighborhood —
  *    exactly the straggler `Dedup.dropOversized` exists to prevent);
  *  - edge rows are two longs; shuffle volume per round is O(|E|) narrow
  *    rows and the edge set shrinks monotonically toward one row per
  *    non-root node;
  *  - the driver coordinates rounds (an inherently iterative algorithm)
  *    but touches only a (count, checksum) pair per round — no edge data;
  *  - each round truncates the join lineage that would otherwise grow
  *    exponentially and re-execute from the scan on every action (the
  *    GraphX/ML iteration pattern). With no `stagingDir`, truncation is
  *    `localCheckpoint` — executor-memory/disk-resident, NOT tolerant of
  *    executor loss, fine for a single-node or short job. At cluster
  *    scale pass `stagingDir`: each round's edge set becomes a durable
  *    parquet staging table ([[Staging]]) on the cluster filesystem, a
  *    lost executor merely re-reads its split, and the previous round's
  *    table is deleted as soon as the next is on disk — peak staging
  *    footprint is two (shrinking) edge sets plus the canonical input.
  */
object Graph {

  /** Hard ceiling on the effective [[connectedComponents]]
    * `smallGraphThreshold`: even a caller asking for a bigger fast-path
    * window never converts the distributed convergence into an unbounded
    * driver collect. 1M canonical edge rows (two ids each) is tens of MB
    * on the driver — the same bounded-collect class as PQ codebook
    * training, and the largest graph where one local union-find still
    * beats ~log² rounds of Spark job scheduling. */
  val MaxSmallGraphThreshold: Long = 1000000L

  /** Size-derived partition count for the narrow per-round tables the
    * iteratives rewrite and re-read (rank/label/degree/edge rows,
    * ~16-32 B each): one partition per ~4M rows. The per-round tables
    * otherwise inherit `spark.sql.shuffle.partitions` — and cached/
    * checkpointed relations are NOT AQE-coalescible on the read side —
    * so a kilobyte rank table scheduled one task per shuffle partition
    * per stage per round (measured at 32 cores: q_pagerank ran 48 jobs
    * of 32-100 tasks each over a 1600-row table; pure scheduling
    * overhead). Guide §2: derive partitioning from input size, never a
    * constant — 1e9-node rank tables still spread over ~250
    * partitions. */
  private[graft] def roundParts(rows: Long): Int =
    math.max(1, math.min(65536, ((rows - 1) / 4000000L + 1).toInt))

  /** Id types whose DRIVER ordering provably matches Spark's `min`/
    * `least` ordering — the precondition for the small-graph fast path,
    * whose labels must equal the iterative path's min-reachable-id labels
    * value-for-value. Integral types order identically everywhere;
    * strings are compared as UTF-8 bytes ([[driverCC]] uses
    * [[UTF8String]]) because Java's `String.compareTo` is UTF-16
    * code-unit order, which diverges from Spark's UTF-8 byte order for
    * supplementary characters (locked by a GraphSpec vector). Anything
    * else (decimal, date, binary, …) falls through to the iterative
    * path rather than risk a label-value mismatch. */
  private[graft] def driverOrderable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Driver-local connected components over an already-collected
    * canonical edge set (≤ [[MaxSmallGraphThreshold]] rows by
    * construction): union-find with path halving, then one pass labeling
    * every node with the MINIMUM id reachable from it — the exact output
    * contract of the iterative path (and of [[incrementalCC]]'s merge
    * algebra, which depends on label VALUES being min node ids, not just
    * on partition structure). Returns a local relation `(id, component)`
    * with the same column names/types as the iterative path; self-loop
    * rows label their node as its own singleton, same as there. */
  private[graft] def driverCC(spark: SparkSession, edges: Array[Row],
      idType: DataType): DataFrame = {
    val ord: Ordering[Any] = idType match {
      case StringType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          UTF8String.fromString(a.asInstanceOf[String])
            .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
      }
      case _ => new Ordering[Any] {
        private def asLong(x: Any): Long = x match {
          case b: Byte  => b.toLong
          case s: Short => s.toLong
          case i: Int   => i.toLong
          case l: Long  => l
          case other => throw new IllegalArgumentException(
            s"driverCC: unexpected id value class ${other.getClass}")
        }
        def compare(a: Any, b: Any): Int =
          java.lang.Long.compare(asLong(a), asLong(b))
      }
    }

    // intern ids to dense indices
    val index = new java.util.HashMap[Any, Integer](edges.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Any](edges.length)
    def intern(x: Any): Int = {
      val got = index.get(x)
      if (got != null) got.intValue
      else { val i = ids.length; index.put(x, i); ids += x; i }
    }
    val us = new Array[Int](edges.length)
    val vs = new Array[Int](edges.length)
    var k = 0
    while (k < edges.length) {
      us(k) = intern(edges(k).get(0)); vs(k) = intern(edges(k).get(1)); k += 1
    }

    val n = ids.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    k = 0
    while (k < edges.length) {
      val (ra, rb) = (find(us(k)), find(vs(k)))
      if (ra != rb) parent(ra) = rb
      k += 1
    }

    // min reachable id per root, then label every node by its root's min
    val minOf = new Array[Any](n)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (minOf(r) == null || ord.lt(ids(i), minOf(r))) minOf(r) = ids(i)
      i += 1
    }
    val out = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) { out.add(Row(ids(i), minOf(find(i)))); i += 1 }
    spark.createDataFrame(out, StructType(Seq(
      StructField("id", idType), StructField("component", idType))))
  }

  /** Component label (= minimum reachable id) for every node that appears
    * in `edges`. Output: (id, component); nodes absent from the edge set
    * are the caller's to union in as their own singleton components.
    *
    * @param stagingDir when set, per-round lineage truncation is a durable
    *   parquet staging table under this directory instead of
    *   `localCheckpoint` — the fault-tolerant cluster path (see class
    *   doc). Job-scoped scratch: intermediate rounds are deleted as the
    *   algorithm advances, but the final round and the canonical edge set
    *   back the RETURNED DataFrame — delete the directory only after the
    *   result has been fully consumed.
    * @throws IllegalStateException if `maxIter` rounds don't converge —
    *   the O(log² n) bound makes the default unreachable for any real
    *   graph, so non-convergence means the input is pathological.
    * @param smallGraphThreshold when the CANONICAL edge set (distinct,
    *   self-loops included) has at most this many rows, skip the
    *   iterative convergence entirely: collect the edges and run one
    *   driver-local union-find, then hand the labels back as a local
    *   relation. Same output contract (min-reachable-id labels,
    *   property-tested ≡ the iterative path in GraphSpec). Why: every
    *   large-star/small-star round is a fixed number of Spark jobs, and
    *   on a tiny graph — the common case for [[incrementalCC]]'s
    *   contracted delta-label graph in a daily-ingest pipeline — the
    *   ~log² rounds are almost pure job-scheduling overhead. 100k edge
    *   rows is ≲ a few MB on the driver, the same bounded-collect class
    *   as PQ codebook training. The count that takes the decision reads
    *   the already-materialized canonical set (one cheap metadata-ish
    *   scan), never the caller's mining lineage. Set 0 to force the
    *   iterative path (specs do, to pin its semantics independently;
    *   the catalog keeps `q_cc_components_staged` pinned there so the
    *   distributed convergence stays under the oracle gate forever).
    *   Capped at [[MaxSmallGraphThreshold]] regardless of the argument —
    *   the fast path can never become an unbounded driver collect. */
  def connectedComponents(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", maxIter: Int = 50,
      stagingDir: Option[String] = None,
      smallGraphThreshold: Long = 100000L): DataFrame = {
    val spark = edges.sparkSession

    // canonical orientation big → small. Truncation happens BEFORE the
    // self-loop filter so the final node extraction below reads it too:
    // `edges` is typically an expensive mining pipeline (minhash/embedding
    // pairs), and deriving nodes from the raw input would re-execute that
    // whole pipeline a second time — at 100 TB, a second corpus pass for a
    // projection (observed as a full re-mine in the audited plan).
    val canonRaw = edges.select(
      greatest(col(srcCol), col(dstCol)).as("u"),
      least(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    val (canon, canonPath) = stagingDir match {
      case Some(dir) =>
        val (df, path) = Staging.stageAt(canonRaw, dir, "cc_canon")
        (df, Some(path))
      case None => (canonRaw.localCheckpoint(), None)
    }

    // small-graph fast path: the canonical set is materialized, so this
    // count is one cheap narrow scan — no re-execution of the caller's
    // mining lineage — and on a hit the whole multi-round convergence
    // below collapses into one driver-local union-find
    val idType = canon.schema("u").dataType
    val effThreshold = math.min(smallGraphThreshold, MaxSmallGraphThreshold)
    val m = canon.count()
    if (effThreshold > 0 && driverOrderable(idType) && m <= effThreshold) {
      val labels = driverCC(spark, canon.collect(), idType)
      // nothing references the staged canonical set anymore (the labels
      // are a local relation) — retire it now instead of at caller-delete
      canonPath.foreach(Staging.drop(spark, _))
      return labels
    }

    // size-derived narrow-table partitioning — see [[pageRank]] (r21:
    // the same roundParts treatment the other iteratives got)
    val rp = roundParts(m)
    var e = canon.coalesce(rp).filter(col("u") =!= col("v"))
    // staged path of the PREVIOUS round — safe to delete the moment the
    // current round's table is on disk (nothing reads it after that)
    var prevRoundPath: Option[String] = None

    // (count, xor-fold of row hashes): an order-independent set signature
    // that can't overflow under ANSI arithmetic (a sum of longs can).
    // Convergence is declared on signature equality alone: two DISTINCT
    // edge sets of equal size colliding on the xor-fold of 64-bit hashes
    // is a ~2^-64 event per round — an `except`-based exact comparison
    // (a full shuffle job per converged round, measured as the single
    // largest slice of q_dedup_corpus_cc wall time) buys nothing real.
    def signature(d: DataFrame): (Any, Any) = {
      val r = d.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.get(0), r.get(1))
    }

    var sig = signature(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: around every node u (over the bidirected view), attach
      // each strictly-larger neighbor to m = min(Γ(u) ∪ {u}). Emitted
      // (v, m) has v > u ≥ m, preserving the big → small orientation.
      // The explicit repartition on u is read by BOTH consumers (the min
      // aggregate and the relabel join) with identical projections, so the
      // half-round pays ONE narrow exchange, not two (same shared-exchange
      // shape as minhashPairs' banding).
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val minsL = bidir.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      // repartition BEFORE distinct (r21): HashPartitioning(u) satisfies
      // the (u, v) dedup's clustering requirement (same u ⇒ co-located),
      // so the distinct aggregate reuses this exchange instead of adding
      // its own on (u, v) — one exchange per round removed, and the
      // small-star agg + join below read the same one. Skew bound
      // unchanged: every per-u aggregate in the loop already clusters a
      // star's edges at its center.
      val large = bidir.join(minsL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(col("u")) // ditto for the small-star half-round
        .distinct()

      // small-star: edges already point big → small, so Γ(u) here is the
      // smaller-side neighborhood; attach every neighbor (and u itself) to
      // its minimum. v == m emits the center edge (u, m), the rest (v, m).
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val smallRaw = large.join(minsS, "u")
        .select(
          when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
          col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val (small, nextSig) = stagingDir match {
        case Some(dir) =>
          // durable round: the parquet write IS the round's job, and the
          // convergence signature rides THAT job as an Observation (a
          // CollectMetrics node over the written rows) instead of a
          // separate post-write aggregate — one job and one scan of the
          // staged table less per round (r21; same (count, xor-fold)
          // values by construction)
          val obs = org.apache.spark.sql.Observation()
          val observed = smallRaw.observe(obs,
            count(lit(1)).as("n"), expr("bit_xor(xxhash64(u, v))").as("x"))
          val (staged, path) = Staging.stageAt(observed, dir, "cc_round")
          prevRoundPath.foreach(Staging.drop(spark, _))
          prevRoundPath = Some(path)
          val om = obs.get
          (staged, (om("n"), om("x")))
        case None =>
          // lazy: the signature action right below materializes the
          // checkpoint — eager would run a separate job per round first
          val cp = smallRaw.localCheckpoint(eager = false)
          (cp, signature(cp))
      }
      converged = nextSig == sig
      sig = nextSig
      e = small
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")

    // fixpoint = disjoint stars: every non-root points at its root.
    // Nodes come from the checkpointed canonical set (self-loops included —
    // a self-loop-only node is its own singleton component), NOT the input.
    val nodes = canon.select(col("u").as("id"))
      .union(canon.select(col("v").as("id"))).distinct()
    nodes.join(e.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** Incremental connected components: fold a DELTA edge set into the
    * label table of a previous [[connectedComponents]] (or
    * [[incrementalCC]]) run — the daily-ingest path, where re-converging
    * over the full corpus graph every batch would be O(corpus · log²)
    * for an O(delta)-sized change.
    *
    * Correctness: a previous run's labels are min-reachable-ids, so
    * CONTRACTING each old component to its label preserves connectivity
    * exactly; the delta edges, mapped endpoint → label (nodes never seen
    * before label themselves), form a label-graph of size O(delta) whose
    * components tell which old components the batch merges. Because old
    * labels are the min node id of their component and fresh labels are
    * the node ids themselves, the min label of a merged group IS the min
    * node id of the merged component — the incremental result equals a
    * full recompute over the unioned edge set, label values included
    * (property-tested in GraphSpec).
    *
    * Scale: the iterative convergence runs ONLY on the contracted
    * delta-label graph (O(delta) narrow rows, the usual log rounds); the
    * corpus-sized label table is never shuffled and never iterated — it
    * is STREAMED exactly twice, both times past a broadcast of an
    * O(delta)-sized relation: once to look up the delta endpoints' old
    * labels (broadcast semi-join probe) and once for the final relabel
    * (broadcast left join against the changed-label remap). Output is the
    * updated label table — O(corpus) rows, as any relabel must be, but
    * produced by one narrow map-side pass.
    *
    * Contract: `prevLabels` holds (id, component) for every node of the
    * PREVIOUS edge set (nodes outside it are implicitly their own
    * singleton components, same convention as [[connectedComponents]]);
    * labels must be min-reachable-ids as produced by this object — a
    * foreign labeling with non-min representatives would still merge
    * correctly but drift from full-recompute label VALUES.
    *
    * @param stagingDir threaded to the inner convergence AND used to
    *   stage the (tiny) endpoint-label lookup, whose lineage contains the
    *   caller's pair-mining pipeline — without truncation each of its
    *   consumers would re-mine the delta (the [[Staging]] diamond rule).
    */
  /** Exact-arithmetic PageRank over a directed edge set — fixed-round
    * power iteration with the classic damping/dangling-mass treatment
    * (Page, Brin, Motwani, Winograd 1999; the MapReduce formulation of
    * Malewicz et al.'s Pregel paper, SIGMOD 2010), expressed entirely in
    * scaled INTEGER arithmetic so the result is bit-portable across
    * engines (the same reproducibility contract as
    * [[Sampling.hexUniform]]'s md5 rule): a float formulation's
    * per-vertex Σ contributions would be summation-order-dependent —
    * different between two Spark runs, let alone Spark vs an external
    * auditor.
    *
    * Contract (every step exactly defined, no floats anywhere):
    *  - ranks live in units of `scale` (default 10¹²): `pr₀ = scale div N`
    *  - per round, with `out(u)` = out-degree over the DISTINCT edge set:
    *      contrib(u→v) = pr(u) div out(u)
    *      dangShare    = (Σ_{out(u)=0} pr(u)) div N
    *      pr′(v) = (15 · (scale div N)) div 100
    *             + (85 · (Σ_{u→v} contrib + dangShare)) div 100
    *    i.e. damping d = 0.85 as the exact rational 85/100. Integral
    *    division discards sub-unit remainders, so total mass decays by
    *    < N units per round — at the default scale that is relative
    *    error < N·10⁻¹² per round, irrelevant for ranking and a price
    *    happily paid for cross-engine exactness (the float-vs-integer
    *    drift bound is property-tested in GraphSpec).
    *
    * Scale design (the 100 TB story): the classic Pregel shape —
    *  - `rounds` is FIXED (default 5), not convergence-driven: the cost
    *    is exactly `rounds` × (one broadcast-or-shuffle join of the
    *    O(N)-row rank table against the edge set + one map-side-combined
    *    sum per destination). No driver-side data beyond Staging paths;
    *  - the canonical edge set and out-degrees are staged ONCE and
    *    re-read every round (they never change); only the narrow two-
    *    column rank table is rewritten per round, truncating the join
    *    lineage that would otherwise re-execute from the scan each round
    *    (same rationale as [[connectedComponents]]'s per-round staging);
    *  - the dangling-mass Σ rides the SAME plan as the contribution sum
    *    via a 1-row cross-join broadcast (no extra driver action per
    *    round);
    *  - `scale` must exceed the node count or every rank truncates to 0
    *    (guarded); at web scale pass a larger scale (units are arbitrary).
    *
    * Output: `(id, pr_scaled: long)` — callers wanting a probability
    * divide by `scale` themselves (kept integral here so the catalog
    * face hash-gates exactly).
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      rounds: Int = 5, scale: Long = 1000000000000L,
      stagingDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession

    // canonical distinct edge set: out-degree and contributions must
    // count each (u, v) once. Staged — read every round by two consumers.
    val canonRaw = edges.select(col(srcCol).as("u"), col(dstCol).as("v")).distinct()
    val canon0 = Staging.stage(canonRaw, stagingDir, "pr_edges")
    // size-derived narrow-table partitioning (roundParts): the staged
    // relations and every per-round rank table are coalesced to match
    // their row counts — the counts are one cheap narrow job each
    // against already-materialized data, paid once, and every one of
    // the ~rounds×6 downstream jobs stops scheduling
    // shuffle-partition-many tasks over kilobyte tables
    val m = canon0.count()
    val canon = canon0.coalesce(roundParts(m))
    // fused node + out-degree derivation (r21, guide §2.4): the node
    // distinct and the out-degree aggregate previously keyed the same
    // way in two separate staged passes (two exchanges, two writes) —
    // one union-aggregate produces (id, od) for EVERY endpoint in one
    // exchange, with od = 0 marking the dangling set (exactly the rows
    // the old left join surfaced as od IS NULL)
    val nodesOd0 = Staging.stage(
      canon.select(col("u").as("id"), lit(1L).as("c"))
        .union(canon.select(col("v").as("id"), lit(0L).as("c")))
        .groupBy(col("id")).agg(sum(col("c")).as("od")),
      stagingDir, "pr_nodes")
    val n = nodesOd0.count()
    require(n > 0, "pageRank: empty graph")
    require(scale >= n, s"pageRank: scale=$scale must be >= node count $n")
    val rp = roundParts(n)
    val nodesOd = nodesOd0.coalesce(rp)

    val base = (15L * (scale / n)) / 100L
    // the rank table CARRIES od (r21): the old shape re-joined pr
    // against the static out-degree table every round (one join + its
    // AQE stage per round for a column that never changes); carrying
    // the 8-byte od through the round rewrite makes the dangling
    // aggregate a plain filter over pr and drops the per-round join
    var pr = nodesOd.select(col("id"), col("od"), lit(scale / n).as("pr"))
    var prevRoundPath: Option[String] = None
    var round = 0
    while (round < rounds) {
      // dangling mass: one 1-row aggregate, broadcast via cross join —
      // stays inside the round's single job, no separate driver action.
      // (r21 A/B: baking it in as a driver-collected literal instead
      // was ~25% SLOWER — the per-round blocking head() re-materializes
      // the rank table outside the round's job and serializes the
      // rounds harder than the async broadcast future does.)
      val dang = pr.filter(col("od") === 0L)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dang"))
      // contributions: edges join ranks+degrees on the source, then one
      // map-side-combined integer sum per destination
      val contrib = canon
        .join(pr.filter(col("od") > 0L)
          .select(col("id").as("u"), col("pr"), col("od")), Seq("u"))
        .groupBy(col("v").as("id"))
        .agg(sum(expr("pr div od")).as("insum"))
      val nextRaw = nodesOd
        .join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"), col("od"),
          (lit(base) + expr(s"(85 * (coalesce(insum, 0L) + (dang div ${n}L))) div 100"))
            .as("pr"))
      pr = stagingDir match {
        case Some(dir) =>
          val (staged, path) = Staging.stageAt(nextRaw.coalesce(rp), dir, "pr_round")
          prevRoundPath.foreach(Staging.drop(spark, _))
          prevRoundPath = Some(path)
          staged
        // lazy: there is no per-round action (unlike CC's convergence
        // signature), so eager would schedule one materialization job per
        // round — the caller's single final action materializes the whole
        // checkpoint chain round by round instead
        case None => nextRaw.coalesce(rp).localCheckpoint(eager = false)
      }
      round += 1
    }
    pr.select(col("id"), col("pr").as("pr_scaled"))
  }

  /** PERSONALIZED PageRank — the restart distribution concentrated on a
    * seed set instead of uniform (the influence/relevance primitive:
    * "how close is every node to THESE entities"; data-selection and
    * recommendation both read it). Same fixed-round scaled-integer
    * recurrence as [[pageRank]] — the 15% restart mass and the dangling
    * mass are paid to the SEEDS only (split evenly, integer division),
    * every other node receives pure link mass:
    *   pr_{i+1}(x) = [x ∈ S]·(15·(scale/|S|))/100
    *                 + (85·(Σ_in pr_i/od + [x ∈ S]·dang/|S|))/100
    * starting from pr_0 = scale/|S| on seeds, 0 elsewhere. Seeds outside
    * the graph are dropped (semi-join); the surviving set must be
    * non-empty. Seed sets are query-sized by contract (a handful of
    * entities), so the seed flag broadcasts. All integer — the oracle
    * unrolls the identical recurrence with a seed CASE per round. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst", rounds: Int = 5,
      scale: Long = 1000000000000L,
      stagingDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    val canon0 = Staging.stage(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v")).distinct(),
      stagingDir, "ppr_edges")
    // size-derived narrow-table partitioning — see [[pageRank]]
    val canon = canon0.coalesce(roundParts(canon0.count()))
    // fused node + out-degree derivation and od carried in the rank
    // table — see [[pageRank]] (r21)
    val nodesOd0 = Staging.stage(
      canon.select(col("u").as("id"), lit(1L).as("c"))
        .union(canon.select(col("v").as("id"), lit(0L).as("c")))
        .groupBy(col("id")).agg(sum(col("c")).as("od")),
      stagingDir, "ppr_nodes")
    val rp = roundParts(nodesOd0.count())
    val nodesOd = nodesOd0.coalesce(rp)
    val seedIds = Staging.stage(
      seeds.select(col(seeds.columns.head).as("id")).distinct()
        .join(nodesOd.select(col("id")), Seq("id"), "left_semi"),
      stagingDir, "ppr_seeds")
    val nS = seedIds.count()
    require(nS > 0, "personalizedPageRank: no seed appears in the graph")
    require(scale >= nS, s"scale=$scale must be >= seed count $nS")
    val seedFlag = seedIds.select(col("id"), lit(true).as("__seed"))
    // the seed flag rides the rank table too (one broadcast join at
    // setup instead of one per round); null → false is exactly the old
    // per-round left join's `when(__seed, ...)` null path
    val nodesOdSeed = nodesOd.join(broadcast(seedFlag), Seq("id"), "left")
      .select(col("id"), col("od"),
        coalesce(col("__seed"), lit(false)).as("__seed"))
    val base = (15L * (scale / nS)) / 100L
    var pr = nodesOdSeed.select(col("id"), col("od"), col("__seed"),
      when(col("__seed"), lit(scale / nS)).otherwise(lit(0L)).as("pr"))
    var prevRoundPath: Option[String] = None
    var round = 0
    while (round < rounds) {
      val dang = pr.filter(col("od") === 0L)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dang"))
      val contrib = canon
        .join(pr.filter(col("od") > 0L)
          .select(col("id").as("u"), col("pr"), col("od")), Seq("u"))
        .groupBy(col("v").as("id"))
        .agg(sum(expr("pr div od")).as("insum"))
      val nextRaw = nodesOdSeed
        .join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .withColumn("__redis", coalesce(col("insum"), lit(0L)) +
          when(col("__seed"), expr(s"dang div ${nS}L")).otherwise(lit(0L)))
        .select(col("id"), col("od"), col("__seed"),
          (when(col("__seed"), lit(base)).otherwise(lit(0L)) +
            expr("(85 * __redis) div 100")).as("pr"))
      pr = stagingDir match {
        case Some(dir) =>
          val (staged, path) = Staging.stageAt(nextRaw.coalesce(rp), dir, "ppr_round")
          prevRoundPath.foreach(Staging.drop(spark, _))
          prevRoundPath = Some(path)
          staged
        case None => nextRaw.coalesce(rp).localCheckpoint(eager = false)
      }
      round += 1
    }
    pr.select(col("id"), col("pr").as("ppr_scaled"))
  }

  /** Exact global triangle count over an undirected edge set — the
    * classic degree-ordered orientation algorithm (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last
    * Reducer", WWW 2011): orient every edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges only
    * at each edge's SOURCE, and close them against the oriented edge
    * set. Each triangle is counted exactly once (at its minimum-order
    * vertex).
    *
    * Why the orientation is the whole scale story: wedge count at a
    * vertex is quadratic in its out-degree, and orienting by total
    * order (deg, id) caps every out-degree at O(√|E|) — a star graph's
    * hub emits ZERO wedges (all its edges point in), where the naive
    * per-vertex enumeration would emit deg² — so the wedge relation is
    * O(|E|^1.5) worst-case instead of Σdeg². Three narrow shuffles
    * total: degree count, wedge self-join on the source, closing
    * equi-join on (b, c).
    *
    * Self-loops and duplicate/reversed edges are canonicalized away.
    * Output: a single row `(n_triangles: long)`. */
  def triangles(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame = {
    val canon = edges.select(
      least(col(srcCol), col(dstCol)).as("u"),
      greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = canon.select(col("u").as("x"))
      .union(canon.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    // orient by (deg, id) total order: a → b iff (d_a, a) < (d_b, b)
    val withDeg = canon
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // keep the destination's degree: wedge pairs must be ordered by the
    // SAME (deg, id) total order as the orientation, so the closing edge
    // (if present) is oriented exactly min→max and ONE semi-join finds it
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"),
      when(uFirst, col("dv")).otherwise(col("du")).as("db"))
    val o1 = oriented.select(col("a"), col("b"), col("db"))
    val o2 = oriented.select(col("a").as("a2"), col("b").as("c"), col("db").as("dc"))
    val wedges = o1.join(o2, col("a") === col("a2") &&
        (col("db") < col("dc") ||
          (col("db") === col("dc") && col("b") < col("c"))))
      .select(col("b"), col("c"))
    wedges.join(oriented.select(col("a").as("b"), col("b").as("c")),
        Seq("b", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-round k-core PEEL over an undirected edge set — `rounds`
    * synchronized iterations of the classic peeling step (Seidman,
    * "Network structure and minimum degree", 1983; the Pregel/Batagelj-
    * Zaveršnik bulk-synchronous form): starting from all nodes alive,
    * each round computes every alive node's degree within the alive
    * subgraph and removes nodes with degree < k. After enough rounds the
    * alive set IS the k-core (the maximal subgraph with min degree ≥ k);
    * like [[pageRank]], `rounds` is a FIXED budget, not a convergence
    * loop — the operator's contract is exactly "R peel rounds", which is
    * what makes it hash-gateable (the oracle unrolls the identical set
    * algebra one CTE per round), and the returned `converged` flag says
    * whether round R removed anything (false ⇒ the result is already
    * the true k-core; peeling is monotone so extra rounds are no-ops).
    *
    * Scale (the [[pageRank]] skeleton): the canonical edge set is staged
    * once; per round, two semi-joins of the edges against the alive id
    * set (narrow ids — broadcast-sized long before the edges are) + one
    * map-side-combined degree count; only the narrow (id, deg) alive
    * table is rewritten per round, truncating lineage via per-round
    * staging (durable parquet with `stagingDir`, lazy localCheckpoint
    * otherwise). Worst-case rounds to full convergence is the
    * degeneracy-ordering depth; in practice a handful suffice — and the
    * flag makes "did it?" a queryable fact rather than a hope.
    *
    * Exact recurrence (what the oracle unrolls): deg₀ = full degree in
    * the canonical edge set; aliveᵢ = {v : degᵢ(v) ≥ k};
    * degᵢ₊₁ = degree within the aliveᵢ-induced subgraph. Output after R
    * rounds: `(id, deg, converged)` for every node of alive_R — i.e.
    * deg_R(v) ≥ k — with `converged` (constant across rows) true iff
    * alive_R is a fixed point (round R removed nothing and left no
    * degree under k), in which case the output IS the k-core. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int = 4,
      srcCol: String = "id_a", dstCol: String = "id_b",
      stagingDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    val canon0 = Staging.stage(
      edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct(),
      stagingDir, "kcore_edges")
    // size-derived narrow-table partitioning — see [[pageRank]]
    val rp = roundParts(canon0.count())
    val canon = canon0.coalesce(rp)
    // round 0: every endpoint alive with its full degree
    def degreesOf(live: DataFrame): DataFrame =
      live.select(col("a").as("id")).union(live.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .coalesce(rp)
    var alive = degreesOf(canon)
    var prevPath: Option[String] = None
    var removedLast = true
    var round = 0
    while (round < rounds) {
      val keep = alive.filter(col("deg") >= k).select(col("id"))
      val live = canon
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
      val nextRaw = degreesOf(live)
      // lineage truncation per round — except the LAST round on the
      // default path: nothing iterates on it, so a persist (lineage
      // kept, plan stays inspectable) lets the convergence count and
      // the caller's final action share one materialization instead of
      // paying a checkpoint no one builds on
      val (next, path) = stagingDir match {
        case Some(dir) =>
          val (staged, p) = Staging.stageAt(nextRaw, dir, "kcore_round")
          (staged, Some(p))
        case None if round == rounds - 1 =>
          // one pin, final round only (the lazy result closes over it —
          // session-lifetime CacheManager caveat of
          // [[graft.operators.Dedup.minhashPairsFromShingles]];
          // stagingDir callers get the droppable-rounds path above)
          (nextRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
            None)
        case None => (nextRaw.localCheckpoint(eager = false), None)
      }
      // convergence check on the LAST round only (two extra counts, not
      // per round): the output is a fixed point iff the final recount
      // kept every kept node (none lost all its edges) AND left no
      // degree under k for the closing filter to remove. Runs BEFORE the
      // previous round's staging table is dropped — `alive` still reads
      // that path.
      if (round == rounds - 1) {
        val keptAll = next.count() == alive.filter(col("deg") >= k).count()
        val allOverK = next.filter(col("deg") < k).count() == 0L
        removedLast = !(keptAll && allOverK)
      }
      prevPath.foreach(Staging.drop(spark, _))
      prevPath = path
      alive = next
      round += 1
    }
    alive.filter(col("deg") >= k)
      .select(col("id"), col("deg"), lit(!removedLast).as("converged"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007 — community
    * detection, e.g. grouping near-dup clusters or co-purchase
    * neighborhoods), fully DETERMINISTIC: labels start as node ids;
    * every round EVERY node simultaneously adopts the most frequent
    * label among its neighbors PLUS its own (the self-vote — the
    * standard synchronous-LPA oscillation fix: without it an isolated
    * pair swaps labels forever), ties to the smallest label — a total
    * order, so `rounds` fixed synchronous iterations are a pure function
    * of the graph (classic async LPA is famously order-dependent; the
    * synchronous total-order variant trades a little convergence speed
    * for replayability, the [[pageRank]] budget contract — the oracle
    * unrolls the identical recurrence one CTE per round).
    *
    * Scale shape: the symmetrized distinct edge set is staged ONCE; per
    * round one join of edges against the (id, lbl) table (narrow rows),
    * one partial-agg (node, label) count, and one arg-max aggregate
    * `max(struct(n, −lbl))` — never a per-node window; per-round lineage
    * truncation exactly like [[kCorePeel]]. Isolated nodes don't exist
    * (ids come from edges).
    *
    * Output: `(id, community)` after `rounds` rounds. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3,
      srcCol: String = "id_a", dstCol: String = "id_b",
      stagingDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    val und0 = Staging.stage(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
        .filter(col("a") =!= col("b")).distinct(),
      stagingDir, "lpa_edges")
    // size-derived narrow-table partitioning — see [[pageRank]]
    val rp = roundParts(und0.count())
    val und = und0.coalesce(rp)
    var labels = und.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).coalesce(rp)
    var prevPath: Option[String] = None
    var round = 0
    while (round < rounds) {
      // ballot: edge (a, b) contributes b's current label to a's ballot,
      // PLUS one self-vote per node (the standard synchronous-LPA
      // oscillation fix — without it an isolated pair swaps labels
      // forever and odd-round outputs are degenerate singletons);
      // arg-max by (count desc, label asc) via the struct-max trick
      // (labels are ids ≥ 0 by the edge-id contract)
      val nextRaw = und
        .join(labels.select(col("id").as("b"), col("lbl")), Seq("b"))
        .select(col("a"), col("lbl"))
        .union(labels.select(col("id").as("a"), col("lbl")))
        .groupBy(col("a"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("a"))
        .agg(max(struct(col("n"), col("lbl").unary_-.as("neg"))).as("m"))
        .select(col("a").as("id"), (-col("m.neg")).as("lbl"))
      val (next, path) = stagingDir match {
        case Some(dir) =>
          val (staged, p) = Staging.stageAt(nextRaw.coalesce(rp), dir, "lpa_round")
          (staged, Some(p))
        case None => (nextRaw.coalesce(rp).localCheckpoint(eager = false), None)
      }
      prevPath.foreach(Staging.drop(spark, _))
      prevPath = path
      labels = next
      round += 1
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** EXACT modularity evidence for a community assignment (Newman–Girvan
    * Q), kept in pure integers so any engine re-derives it bit-exactly:
    * with m = |undirected edges|, e_c = edges internal to community c and
    * d_c = Σ degrees of c's nodes,
    *   Q = Σ_c (e_c/m − (d_c/2m)²)  ⇒  Q · 4m² = Σ_c (4·m·e_c − d_c²)
    * so each community's row carries the integer part `q_part =
    * 4·m·e_c − d_c²` (plus the count evidence), and Q is the caller's
    * one float: Σ q_part / 4m². Inputs: an edge list (symmetrized and
    * canonicalized here) and an `(id, community)` assignment — e.g.
    * [[labelPropagation]]'s output. Under a PARTIAL assignment the
    * evidence is computed on the labeled-induced subgraph: an edge with
    * an unlabeled endpoint is excluded from `internal_edges`, from `m`,
    * AND from every `degree_sum` — all three legs see the same edge set,
    * so the Q·4m² identity holds on that subgraph (the r16 advisory:
    * dropping such edges from the internal joins only, while `m` and the
    * labeled endpoint's degree still counted them, silently broke the
    * identity). A node whose every edge leads outside the labeled set
    * consequently contributes no degree row.
    *
    * Scale: one canonical-edge distinct restricted to labeled endpoints
    * (two left-semi label joins folded into the staged relation — a
    * three-consumer diamond; [[Staging.stage]]: executor-local persist
    * by default, under the caller-clears-cache caveat of
    * [[graft.operators.Dedup.minhashPairsFromShingles]]; pass
    * `stagingDir` at cluster scale), two narrow label joins, and
    * partial-agg counts; `m` is a 1-row broadcast. Output: `(community,
    * n_nodes, internal_edges, degree_sum, m, q_part)`. */
  def modularity(edges: DataFrame, labels: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b",
      idCol: String = "id", commCol: String = "community",
      stagingDir: Option[String] = None): DataFrame = {
    val labeledIds = labels.select(col(idCol))
    val canon = Staging.stage(
      edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .join(labeledIds.select(col(idCol).as("a")), Seq("a"), "left_semi")
      .join(labeledIds.select(col(idCol).as("b")), Seq("b"), "left_semi"),
      stagingDir, "modularity_edges")
    val mRow = canon.groupBy().agg(count(lit(1)).as("m"))
    val la = labels.select(col(idCol).as("a"), col(commCol).as("ca"))
    val lb = labels.select(col(idCol).as("b"), col(commCol).as("cb"))
    val internal = canon.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val dc = deg.join(labels.select(col(idCol).as("id"),
        col(commCol).as("community")), Seq("id"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
    dc.join(internal, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"), col("m"),
        (lit(4L) * col("m") * coalesce(col("internal_edges"), lit(0L)) -
          col("degree_sum") * col("degree_sum")).as("q_part"))
  }

  def incrementalCC(prevLabels: DataFrame, newEdges: DataFrame,
      idCol: String = "id", compCol: String = "component",
      srcCol: String = "id_a", dstCol: String = "id_b", maxIter: Int = 50,
      stagingDir: Option[String] = None): DataFrame = {
    val lbl = prevLabels.select(col(idCol).as("id"), col(compCol).as("component"))
    val endsRaw = newEdges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    // the delta edge list is typically an expensive mining result (e.g.
    // incrementalMinhash) read by three consumers below — truncate once
    val ends = stagingDir match {
      case Some(dir) => Staging.stageAt(endsRaw, dir, "icc_delta")._1
      case None      => endsRaw.localCheckpoint()
    }
    val nodes = ends.select(col("a").as("id"))
      .union(ends.select(col("b").as("id"))).distinct()
    // old labels of the delta endpoints: stream the corpus-sized label
    // table past a broadcast of the delta node set — a left join the
    // other way around would shuffle (or broadcast!) the corpus side
    val known = lbl.join(broadcast(nodes), Seq("id"), "left_semi")
    val nodeLblRaw = known.withColumn("is_new", lit(false))
      .union(nodes.join(broadcast(known.select(col("id"))), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"), lit(true).as("is_new")))
    // staged: O(delta) rows, but its lineage streams the label table —
    // three consumers (two label-edge joins, the fresh-node relabel)
    // must not triple that pass
    val nodeLbl = stagingDir match {
      case Some(dir) => Staging.stageAt(nodeLblRaw, dir, "icc_node_lbl")._1
      case None      => nodeLblRaw.localCheckpoint()
    }
    // contracted delta graph: edges between component representatives
    val labelEdges = ends
      .join(nodeLbl.select(col("id").as("a"), col("component").as("ca")), Seq("a"))
      .join(nodeLbl.select(col("id").as("b"), col("component").as("cb")), Seq("b"))
      .select(col("ca").as("u"), col("cb").as("v"))
    // converge on the contracted graph ONLY — O(delta), not O(corpus)
    val remap = connectedComponents(labelEdges, "u", "v", maxIter, stagingDir)
      .select(col("id").as("old_label"), col("component").as("new_label"))
    val changed = remap.filter(col("old_label") =!= col("new_label"))
    // corpus-wide relabel: ONE streamed broadcast-join pass, no shuffle
    val updated = lbl.join(broadcast(changed),
        col("component") === col("old_label"), "left")
      .select(col("id"), coalesce(col("new_label"), col("component")).as("component"))
    // nodes first seen in this batch: every one of them is in the label
    // graph (it has a delta edge), so the remap carries its final label
    val freshLabeled = nodeLbl.filter(col("is_new")).select(col("id"))
      .join(broadcast(remap), col("id") === col("old_label"))
      .select(col("id"), col("new_label").as("component"))
    updated.union(freshLabeled)
      .select(col("id").as(idCol), col("component").as(compCol))
  }
}
