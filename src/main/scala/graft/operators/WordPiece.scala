package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** WordPiece tokenizer training + apply as distributed queries — the
  * third tokenizer family beside BPE ([[Bpe]]) and unigram-LM
  * ([[Unigram]]), per the public algorithm (Schuster & Nakajima,
  * "Japanese and Korean voice search", ICASSP 2012; the BERT-family
  * subword scheme).
  *
  * Training is the BPE loop with ONE change — the merge objective.
  * Where BPE merges the most FREQUENT adjacent pair, WordPiece merges
  * the pair maximizing the corpus-likelihood gain
  * `count(ab) / (count(a) · count(b))` — frequent-but-predictable
  * pairs (both symbols common everywhere) lose to rare-but-cohesive
  * ones. The score is computed in SCALED INTEGER arithmetic
  * (`count(ab) · 10^12 div (count(a) · count(b))`, DECIMAL(38,0)
  * intermediates so no operand can overflow), making the whole
  * training loop bit-portable and hash-gateable against a DuckDB
  * re-derivation (HUGEINT on the oracle side) — the repo-wide
  * no-floats stance.
  *
  * Symbols carry the continuation marker: a word splits to its first
  * char bare + every later char `##`-prefixed, and merging (a, b)
  * yields `a + strip##(b)` — so a learned symbol is word-initial or
  * continuation BY CONSTRUCTION, never both (the public convention).
  *
  * Scale shape (inherited from [[Bpe.bpeTrain]]): training runs on the
  * WORD FREQUENCY TABLE, not the corpus — one corpus-sized scan, then
  * every merge round is an explode + map-side-combinable sum over the
  * (distinct words × symbols) relation, with the per-round lineage cut
  * of [[Staging.Rounds]]. Apply broadcasts the (small by construction)
  * vocab and segments per-partition — zero shuffles beyond the
  * word-table groupBy it rides on.
  */
object WordPiece {

  /** Score scale: big enough that distinct rational scores rarely
    * collide after truncation, small enough that `n · Scale` fits
    * DECIMAL(38,0) at any corpus size. */
  val Scale = 1000000000000L // 10^12

  private def strip(sym: String): String =
    if (sym.startsWith("##")) sym.substring(2) else sym

  /** The ##-marked word-frequency table WordPiece trains on and
    * applies over: one corpus scan → `(w, cnt, syms)` with the first
    * char bare and every later char `##`-prefixed. ONE definition —
    * train and replay must agree on the symbol alphabet. */
  private def markedWordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        transform(filter(split(col("w"), ""), s => length(s) > 0),
          (s, i) => when(i === 0, s).otherwise(concat(lit("##"), s)))
          .as("syms"))

  /** Train `merges` WordPiece merge rules. Output: one row per learned
    * rule — `(rank, lhs, rhs, pair_count, score_scaled)`, rank 1-based
    * in merge order. Stops early if no pair occurs at least twice (the
    * [[Bpe.bpeTrain]] stop rule). */
  def train(docs: DataFrame, merges: Int, textCol: String = "text",
      stagingDir: Option[String] = None): DataFrame =
    trainCore(docs, merges, textCol, stagingDir)._1

  /** One training run returning BOTH artifacts: the merge-rule relation
    * AND the induced vocab (every symbol the final word table carries —
    * what greedy apply matches against). The apply-side faces use this
    * so the recurrence runs ONCE, not train-then-replay. */
  def trainAndVocab(docs: DataFrame, merges: Int, textCol: String = "text",
      stagingDir: Option[String] = None): (DataFrame, Set[String]) = {
    val (rules, finalVocab) = trainCore(docs, merges, textCol, stagingDir)
    val spark = docs.sparkSession
    import spark.implicits._
    (rules,
      finalVocab.select(explode(col("syms")).as("s")).distinct()
        .as[String].collect().toSet)
  }

  /** Shared training loop: returns (rules relation, final word table). */
  private def trainCore(docs: DataFrame, merges: Int, textCol: String,
      stagingDir: Option[String]): (DataFrame, DataFrame) = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = docs.sparkSession
    import spark.implicits._

    val cut = new Staging.Rounds(stagingDir, "wp_vocab")
    var vocab = cut(markedWordTable(docs, textCol))

    val rules =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      // adjacent-pair counts (overlaps counted individually) ...
      val pairs = Bpe.pairCounts(vocab)
      // ... joined against per-SYMBOL weighted counts for the score
      val symCnt = vocab
        .select(col("cnt"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("cnt")).as("sc"))
      val scored = pairs
        .join(symCnt.withColumnRenamed("s", "a").withColumnRenamed("sc", "ca"), "a")
        .join(symCnt.withColumnRenamed("s", "b").withColumnRenamed("sc", "cb"), "b")
        .withColumn("score_scaled",
          // exact integer division on DECIMAL(38,0) operands: the
          // truncated quotient always fits a long (score ≤ Scale
          // because count(a) ≥ n and count(b) ≥ n ≥ 1)
          expr(s"CAST(CAST(n AS DECIMAL(38,0)) * ${Scale}L div " +
            "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS BIGINT)"))
      // the n >= 2 stop rule filters CANDIDATES, before the arg-max —
      // under the likelihood objective a singleton pair of rare symbols
      // can out-score every repeated pair (score 1/(1·1) = max), and
      // merging hapaxes is exactly what WordPiece's objective exists to
      // avoid (BPE can check post-arg-max only because its arg-max IS n)
      val best = scored.filter(col("n") >= 2)
        .orderBy(col("score_scaled").desc, col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getAs[String]("a"), best(0).getAs[String]("b"))
        rules += ((round, a, b, best(0).getAs[Long]("n"),
          best(0).getAs[Long]("score_scaled")))
        // merged symbol keeps a's marker, drops b's ## (b is always a
        // continuation symbol — it follows a within a word)
        vocab = cut(Bpe.applyMergeRelational(vocab, a, b, a + strip(b)))
      }
      round += 1
    }
    (rules.toSeq.toDF("rank", "lhs", "rhs", "pair_count", "score_scaled"),
      vocab)
  }

  /** Greedy longest-match-first segmentation of one word under a
    * WordPiece vocab (the PUBLIC apply algorithm — NOT merge-order
    * replay; the two genuinely differ, which is why the vocab, not the
    * rule list, is the published artifact of a WordPiece tokenizer):
    * at each position take the LONGEST vocab piece matching (bare at
    * word start, `##`-form after); if none matches, the whole word is
    * `[UNK]`. Driver/executor-local; distributed via [[tokenize]]. */
  def greedySegment(word: String, vocab: Set[String],
      maxPieceLen: Int): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      val prefix = if (pos == 0) "" else "##"
      var len = math.min(maxPieceLen, word.length - pos)
      var hit: String = null
      while (len >= 1 && hit == null) {
        val cand = prefix + word.substring(pos, pos + len)
        // marker integrity: a word that literally starts with "##"
        // must not match a CONTINUATION piece at position 0 — bare and
        // ##-marked forms are distinct vocab entries by construction,
        // and the oracle's scan enforces the same rule (`NOT LIKE
        // '##%'` at the word start)
        if (!(pos == 0 && cand.startsWith("##")) && vocab.contains(cand))
          hit = cand
        len -= 1
      }
      if (hit == null) return Seq("[UNK]")
      out += hit
      pos += hit.length - prefix.length
    }
    out.toSeq
  }

  /** Distributed apply over a word-frequency relation `(wordCol, …)`:
    * broadcast the vocab (small by construction — one driver round per
    * learned symbol), segment per-partition, return the input columns
    * + `pieces_joined` (the [[Unigram.segmentWords]] contract).
    *
    * `maxPieceLen` bounds the longest-match scan per position; the
    * default (≤ 0) derives it from the vocab's own longest entry, so
    * greedy longest-match can never silently skip a learned piece — a
    * fixed cap below the longest vocab piece would quietly diverge from
    * the published WordPiece apply algorithm. Pass an explicit cap only
    * to bound scan cost on corpora whose words are known-short. */
  def tokenize(df: DataFrame, vocab: Set[String], wordCol: String = "w",
      maxPieceLen: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(vocab.nonEmpty, "empty vocab")
    val effMax =
      if (maxPieceLen > 0) maxPieceLen else vocab.iterator.map(_.length).max
    val bc = spark.sparkContext.broadcast(vocab)
    val inCols = df.schema.fieldNames.toIndexedSeq
    require(inCols.contains(wordCol), s"no column $wordCol")
    df.select(col(wordCol)).distinct().as[String].mapPartitions { it =>
      it.map(w => (w, greedySegment(w, bc.value, effMax).mkString(" ")))
    }.toDF(wordCol, "pieces_joined")
      .join(df, Seq(wordCol))
      .select((inCols.map(col) :+ col("pieces_joined")): _*)
  }

  /** The vocab a trained merge table induces: every surviving symbol of
    * the final vocab relation (alphabet forms + merged pieces), i.e.
    * what [[train]]'s last round leaves in `syms` — derived by
    * REPLAYING the merges over the same corpus word table. Driver-side
    * Set for [[tokenize]]'s broadcast. */
  def vocabFromRules(docs: DataFrame, rules: Seq[(String, String)],
      textCol: String = "text"): Set[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cut = new Staging.Rounds(None, "wp_vocab")
    val vocab = rules.foldLeft(cut(markedWordTable(docs, textCol))) {
      case (v, (a, b)) => cut(Bpe.applyMergeRelational(v, a, b, a + strip(b)))
    }
    vocab.select(explode(col("syms")).as("s")).distinct()
      .as[String].collect().toSet
  }
}
