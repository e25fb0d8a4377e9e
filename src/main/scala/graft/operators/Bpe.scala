package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Byte-pair-encoding merge-rule training as a distributed query —
  * the first `merges` rules of the classic BPE tokenizer-training loop
  * (Sennrich, Haddow, Birch: "Neural Machine Translation of Rare Words
  * with Subword Units", ACL 2016).
  *
  * The scalability insight is the classic one: BPE trains on the WORD
  * FREQUENCY TABLE, not the corpus. The corpus is scanned once (tokenize
  * → `groupBy(word).count` — the only corpus-sized job); every merge
  * round after that operates on the vocabulary relation (distinct words
  * × symbol sequences), which is orders of magnitude smaller and shrinks
  * in symbol count as merges apply.
  *
  * Per round (driver-coordinated; only the 1-row arg-max crosses over):
  *  1. adjacent-pair counts: one explode of the vocab symbol sequences,
  *     weighted by word count — a map-side-combinable sum (overlapping
  *     occurrences count individually, the reference convention);
  *  2. best pair = arg-max by (count desc, left asc, right asc) — a
  *     deterministic tie-break, so the learned rules are a pure function
  *     of the corpus (reference BPE ties are dict-order-arbitrary);
  *  3. apply the merge with the standard GREEDY LEFT-TO-RIGHT
  *     convention — overlapping occurrences (rule (a,a) on "aaa") merge
  *     at the first position and skip the consumed symbol. Greediness
  *     is relational: overlaps only arise between matches at CONSECUTIVE
  *     positions, so maximal runs of consecutive matching positions
  *     (gaps-and-islands over a per-word window) select their odd
  *     members; selected positions emit the merged symbol, their
  *     successors drop, everything else passes through;
  *  4. the vocab's lineage is cut each round ([[Staging.Rounds]]: an
  *     eager local checkpoint, or a durable staged table) — k rounds of
  *     window+join lineage would otherwise re-execute from the corpus
  *     scan on every action.
  *
  * Everything is integer counts, string equality, and window positions —
  * no floats, no RNG — so the learned rules are bit-portable and the
  * catalog face hash-gates the WHOLE training loop against a DuckDB
  * oracle that re-runs the identical recurrence, one CTE group per round.
  *
  * Output: one row per learned rule — `(rank, lhs, rhs, pair_count)`,
  * rank 1-based in merge order. Training stops early (fewer rows) if no
  * pair occurs at least twice.
  */
object Bpe {

  def bpeTrain(docs: DataFrame, merges: Int, textCol: String = "text",
      stagingDir: Option[String] = None): DataFrame =
    trainLoop(wordFreqVocab(docs, textCol, split(col("w"), "")),
      merges, stagingDir)

  /** BYTE-LEVEL BPE training — the production pretraining default
    * (GPT-2/Llama family): the base alphabet is the word's UTF-8
    * BYTES, so every input tokenizes with no `[UNK]` by construction —
    * any Unicode word decomposes into base-alphabet symbols, and
    * merges only ever concatenate them.
    *
    * Symbols are hex-pair strings ("68","65",… — two chars per byte),
    * so the whole relational merge loop ([[trainLoop]] — pair counts,
    * deterministic arg-max, greedy left-to-right application) is REUSED
    * verbatim over byte symbols, merged symbols are unambiguous byte
    * sequences ("6865" = the two bytes 0x68 0x65), and every value
    * stays engine-portable integer/string work: the oracle re-derives
    * the byte split as `regexp_extract_all(hex(encode(w)), '..')` and
    * re-runs the identical recurrence, putting the WHOLE byte-level
    * training loop under the hash gate like `q_bpe_train`. */
  def byteBpeTrain(docs: DataFrame, merges: Int, textCol: String = "text",
      stagingDir: Option[String] = None): DataFrame =
    trainLoop(wordFreqVocab(docs, textCol, byteSyms(col("w"))),
      merges, stagingDir)

  /** UTF-8 bytes of a string as hex-pair symbols — `hex` is uppercase
    * in Spark AND DuckDB, and the `..` extraction walks the hex string
    * two chars at a time, so both engines derive identical symbol
    * arrays. */
  private[graft] def byteSyms(word: Column): Column =
    regexp_extract_all(hex(encode(word, "UTF-8")), lit(".."), lit(0))

  /** The one corpus-sized job: word frequency table + initial symbol
    * split (chars for classic BPE, hex-pair bytes for byte-level). */
  private def wordFreqVocab(docs: DataFrame, textCol: String,
      symsOf: Column): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"), symsOf.as("syms"))

  private def trainLoop(vocab0: DataFrame, merges: Int,
      stagingDir: Option[String]): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = vocab0.sparkSession
    import spark.implicits._
    val cut = new Staging.Rounds(stagingDir, "bpe_vocab")
    var vocab = cut(vocab0)

    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val best = pairCounts(vocab).orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < 2L) exhausted = true
      else {
        val (a, b, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        rules += ((round, a, b, n))
        vocab = cut(applyMergeRelational(vocab, a, b))
      }
      round += 1
    }
    // lhs/rhs, not left/right: those are SQL keywords in the oracle
    rules.toSeq.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** Adjacent-pair counts `(a, b, n)` of a vocab relation `(w, cnt,
    * syms)` (the train-side step 1 in the class doc): one explode of
    * each word's consecutive symbol pairs, summed by word count, so
    * overlapping occurrences count individually. [[WordPiece]]'s
    * trainer scores the same counts. */
  private[graft] def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("cnt"), slice(col("syms"), lit(1), size(col("syms")) - 1).as("la"),
        slice(col("syms"), lit(2), size(col("syms")) - 1).as("lb"))
      .select(col("cnt"), explode(arrays_zip(col("la"), col("lb"))).as("p"))
      .select(col("p.la").as("a"), col("p.lb").as("b"), col("cnt"))
      .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("n"))

  /** One greedy left-to-right application of rule (a, b) → `merged`
    * over the vocab relation `(w, cnt, syms)`, fully relational (the
    * train-side step 3 in the class doc). BPE merges to the plain
    * concatenation; [[WordPiece]] delegates here with its marker-aware
    * merged symbol (`a + strip##(b)`) — ONE copy of the
    * gaps-and-islands run logic. Package-visible for the spec's
    * round-by-round goldens. */
  private[graft] def applyMergeRelational(vocab: DataFrame, a: String,
      b: String): DataFrame = applyMergeRelational(vocab, a, b, a + b)

  private[graft] def applyMergeRelational(vocab: DataFrame, a: String,
      b: String, merged: String): DataFrame = {
    val wOrd = Window.partitionBy(col("w")).orderBy(col("pos"))
    val runOrd = Window.partitionBy(col("w"), col("runkey")).orderBy(col("pos"))
    vocab.select(col("w"), col("cnt"), posexplode(col("syms")).as(Seq("pos", "s")))
      .withColumn("m",
        coalesce(col("s") === lit(a) && lead(col("s"), 1).over(wOrd) === lit(b),
          lit(false)))
      .withColumn("mrn", sum(when(col("m"), 1).otherwise(0)).over(wOrd))
      .withColumn("runkey", when(col("m"), col("pos") - col("mrn")))
      .withColumn("ridx", when(col("m"), row_number().over(runOrd)))
      .withColumn("selected", col("m") && col("ridx") % 2 === 1)
      .withColumn("dropped", lag(col("selected"), 1, false).over(wOrd))
      .filter(!col("dropped"))
      .withColumn("s2", when(col("selected"), lit(merged)).otherwise(col("s")))
      .groupBy(col("w"), col("cnt"))
      .agg(array_sort(collect_list(struct(col("pos"), col("s2")))).as("ps"))
      .select(col("w"), col("cnt"),
        transform(col("ps"), x => x.getField("s2")).as("syms"))
  }

  /** Tokenize a word with an already-learned merge table: split to
    * chars, apply each rule in rank order (the APPLY side of BPE — what
    * a pipeline runs per document once rules exist). Each rule is ONE
    * higher-order `aggregate` fold whose accumulator is the rebuilt
    * prefix: merge whenever the accumulator's last symbol is `a` and the
    * incoming one is `b` — which IS left-to-right greedy (after a merge
    * the last symbol is `a+b`, not `a`, so overlaps self-resolve;
    * equivalence with the relational train-side application is
    * property-tested in BpeSpec). Narrow map-side only; `rules` is a
    * driver-local Seq because merge tables are small by construction
    * (one driver round each). */
  def bpeTokens(word: Column, rules: Seq[(String, String)]): Column =
    applyRulesFold(split(word, ""), rules)

  /** Byte-level apply: the same greedy fold over the word's hex-pair
    * byte symbols. Output tokens are hex strings (unambiguous byte
    * sequences); every token is in `{256 base bytes} ∪ {merged}` by
    * construction — no `[UNK]` exists in this tokenizer family. */
  def byteBpeTokens(word: Column, rules: Seq[(String, String)]): Column =
    applyRulesFold(byteSyms(word), rules)

  private def applyRulesFold(syms0: Column,
      rules: Seq[(String, String)]): Column =
    rules.foldLeft(syms0) { case (syms, (a, b)) =>
      aggregate(syms, array().cast("array<string>"),
        (acc, x) =>
          when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x))))
    }
}
