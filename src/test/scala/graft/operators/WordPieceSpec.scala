package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** WordPiece trainer + greedy apply (`WordPiece`). Ground truths are
  * hand-computed on tiny corpora; the likelihood-vs-frequency
  * objective is pinned by a corpus where BPE and WordPiece provably
  * pick DIFFERENT first merges. */
class WordPieceSpec extends SparkSuite {

  import spark.implicits._

  private def corpus(lines: String*) = lines.toDF("text")

  test("symbols carry the ## continuation marker from round 0") {
    // one word "abc" → first merge operates on (a, ##b) or (##b, ##c)
    val rules = WordPiece.train(corpus("abc abc"), merges = 1).collect()
    assert(rules.length == 1)
    val (lhs, rhs) = (rules(0).getString(1), rules(0).getString(2))
    assert(!lhs.startsWith("##") || lhs.length > 2)
    assert(rhs.startsWith("##"), s"rhs must be a continuation symbol: $rhs")
  }

  test("likelihood objective diverges from BPE's frequency objective") {
    // 'xy' appears 4× but x is everywhere (cnt(x)=12, cnt(##y)=4);
    // 'qz' appears 3× and q/##z appear ONLY in qz (3 each).
    //   BPE picks (x, y): 4 > 3.
    //   WordPiece: score(x,##y) = 4/(12·4) = 1/12 < score(q,##z) = 3/(3·3) = 1/3.
    val c = corpus(
      "xy xy xy xy x x x x x x x x y y y y",
      "qz qz qz")
    val wp = WordPiece.train(c, merges = 1).collect()(0)
    assert((wp.getString(1), wp.getString(2)) == ("q", "##z"),
      s"wordpiece picked ${wp.getString(1)}+${wp.getString(2)}")
    val bpe = Bpe.bpeTrain(c, merges = 1).collect()(0)
    assert((bpe.getString(1), bpe.getString(2)) == ("x", "y"),
      s"bpe picked ${bpe.getString(1)}+${bpe.getString(2)}")
  }

  test("score_scaled is the exact truncated integer quotient") {
    // corpus: "ab ab ab" → pair (a, ##b) n=3, cnt(a)=3, cnt(##b)=3
    // score = 3·10^12 / 9 = 333_333_333_333 (exact)
    val r = WordPiece.train(corpus("ab ab ab"), merges = 1).collect()(0)
    assert(r.getLong(3) == 3L)
    assert(r.getLong(4) == 3L * WordPiece.Scale / 9L)
  }

  test("merged symbols keep the left marker and drop the right ##") {
    // "aaab aaab": merges chain across rounds; every learned lhs+rhs
    // must concatenate without double-marking
    val rules = WordPiece.train(corpus("aaab aaab aaab"), merges = 3)
      .orderBy("rank").collect()
    rules.foreach { r =>
      val merged = r.getString(1) +
        (if (r.getString(2).startsWith("##")) r.getString(2).substring(2)
         else r.getString(2))
      assert(!merged.substring(2).contains("##"),
        s"double marker in $merged")
    }
  }

  test("greedySegment: longest match first, continuation forms after start") {
    val vocab = Set("un", "##aff", "##able", "##a", "##f", "##l", "##e",
      "##b", "u", "##n", "a")
    assert(WordPiece.greedySegment("unaffable", vocab, 8) ==
      Seq("un", "##aff", "##able"))
    // 'a' alone is word-initial form; continuation positions need ##
    assert(WordPiece.greedySegment("a", vocab, 8) == Seq("a"))
  }

  test("a word literally starting with ## cannot match a continuation piece at pos 0") {
    // marker integrity (and oracle parity): bare and ##-marked forms
    // are distinct vocab entries, so the WORD "##x" must open with a
    // bare piece ('#'), then continuation pieces — never the
    // continuation entry '##x' matched as if it were word-initial
    val vocab = Set("#", "###", "##x", "x")
    assert(WordPiece.greedySegment("##x", vocab, 8) ==
      Seq("#", "###", "##x"))
  }

  test("greedySegment: no match at any position → whole word is [UNK]") {
    val vocab = Set("a", "##b")
    assert(WordPiece.greedySegment("abz", vocab, 8) == Seq("[UNK]"))
    assert(WordPiece.greedySegment("za", vocab, 8) == Seq("[UNK]"))
    assert(WordPiece.greedySegment("", vocab, 8) == Seq.empty)
  }

  test("greedySegment pieces rejoin to the word when no [UNK]") {
    val vocab = Set("a", "b", "c", "##a", "##b", "##c", "##ab", "ab")
    for (w <- Seq("abc", "aab", "cab", "abab", "ccc")) {
      val pieces = WordPiece.greedySegment(w, vocab, 8)
      assert(pieces.head != "[UNK]")
      val rejoined = pieces.head + pieces.tail.map(_.substring(2)).mkString
      assert(rejoined == w, s"$w → $pieces")
    }
  }

  test("greedy is longest-match, not merge-order replay") {
    // vocab has both ##ab and the longer ##abc: greedy takes ##abc even
    // if merge order would have built ##ab first
    val vocab = Set("x", "##ab", "##abc", "##a", "##b", "##c")
    assert(WordPiece.greedySegment("xabc", vocab, 8) == Seq("x", "##abc"))
  }

  test("tokenize: distributed apply equals the local loop") {
    val vocab = WordPiece.vocabFromRules(
      corpus("the theme the them", "lemma the them"),
      Seq(("t", "##h"), ("th", "##e")))
    val words = Seq("the", "theme", "them", "lemma").toDF("w")
      .withColumn("cnt", lit(1L))
    val got = WordPiece.tokenize(words, vocab)
      .select("w", "pieces_joined").as[(String, String)].collect().toMap
    for ((w, joined) <- got)
      assert(joined == WordPiece.greedySegment(w, vocab, 16).mkString(" "),
        s"word $w")
    assert(got("the") == "the")
  }

  test("vocabFromRules replays merges: merged pieces present, both marker forms kept") {
    val vocab = WordPiece.vocabFromRules(
      corpus("aba aba ba"), Seq(("##b", "##a")))
    // 'aba' → a ##b ##a → merge (##b,##a) → a ##ba ; 'ba' → b ##a (no
    // word-initial merge: rule lhs is ##b, not b)
    assert(vocab.contains("##ba"))
    assert(vocab.contains("a") && vocab.contains("b") && vocab.contains("##a"))
    assert(!vocab.contains("ba"))
  }

  test("train is deterministic and stops early when no pair repeats") {
    val c = corpus("ab cd ef") // every pair occurs once
    assert(WordPiece.train(c, merges = 3).count() == 0)
    // regression pin: (c,##d) is a HAPAX with the maximal score
    // 1/(1·1) — the n≥2 rule must exclude it from the arg-max, not
    // merely stop after selecting it, or training dies on round 1
    val c2 = corpus("ab ab cd")
    val twice = (WordPiece.train(c2, merges = 5).collect().toSeq,
      WordPiece.train(c2, merges = 5).collect().toSeq)
    assert(twice._1.map(_.toString) == twice._2.map(_.toString))
    assert(twice._1.length == 1) // only (a,##b) repeats
    assert((twice._1(0).getString(1), twice._1(0).getString(2)) == ("a", "##b"))
  }

  test("stagingDir path learns identical rules; only the final round's table remains") {
    val rnd = new scala.util.Random(5)
    val words = Seq("alpha", "beta", "gamma", "delta", "aab", "abab", "bb")
    val c = corpus((1 to 30).map(_ =>
      (1 to 6).map(_ => words(rnd.nextInt(words.length))).mkString(" ")): _*)
    val expect = WordPiece.train(c, merges = 8).collect().toSeq.map(_.toString)
    assert(expect.size == 8)
    val dir = java.nio.file.Files.createTempDirectory("wp-stg").toString
    try {
      val staged = WordPiece.train(c, merges = 8, stagingDir = Some(dir))
        .collect().toSeq.map(_.toString)
      assert(staged == expect)
      val vocabs = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("wp_vocab_")).toSeq
      assert(vocabs.size == 1, vocabs.mkString(","))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("tokenize default cap derives from the vocab: a >16-char learned piece still matches") {
    // a fixed default cap of 16 would make greedy longest-match skip this
    // piece silently (the r17 advisory) — the derived default must not
    val longPiece = "##" + "a" * 20
    val vocab = Set("x", longPiece, "##a")
    val words = Seq("x" + "a" * 20).toDF("w")
    val got = WordPiece.tokenize(words, vocab)
      .select("pieces_joined").as[String].collect().toSeq
    assert(got == Seq("x " + longPiece))
    // the old fixed cap provably diverges on the same input
    assert(WordPiece.greedySegment("x" + "a" * 20, vocab, 16) ==
      Seq("x") ++ Seq.fill(20)("##a"))
  }
}
