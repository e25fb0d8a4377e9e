package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Document preparation operators for a training-data pipeline
  * (SURVEY.md §2.10 extensions): token-window chunking, token-budget
  * packing, PII redaction. All three are pure built-in-function
  * compositions — whole-stage codegen, no UDFs.
  *
  * The budget family ([[packByBudget]], [[quotaTrim]]) takes a pluggable
  * `tokenCount: Column => Column` and [[chunkTokens]] a pluggable
  * `tokenizer` — real training budgets are TOKENIZER tokens, not
  * whitespace words. Defaults stay whitespace (the oracle-checked path);
  * [[graft.functions.TextFunctions.bpeishCount]] /
  * [[graft.functions.TextFunctions.bpeishTokens]] give a BPE
  * pre-tokenizer approximation as a column expression. A FULL BPE (merge
  * table + ranks) needs vocab files this sandbox cannot ship; the
  * parameter is the seam a deployment plugs its tokenizer expression
  * into (the [[Multimodal]] stub convention: plumbing real,
  * heavyweight kernel injected).
  */
object TextPrep {

  /** Lowercased whitespace-token count — the default `tokenCount` of the
    * budget family; exactly `size(`[[graft.functions.TextFunctions.tokens]]`)`
    * (an INT, keeping the default path's output schema unchanged — a
    * custom counter's result type flows through to `n_tokens` as-is). */
  val whitespaceCount: Column => Column = c => size(tokens(c))

  /** Split each document into overlapping token-window chunks.
    *
    * Chunk `i` covers tokens `[i·stride, i·stride + chunkSize)` with
    * `stride = chunkSize − overlap`; the last chunk may be shorter. A doc
    * with ≤ chunkSize tokens yields exactly one chunk. Output:
    * `(id, chunk_idx, chunk_text, n_chunk_tokens)`.
    *
    * `tokenizer` maps the text column to the token array the windows
    * slice over (default whitespace; e.g.
    * [[graft.functions.TextFunctions.bpeishTokens]]). Chunks rejoin with
    * a single space, which for non-whitespace tokenizers whose pieces
    * carry their own leading space (BPE-style) inserts one extra space at
    * chunk seams — acceptable for training windows, documented here.
    *
    * Scale: narrow map-side transform — tokenization, the chunk-count
    * arithmetic and the explode all happen in one codegen stage, no
    * shuffle; row growth is len/stride (bounded by the corpus token count,
    * the same budget the training job itself pays). */
  def chunkTokens(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunkSize: Int = 128, overlap: Int = 16,
      tokenizer: Column => Column = tokens): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val nChunks = greatest(lit(1),
      ceil((col("n_toks") - lit(chunkSize)).cast("double") / lit(stride))
        .cast("int") + lit(1))
    docs.select(col(idCol), tokenizer(col(textCol)).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .select(col(idCol), col("toks"), col("n_toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .withColumn("start", col("chunk_idx") * stride)
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), col("n_toks") - col("start")).as("n_chunk_tokens"))
  }

  /** Deterministic token-budget packing: within each group, documents are
    * laid head-to-tail in ascending `idCol` order and cut into packs of
    * `budget` tokens — `pack_id = floor(exclusive_running_tokens / budget)`.
    *
    * A document whose tokens straddle a budget boundary stays whole in the
    * pack it starts in, so a pack can overrun by at most one document —
    * the standard bounded-overflow trade that keeps packing a single
    * window function instead of a sequential first-fit scan (whose
    * reset-on-decision state no window can express).
    *
    * `tokenCount` maps the text column to its token count (default
    * whitespace; e.g. [[graft.functions.TextFunctions.bpeishCount]]).
    *
    * Scale: one shuffle on the group key; packing within a group is
    * inherently ordered, so parallelism = number of groups — pick a group
    * key with enough cardinality (shard hash, date, source). */
  def packByBudget(docs: DataFrame, groupCol: Column, budget: Int,
      idCol: String = "doc_id", textCol: String = "text",
      tokenCount: Column => Column = whitespaceCount): DataFrame = {
    require(budget > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col(idCol), groupCol.as("group"),
      tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / lit(budget)))
      .select(col(idCol), col("group"), col("pack_id"), col("n_tokens"))
  }

  /** Render the packed TRAINING SEQUENCES [[packByBudget]] assigns:
    * the documents of one (group, pack) joined head-to-tail in
    * ascending-id order with an `eos` separator, plus the LOSS-MASK
    * BOUNDARIES — the exclusive char offset where each document ends
    * inside the sequence (what an attention/loss mask is built from;
    * packing without boundaries silently trains across document
    * joints). Boundaries are a prefix sum computed inside ONE
    * `aggregate` HOF over the collected per-pack list — no window over
    * the rendered rows, no second pass. One shuffle beyond
    * [[packByBudget]]'s (the pack aggregate). Output: `(group,
    * pack_id, n_docs, seq_chars, boundaries, seq_md5)` — the sequence
    * itself travels as md5 + length: packs are context-window-sized
    * blobs and the gate needs identity, not the bytes. */
  def renderPacks(docs: DataFrame, groupCol: Column, budget: Int,
      eos: String = "<|eos|>", idCol: String = "doc_id",
      textCol: String = "text",
      tokenCount: Column => Column = whitespaceCount): DataFrame = {
    val packed = packByBudget(docs, groupCol, budget, idCol, textCol, tokenCount)
    val joined = packed
      .join(docs.select(col(idCol).as("render_jid"), col(textCol).as("render_t")),
        col(idCol) === col("render_jid"))
    val perPack = joined
      .groupBy(col("group"), col("pack_id"))
      .agg(array_sort(collect_list(
        struct(col(idCol).as("id"), col("render_t").as("t")))).as("ds"))
    val texts = transform(col("ds"), d => d.getField("t"))
    val ends = aggregate(texts,
      struct(array().cast("array<bigint>").as("ends"), lit(0L).as("pos")),
      (acc, t) => struct(
        concat(acc.getField("ends"),
          array(acc.getField("pos") + length(t).cast("long"))).as("ends"),
        (acc.getField("pos") + length(t).cast("long") +
          lit(eos.length.toLong)).as("pos")),
      acc => acc.getField("ends"))
    perPack.select(col("group"), col("pack_id"),
      size(col("ds")).as("n_docs"),
      length(concat_ws(eos, texts)).cast("long").as("seq_chars"),
      concat_ws(",", transform(ends, e => e.cast("string"))).as("boundaries"),
      md5(concat_ws(eos, texts)).as("seq_md5"))
  }

  /** [[packByBudget]] with a deterministic hash shard as the group key —
    * the scale path when no natural group exists: parallelism = `shards`
    * (each shard packs independently in one window partition). Pack
    * identity is (group, pack_id); determinism carries over because the
    * shard of a doc is a pure function of its id. */
  def packByBudgetSharded(docs: DataFrame, shards: Int, budget: Int,
      idCol: String = "doc_id", textCol: String = "text",
      tokenCount: Column => Column = whitespaceCount): DataFrame = {
    require(shards > 0)
    packByBudget(docs, pmod(xxhash64(col(idCol)), lit(shards.toLong)).cast("int"),
      budget, idCol, textCol, tokenCount)
  }

  /** Per-group token-budget quota: keep documents in deterministic
    * (ascending-id) order until the group's cumulative token count reaches
    * `budget`; the document that crosses the line is KEPT (overflow bounded
    * by one doc — the same single-window trade as [[packByBudget]], whose
    * exact variant would need a sequential scan), everything after it is
    * cut. This is the mixing primitive that caps one source's contribution
    * to a training corpus ("at most 10 B tokens of source X").
    *
    * Output: `(id, group, n_tokens, cum_tokens)` of kept docs only.
    *
    * Scale: identical shape to [[packByBudget]] — one shuffle on the group
    * key, cumulative sum inside each window partition; parallelism = number
    * of groups, which for source/domain quotas is naturally large. */
  def quotaTrim(docs: DataFrame, groupCol: Column, budget: Long,
      idCol: String = "doc_id", textCol: String = "text",
      tokenCount: Column => Column = whitespaceCount): DataFrame = {
    require(budget > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col(idCol), groupCol.as("group"),
      tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col(idCol), col("group"), col("n_tokens"),
        (col("cum_before") + col("n_tokens")).as("cum_tokens"))
  }

  /** Deterministic global shuffle into training shards: every engine with a
    * standard md5 derives the SAME (shard, position) for a row, so a
    * training job's data order is reproducible and auditable from outside
    * Spark (same [[graft.operators.Sampling.hexUniform]] contract as the
    * samplers). `shard = md5-prefix mod shards` randomizes placement;
    * `pos = rank by (md5, id) within shard` randomizes order within a
    * shard — together a seeded corpus permutation, the last step before
    * writing training shards.
    *
    * Output: `(id, shard, pos)`.
    *
    * Scale: the md5 prefix is a narrow map-side projection; the only
    * shuffle is on `shard` (narrow rows), and the rank sorts shard-local
    * rows only — there is NO global sort. Writing then pairs with
    * `partitionBy(shard)` so each task streams one shard in order. */
  def trainingShards(docs: DataFrame, shards: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(shards > 0)
    val hex = Sampling.hexUniform(col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hex"), col(idCol))
    docs.select(col(idCol), hex.as("hex"))
      .withColumn("shard",
        (conv(col("hex"), 16, 10).cast("long") % shards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Fill-in-the-middle (FIM) transformation — the code/infilling
    * training-prep step (Bavarian et al. 2022, "Efficient Training of
    * Language Models to Fill in the Middle"; the OpenAI/StarCoder
    * recipe): a deterministic `ratePct`% of documents are rewritten as
    * `PRE ‖ prefix ‖ SUF ‖ suffix ‖ MID ‖ middle` (PSM order — the
    * model learns to emit the middle given both sides), the rest pass
    * through verbatim. Determinism is the [[Sampling]] stance: both the
    * selection draw and the two character-level cut points `0 ≤ a ≤ b ≤
    * len` come from engine-portable md5-prefix integers keyed on the doc
    * id (`id:fim`, `id:a`, `id:b`), so any engine re-derives exactly
    * which docs transformed and where they were cut — corpus growth
    * never reshuffles the assignment. Docs shorter than 2 chars pass
    * through (no meaningful cut exists).
    *
    * One narrow projection — no shuffle, no UDF; sentinel tokens are
    * caller-supplied (a deployment passes its tokenizer's reserved FIM
    * tokens). Output: `(<input cols…>, fim, seq)` with `fim` the
    * transform flag and `seq` the training sequence. */
  def fimTransform(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", ratePct: Int = 50,
      preTok: String = "<|fim_pre|>", sufTok: String = "<|fim_suf|>",
      midTok: String = "<|fim_mid|>"): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100, s"ratePct=$ratePct")
    def draw(tag: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(s":$tag"))),
        1, 8), 16, 10).cast("long")
    val len = length(col(textCol)).cast("long")
    val sel = (draw("fim") % 100 < ratePct) && len >= 2
    val a = draw("a") % (len + 1)
    val b = a + draw("b") % (len - a + 1)
    docs
      .withColumn("fim", sel)
      .withColumn("seq", when(col("fim"), concat(
        lit(preTok), col(textCol).substr(lit(1), a),
        lit(sufTok), col(textCol).substr(b + 1, len - b),
        lit(midTok), col(textCol).substr(a + 1, b - a)))
        .otherwise(col(textCol)))
  }

  /** Paragraph-level corpus dedup (the RefinedWeb/CCNet boilerplate pass):
    * a repeated paragraph survives only at its FIRST corpus occurrence —
    * min (doc id, position) — and every later occurrence is dropped;
    * documents are reassembled from their surviving paragraphs in order.
    * Whole-document dedup misses this entirely (navigation chrome, cookie
    * banners, licence footers repeat across *distinct* pages), and
    * span-level coverage ([[Dedup.dupCoverage]]) only measures it — this
    * op REMOVES it.
    *
    * Output: `(id, text_dedup, n_paras, n_kept)` — one row per input doc
    * (a fully-boilerplate doc keeps its row with empty `text_dedup`).
    * Whitespace-only paragraphs are dropped before dedup on both engines.
    *
    * Scale: paragraphs group on their `xxhash64` (8-byte shuffle key; the
    * paragraph text crosses a shuffle only inside its own doc's rebuild
    * group — same narrow-key move as [[Dedup.exact]], same documented
    * birthday bound). Two shuffles: the survivor arg-min on the hash and
    * the per-doc reassembly; the survivor relation ships (hash, id, pos)
    * only. The first-occurrence rule (not "keep one arbitrary copy")
    * makes the result deterministic AND oracle-checkable.
    *
    * The paragraph-posting relation is a consumer diamond (survivor
    * arg-min + the keep join) staged via [[Staging.stage]]: default
    * executor-local persist under the session-lifetime CacheManager
    * caveat of [[Dedup.minhashPairsFromShingles]]; pass `stagingDir` at
    * cluster scale for a durable parquet staging table that pins
    * nothing (caller deletes the dir once the result is consumed). */
  def dedupParagraphs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      stagingDir: Option[String] = None): DataFrame = {
    val paras = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n\n")).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
    val keyed = Staging.stage(paras.withColumn("h", xxhash64(col("para"))),
      stagingDir, "para_postings")
    // arg-min over (id, pos) per paragraph hash — partial-agg friendly,
    // never assembles an occurrence list (a hot boilerplate paragraph can
    // occur once per document in the corpus)
    val firsts = keyed.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"))
      .select(col("h"), col(s"f.$idCol").as("__fid"), col("f.pos").as("__fpos"))
    val kept = keyed.join(firsts, Seq("h"))
      .filter(col(idCol) === col("__fid") && col("pos") === col("__fpos"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("para")))),
        x => x.getField("para")), "\n\n").as("text_dedup"))
    val totals = keyed.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Per-source boilerplate LINE removal — the CCNet/RefinedWeb template
    * pass: a line occurring in ≥ `minShare` of a source's documents (and
    * ≥ `minDf` of them) is site chrome (nav, footer, cookie banner), not
    * content, and EVERY occurrence is stripped. Complements
    * [[dedupParagraphs]], which keeps a repeated block's FIRST occurrence:
    * dedup preserves one copy of repeated content; this deletes template
    * lines outright.
    *
    * Scale shape: per-(source, line-hash) document frequency is a
    * partial-combined aggregate (an occurrence list is never assembled —
    * the hot line IS the expected input); the boilerplate relation is
    * tiny (lines above the share threshold) and anti-joins against the
    * postings; rebuild groups each doc's own lines only. Output:
    * (idCol, text_clean, n_lines, n_kept).
    *
    * The line-posting relation is a consumer diamond (the DF aggregate +
    * the anti-join) staged via [[Staging.stage]] — same default-persist
    * CacheManager caveat and `stagingDir` cluster path as
    * [[dedupParagraphs]]. */
  def stripBoilerplate(docs: DataFrame, idCol: String = "doc_id",
      srcCol: String = "source", textCol: String = "text",
      minShare: Double = 0.5, minDf: Int = 2,
      stagingDir: Option[String] = None): DataFrame = {
    require(minShare > 0.0 && minShare <= 1.0, s"minShare=$minShare")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val lines = Staging.stage(
      docs.select(col(idCol), col(srcCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
        .withColumn("h", xxhash64(col("line"))),
      stagingDir, "boiler_lines")
    val lineDf = lines.groupBy(col(srcCol), col("h"))
      .agg(count_distinct(col(idCol)).as("df"))
    val nDocs = docs.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
    val boiler = lineDf.join(nDocs, Seq(srcCol))
      .filter(col("df") >= minDf &&
        col("df").cast("double") / col("n_docs").cast("double") >= minShare)
      .select(col(srcCol), col("h"))
    val kept = lines.join(boiler, Seq(srcCol, "h"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), "\n").as("text_clean"))
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Structural boilerplate containers dropped whole by [[mainContent]]:
    * the semantic-HTML elements whose CONTENT is site chrome, not
    * document text. Backreferenced closing tag so a `<nav>` cannot
    * close at a `</footer>`; non-greedy (the real-web common case is
    * non-nested chrome blocks). */
  val BoilerplateBlockPattern: String =
    "(?is)<(nav|header|footer|aside)\\b[^>]*>.*?</\\1\\s*>"

  /** Block boundaries for the link-density pass: the block-level
    * closing tags that end a text flow. */
  val BlockSplitPattern: String =
    "(?i)</(?:p|div|section|article|li|td|h[1-6])>"

  /** MAIN-CONTENT extraction — the block-level boilerplate pass between
    * raw page HTML and corpus text (the trafilatura/jusText class, the
    * single biggest text-quality lever over WET-style whole-page
    * strips). Two declarative stages, then the [[stripHtml]] chain:
    *  1. structural drop: `<nav>/<header>/<footer>/<aside>` blocks
    *     vanish whole ([[BoilerplateBlockPattern]]) along with
    *     script/style/comments;
    *  2. link-density drop: the page splits into blocks at block-level
    *     closing tags ([[BlockSplitPattern]]); a block whose anchor
    *     text makes up more than `maxLinkDensity` of its visible text
    *     is chrome (menus, related-links, pagination) and drops —
    *     anchors in a KEPT block keep their text (inline links are
    *     content).
    * Surviving blocks strip to plain text and join in document order;
    * entity decode + whitespace collapse run LAST (the [[stripHtml]]
    * ordering, shared with the oracle chain). Everything is one narrow
    * codegen'd projection over array HOFs — per-row work, no shuffle,
    * no UDF; at 100 TB this runs inside the scan stage exactly like
    * [[stripHtml]]. Output column: `main_text`. */
  def mainContent(docs: DataFrame, textCol: String = "html",
      maxLinkDensity: Double = 0.5): DataFrame = {
    require(maxLinkDensity > 0.0 && maxLinkDensity <= 1.0,
      s"maxLinkDensity must be in (0, 1], got $maxLinkDensity")
    val pre = (HtmlStripPatterns.dropRight(1) :+ BoilerplateBlockPattern)
      .foldLeft(col(textCol)) { (c, pat) => regexp_replace(c, pat, " ") }
    def plain(c: Column): Column =
      trim(regexp_replace(regexp_replace(c, "<[^>]+>", " "), "\\s+", " "))
    val blocks = split(pre, BlockSplitPattern)
    val kept = filter(blocks, b => {
      val anchorTexts = regexp_extract_all(b,
        lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1))
      val aChars = aggregate(
        transform(anchorTexts, a => length(plain(a))),
        lit(0), (acc, x) => acc + x)
      val tChars = length(plain(b))
      tChars > 0 &&
        aChars.cast("double") / tChars.cast("double") <= maxLinkDensity
    })
    val joined = array_join(transform(kept, b => plain(b)), " ")
    val decoded = HtmlEntities.foldLeft(joined) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    docs.withColumn("main_text",
      trim(regexp_replace(decoded, "\\s+", " ")))
  }

  /** HTML-strip patterns, in strip order; engine-portable (Java regex ∩
    * RE2, `(?s)` inline where a block spans lines). Script/style go first —
    * the generic tag strip would remove their tags but leave their code as
    * "text"; comments before generic tags for the same reason. */
  val HtmlStripPatterns: Seq[String] = Seq(
    "(?s)<script[^>]*>.*?</script>",
    "(?s)<style[^>]*>.*?</style>",
    "(?s)<!--.*?-->",
    "<[^>]+>")

  /** Entity decodes, in order — `&amp;` LAST so double-encoded entities
    * (`&amp;lt;`) decode one level per pass, not two. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** HTML/boilerplate markup → plain text: drop script/style/comment
    * blocks, strip tags, decode the common entities, collapse whitespace.
    * The web-corpus ingestion step before any quality/dedup stage. Output
    * column: `text_plain`. Narrow regexp/replace chain, no shuffle; the
    * pattern lists are shared with the DuckDB oracle by construction
    * (same contract as [[PiiPatterns]]). */
  def stripHtml(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val stripped = HtmlStripPatterns.foldLeft(col(textCol)) { (c, pat) =>
      regexp_replace(c, pat, " ")
    }
    val decoded = HtmlEntities.foldLeft(stripped) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    docs.withColumn("text_plain", trim(regexp_replace(decoded, "\\s+", " ")))
  }

  /** Markdown-structure rules, in application order; each is an
    * engine-portable pattern (Java regex ∩ RE2 — no lookaround, no
    * pattern backrefs) paired with a replacement TEMPLATE in which
    * `«n»` marks capture group n. The template is rendered per engine
    * ([[renderMarkdownTemplate]]: `$n` for Spark/Java, `\n` for the
    * oracle's RE2) because the two dialects disagree on group-reference
    * syntax; newlines in templates are REAL newline characters, never
    * `\`+`n` sequences — RE2's rewrite parser rejects any backslash
    * escape other than a group digit.
    *
    * Order is load-bearing: headings before the generic block-boundary
    * rule (their own boundary newlines must win), links before
    * emphasis (emphasis inside anchor text then renders INSIDE the
    * link's `[...]`), all content rules before the generic tag strip. */
  val MarkdownRules: Seq[(String, String)] =
    (1 to 6).map(n =>
      s"(?is)<h$n[^>]*>(.*?)</h$n>" -> s"\n\n${"#" * n} «1»\n\n") ++ Seq(
      "(?is)<a\\b[^>]*?href\\s*=\\s*\"([^\"]*)\"[^>]*>(.*?)</a>" ->
        "[«2»](«1»)",
      "(?is)<(?:b|strong)\\b[^>]*>(.*?)</(?:b|strong)>" -> "**«1»**",
      "(?is)<(?:i|em)\\b[^>]*>(.*?)</(?:i|em)>" -> "*«1»*",
      "(?is)<code\\b[^>]*>(.*?)</code>" -> "`«1»`",
      "(?i)<li[^>]*>" -> "\n- ",
      "(?i)<br\\s*/?\\s*>" -> "\n",
      "(?i)</(?:p|div|ul|ol|table|blockquote|section|article|pre)>" ->
        "\n\n")

  /** The `<head>` block, dropped whole by [[htmlToMarkdown]] (after the
    * script/style strips, so an unclosed script inside head cannot hide
    * the closing tag). */
  val MarkdownHeadPattern: String = "(?is)<head[^>]*>.*?</head>"

  /** Render a [[MarkdownRules]] replacement template for one engine:
    * `javaGroups=true` → `$n` (Spark's Java `Matcher` rewrite), else
    * `\n` (DuckDB's RE2 rewrite). */
  def renderMarkdownTemplate(tpl: String, javaGroups: Boolean): String = {
    val out = new StringBuilder
    var i = 0
    while (i < tpl.length) {
      if (tpl.charAt(i) == '«' && i + 2 < tpl.length &&
          tpl.charAt(i + 2) == '»') {
        out.append(if (javaGroups) "$" else "\\").append(tpl.charAt(i + 1))
        i += 3
      } else { out.append(tpl.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** HTML → Markdown — the structure-PRESERVING corpus render (the
    * markdownify/"LLM-ready text" class): where [[stripHtml]] flattens a
    * page to one line of plain text, this keeps the document structure a
    * language model actually trains on — heading levels (`#`…`######`),
    * list items (`- `), hyperlinks (`[text](url)`), emphasis
    * (`**`/`*`), inline code (`` ` ``), and paragraph/line boundaries —
    * and drops everything else (scripts, styles, comments, the
    * remaining tags), then decodes entities and normalizes whitespace
    * HORIZONTALLY only (markdown's newlines are semantic: runs of
    * spaces collapse, blank-line runs clamp to one blank line, newlines
    * survive).
    *
    * Markdown metacharacters already present in the TEXT are left
    * unescaped (a corpus render, not a round-trippable converter) —
    * documented non-goal, like [[stripHtml]]'s entity subset. Only
    * double-quoted `href`s render as links (the dominant spelling;
    * unquoted/single-quoted anchors fall back to their inner text via
    * the generic strip, and [[Links.extractLinks]] remains the link
    * EXTRACTION surface). Null HTML → null. One narrow codegen'd
    * regexp_replace chain — per-row work inside the scan stage, no
    * shuffle, no UDF; every pattern/template is shared with the DuckDB
    * oracle by construction ([[renderMarkdownTemplate]]). Output
    * column: `markdown`. */
  def htmlToMarkdown(docs: DataFrame, textCol: String = "html"): DataFrame = {
    // script/style/comments like stripHtml, PLUS the whole <head> —
    // title/meta text is not body text in a structure-preserving render
    val blocks = (HtmlStripPatterns.dropRight(1) :+ MarkdownHeadPattern)
      .foldLeft(col(textCol)) { (c, pat) => regexp_replace(c, pat, " ") }
    val structured = MarkdownRules.foldLeft(blocks) { case (c, (pat, tpl)) =>
      regexp_replace(c, pat, renderMarkdownTemplate(tpl, javaGroups = true))
    }
    val stripped = regexp_replace(structured, "<[^>]+>", " ")
    val decoded = HtmlEntities.foldLeft(stripped) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    val hCollapsed = regexp_replace(decoded, "[ \\t]+", " ")
    val tight = regexp_replace(hCollapsed, " ?\\n ?", "\n")
    val clamped = regexp_replace(tight, "\\n{3,}", "\n\n")
    docs.withColumn("markdown",
      regexp_replace(clamped, "^\\s+|\\s+$", ""))
  }

  /** The windows-1252 printable extras beyond Latin-1: glyphs (what a
    * mojibake string shows) paired with the BYTES they decoded from
    * (U+0080–U+009F), in byte order — a `translate` over this pair IS
    * the cp1252 re-encode for the extras, so plain ISO-8859-1 (one of
    * Spark 4's allowed codecs) finishes the job. Bytes 81/8D/8F/90/9D
    * are undefined in cp1252 and absent. */
  private val Cp1252Glyphs =
    "€‚ƒ„…†‡ˆ‰Š" +
      "‹ŒŽ‘’“”•–—" +
      "˜™š›œžŸ"
  private val Cp1252Bytes =
    "\u0080\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089\u008A" +
      "\u008B\u008C\u008E\u0091\u0092\u0093\u0094\u0095\u0096\u0097" +
      "\u0098\u0099\u009A\u009B\u009C\u009E\u009F"

  /** Mojibake repair — the ftfy-style double-encoding fix, a standard
    * crawl-cleanup pass: text that was UTF-8 ENCODED but windows-1252
    * DECODED somewhere upstream ("cafÃ©", "donâ€™t", "Ã¼ber") is
    * repaired by reversing the wrong decode — map the cp1252 extra
    * glyphs back to their 0x80–0x9F bytes (`translate`), re-encode the
    * rest as ISO-8859-1 (together ≡ a cp1252 encode, recovering the
    * original UTF-8 bytes) and decode as UTF-8. Fully declarative
    * (translate/encode/decode/rlike — codegen'd, no UDF), guarded
    * three ways so clean text NEVER changes:
    *  1. marker: the text contains a classic mojibake lead-byte
    *     rendering (Ã / Â / â€ — UTF-8 lead bytes C3/C2/E2 as cp1252);
    *  2. encodable: every char is Latin-1 or a cp1252 extra glyph
    *     (otherwise the re-encode would be lossy);
    *  3. valid: the recovered bytes are valid UTF-8 (`is_valid_utf8`)
    *     — a marker hit whose bytes are NOT valid UTF-8 (a genuine
    *     'Ã(' in clean text) keeps the original; the gate also keeps
    *     Spark 4's strict `decode` from ever seeing malformed input.
    * Output: input columns with `textCol` repaired in place +
    * `mojibake_fixed` boolean. */
  def fixMojibake(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val marker = t.rlike("Ã|Â|â€")
    val encodable = !t.rlike(s"[^\\x00-\\xFF$Cp1252Glyphs]")
    val recovered =
      encode(translate(t, Cp1252Glyphs, Cp1252Bytes), "ISO-8859-1")
    val fixable = marker && encodable &&
      call_function("is_valid_utf8", recovered)
    // CaseWhen short-circuits: the strict decode runs on fixable rows
    // only, where validity is already proven
    val repaired = when(fixable, decode(recovered, "UTF-8")).otherwise(t)
    docs
      .withColumn("mojibake_fixed",
        coalesce(fixable && repaired =!= t, lit(false)))
      .withColumn(textCol, when(col("mojibake_fixed"), repaired).otherwise(t))
  }

  /** PII patterns, in redaction order. Kept engine-portable (work unchanged
    * in Java regex and RE2): email, IPv4, US-style dashed/spaced phone. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b")

  /** Redact PII spans with `replacement`; also reports per-pattern match
    * counts (counted on the ORIGINAL text, so counts are independent of
    * redaction order). Narrow transform, no shuffle. */
  def redactPii(docs: DataFrame, textCol: String = "text",
      replacement: String = "[PII]"): DataFrame = {
    val cleaned = PiiPatterns.foldLeft(col(textCol)) { case (c, (_, pat)) =>
      regexp_replace(c, pat, replacement)
    }
    val counted = PiiPatterns.foldLeft(docs) { case (d, (name, pat)) =>
      d.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)))
    }
    counted.withColumn("text_clean", cleaned)
  }
}
