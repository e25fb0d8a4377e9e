package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-pipeline primitives for the LLM-data extensions (SURVEY.md §2.10).
  *
  * Design split:
  *  - string-level work (tokenize, shingle, per-string hashing) uses built-in
  *    codegen'd functions — each string is hashed ONCE with `xxhash64`;
  *  - the H-way minhash family and the 64-bit simhash fold are custom
  *    Catalyst expressions over the precomputed `ARRAY<LONG>` hashes: the
  *    built-in-only formulation (`transform(sequence(0,H-1), i ->
  *    array_min(transform(shingles, s -> xxhash64(s, i))))`) re-hashes every
  *    string H times — at 100 TB that's H× the string-hashing cost, which
  *    dominates. The expressions apply H cheap 64-bit mixes per
  *    already-hashed shingle instead, in one pass, with full codegen.
  */
object TextFunctions {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** GPT-2-style ("BPE-ish") pre-tokenization pattern: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs.
    * This is the *pre-tokenizer* stage of a BPE pipeline — what you count
    * for "roughly how many BPE tokens is this corpus" without shipping a
    * merges table. Public pattern (OpenAI GPT-2 tokenizer), Java-regex
    * adapted. */
  val BpeishPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish token pieces of a text column. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeishPattern), lit(0))

  /** BPE-ish token count — one regexp pass, no array materialized. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit(BpeishPattern))

  /** Unicode NFC normalization (kernel expression) — canonical composition
    * so visually identical strings hash/dedup/join identically (decomposed
    * "e"+U+0301 vs composed "é" — scraped web text mixes both freely, and
    * every downstream hash-keyed operator silently treats them as
    * different documents). Run it FIRST in an ingest pipeline. */
  def nfcNormalize(text: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(text)))

  /** NFC kernel: the `isNormalized` fast path makes the common
    * (already-composed ASCII/NFC) case a scan without allocation. */
  def nfcKernel(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Locale-ROOT lowercase (kernel expression). Spark's built-in `lower`
    * takes `String.toLowerCase()` under the JVM DEFAULT locale on any
    * string carrying a non-ASCII char (`UTF8String.toLowerCaseSlow`), so
    * under a tr/az default locale 'I' folds to dotless 'ı' and a
    * driver-side `Locale.ROOT` pattern fold no longer matches the
    * executor-side column fold. This kernel pins `Locale.ROOT` on both
    * sides regardless of JVM configuration — use it wherever a fold must
    * agree with [[java.util.Locale.ROOT]]-folded reference strings. */
  def rootLower(text: Column): Column =
    Bridge.column(RootLower(Bridge.expression(text)))

  /** ROOT-lowercase kernel: the all-ASCII fast path delegates to
    * UTF8String's branch-free ASCII fold (same cost as built-in `lower`
    * on ASCII); only strings with a non-ASCII char pay the String hop. */
  def rootLowerKernel(s: UTF8String): UTF8String = {
    if (s.isFullAscii) s.toLowerCaseAscii // ASCII-only fast path, locale-free
    else UTF8String.fromString(s.toString.toLowerCase(java.util.Locale.ROOT))
  }

  /** Word n-gram shingles (strings), e.g. k=3 → "a b c" windows.
    *
    * Kernel expression, not an HOF chain: the previous
    * `transform(sequence(…), i -> concat_ws(" ", slice(toks, …)))` form
    * re-evaluated the captured `toks` expression (typically a regex
    * `split` of the whole document) once per window — O(n²) regex work
    * per doc, measured 6.8× slower on the corpus n-gram query at sf0.1.
    * The kernel reads the token array once and stays in codegen. */
  def shingles(toks: Column, k: Int): Column =
    Bridge.column(ShingleStrings(Bridge.expression(toks), k))

  /** 64-bit hash per array element (each string hashed exactly once). */
  def hashed(arr: Column): Column = transform(arr, s => xxhash64(s))

  /** Karp–Rabin polynomial rolling hash over a string's Unicode code
    * points: `h ← (h·B + cp) mod M` with B = 1000003, M = 1e9+7 — the
    * textbook rolling fingerprint. Unlike `xxhash64` the fold is
    * engine-portable integer arithmetic (no engine-private mixing), so an
    * external SQL engine reproduces it exactly from `unicode(char)` code
    * points — which is what puts the fingerprint catalog face under the
    * DuckDB hash gate. All intermediates stay < 2⁵¹ (h < M ≈ 2³⁰,
    * B ≈ 2²⁰), so strict-overflow engines compute it without wrapping. */
  def polyHash(text: Column): Column =
    Bridge.column(PolyHash(Bridge.expression(text)))

  /** [[polyHash]] per array element (mirror of [[hashed]]). */
  def polyHashed(arr: Column): Column = transform(arr, s => polyHash(s))

  /** Kernel for [[PolyHash]] — iterates CODE POINTS (not UTF-16 units) so
    * the fold matches engines that split strings per code point. */
  def polyHashKernel(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 1000003L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Word n-gram shingle HASHES computed directly from per-token hashes —
    * no shingle strings are ever materialized. Each token is hashed once
    * (`xxhash64` inside one `transform`), then [[ShingleHashes]] combines
    * each k-window in a single kernel pass. A shingle's identity is the
    * mix of its k token hashes — equivalent distinctness structure to
    * string shingles for the set-similarity operators, at a fraction of
    * the cost (string building was the dominant term in the dedup
    * profile; an HOF formulation with `element_at(transform(...), i)`
    * silently re-evaluates the inner transform per access — O(n²)/doc). */
  def shingleHashes(toks: Column, k: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(hashed(toks)), k))

  /** MinHash signature (length `numHashes`) over pre-hashed shingles. */
  def minhashSig(shingleHashes: Column, numHashes: Int, seed: Long = 42L): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingleHashes), numHashes, seed))

  /** 64-bit SimHash over pre-hashed tokens. */
  def simhash64(tokenHashes: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokenHashes)))

  /** Exact Jaccard similarity of two array columns (distinct-element). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0d, lit(0.0d)).otherwise(inter / union)
  }

  /** Jaccard over pre-sorted distinct ARRAY<LONG> columns — the quadratic
    * similarity-join hot path. `array_intersect`/`array_union` each build a
    * per-call hash set; with millions of candidate pairs that allocation
    * dominates. [[SortedIntersectCount]] is an allocation-free two-pointer
    * merge, and |A∪B| = |A| + |B| − |A∩B| avoids the second set entirely.
    * Same values as [[jaccard]] given sorted distinct inputs. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = Bridge.column(SortedIntersectCount(
      Bridge.expression(a), Bridge.expression(b))).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union === 0.0d, lit(0.0d)).otherwise(inter / union)
  }

  // ---- pure-Scala kernels (shared by eval and generated code) ------------

  /** splitmix64 finalizer — the standard public-domain 64-bit mixer. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D4028DB77F5939L
    z ^ (z >>> 31)
  }

  def minhashKernel(hashes: ArrayData, numHashes: Int, seed: Long): ArrayData = {
    val n = hashes.numElements()
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val s = mix64(seed + i)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = mix64(hashes.getLong(j) ^ s)
        if (h < best) best = h
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  /** k-window combine over token hashes: out[i] = fold of k consecutive
    * hashes. Fewer than k tokens → one shingle covering them all. */
  def shingleHashKernel(th: ArrayData, k: Int): ArrayData = {
    val n = th.numElements()
    val m = if (n < k) 1 else n - k + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = -3750763034362895579L // FNV offset basis as a fixed seed
      var j = i
      val end = math.min(i + k, n)
      while (j < end) { h = mix64(h ^ th.getLong(j)); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  private val ShingleSep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** k-window string join over tokens: out[i] = toks[i..i+k-1] joined by a
    * space; fewer than k tokens → one shingle covering them all (identical
    * semantics to the retired `when(size < k, …)` HOF form). */
  def shingleStringKernel(toks: ArrayData, k: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = toks.numElements()
    if (n < k) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(j); j += 1 }
      new GenericArrayData(Array[Any](UTF8String.concatWs(ShingleSep, parts: _*)))
    } else {
      val m = n - k + 1
      val out = new Array[Any](m)
      val parts = new Array[UTF8String](k)
      var i = 0
      while (i < m) {
        var j = 0
        while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(ShingleSep, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Two-pointer intersection count over sorted distinct long arrays. */
  def sortedIntersectKernel(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  def simhashKernel(hashes: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** `poly_hash(text)` → LONG Karp–Rabin rolling hash (engine-portable). */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    TextFunctions.polyHashKernel(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.polyHashKernel($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** `nfc_normalize(text)` → STRING in Unicode Normalization Form C. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    TextFunctions.nfcKernel(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.nfcKernel($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

case class RootLower(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "root_lower"

  override def nullSafeEval(input: Any): Any =
    TextFunctions.rootLowerKernel(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.rootLowerKernel($c)")

  override protected def withNewChildInternal(newChild: Expression): RootLower =
    copy(child = newChild)
}

/** `minhash_sig(shingle_hashes)` → ARRAY<LONG> of length `numHashes`.
  * One pass over the input; h_i(x) = splitmix64(x ⊕ splitmix64(seed+i)). */
case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  require(numHashes > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    TextFunctions.minhashKernel(input.asInstanceOf[ArrayData], numHashes, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextFunctions.minhashKernel($c, $numHashes, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `shingle_strings(tokens, k)` → ARRAY<STRING> of space-joined k-windows. */
case class ShingleStrings(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_strings"

  override def nullSafeEval(input: Any): Any =
    TextFunctions.shingleStringKernel(input.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextFunctions.shingleStringKernel($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** `shingle_hashes(token_hashes, k)` → ARRAY<LONG> of k-window combines. */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    TextFunctions.shingleHashKernel(input.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextFunctions.shingleHashKernel($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `sorted_intersect_count(a, b)` over sorted distinct ARRAY<LONG>s. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextFunctions.sortedIntersectKernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextFunctions.sortedIntersectKernel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `simhash64(token_hashes)` → LONG: sign-aggregated bit fingerprint. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    TextFunctions.simhashKernel(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.simhashKernel($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `bloom.mightContainLong(hash)` with the filter as expression state —
  * the hand-placed runtime-filter probe. The sketch serializes ONCE with
  * the plan (`ctx.addReferenceObj`), and the probe is a direct virtual call
  * inside whole-stage codegen; a Scala UDF would box every hash and close
  * over the filter per-row. `org.apache.spark.util.sketch.BloomFilter` is
  * `Serializable`, so task-shipping works exactly like the IVF centroid /
  * LSH plane reference objects in `Similarity`. */
case class BloomContainsLong(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_contains_long"

  override def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomContainsLong =
    copy(child = newChild)
}
