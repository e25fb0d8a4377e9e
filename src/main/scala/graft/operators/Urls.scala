package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** URL canonicalization and domain-level corpus statistics — the
  * CommonCrawl-style pre-filter every pretraining prep pipeline runs
  * before content-level dedup/quality: fold each document's URL to a
  * canonical host, aggregate per-domain document/token volumes, surface
  * the heaviest domains, and drop documents from blocklisted domains.
  *
  * Everything here is either a pure codegen'd string expression
  * ([[canonicalHost]] — anchored regexes only, so replace-first vs
  * replace-all engines agree) or one partial-agg-friendly groupBy on the
  * canonical host; the blocklist is broadcast (a blocklist is
  * human-curated — thousands of rows, never corpus-sized). Nothing
  * shuffles document text: [[domainStats]] reduces each doc to
  * `(domain, 1, n_tokens)` before the exchange, and [[domainFilter]]'s
  * anti-join streams the corpus map-side past the broadcast list. At
  * 100 TB the per-domain relation is bounded by the number of distinct
  * registrable hosts (~10⁸ worst case — still a small table), and the
  * top-k is the k-bounded [[graft.functions.TopK]] heap, never a global
  * sort.
  *
  * Scope note: canonicalization is HOST-level (scheme/userinfo/port/
  * `www.`/trailing-dot stripping + lowercasing). Registrable-domain
  * grouping (`a.b.co.uk` → `b.co.uk`) needs the public-suffix list — a
  * versioned external artifact a cluster deployment ships as a small
  * table and joins exactly like the blocklist; it is deliberately not
  * baked in here.
  */
object Urls {

  /** Canonical host of a URL, as a single codegen'd column expression:
    * lowercase, strip the scheme (`http://`, `HTTPS://`, any
    * RFC-3986 `scheme://`), strip userinfo (`user:pw@`), cut the
    * authority at the first `/`, `?` or `#`, strip an explicit port,
    * strip ONE leading `www.`, strip trailing dots (the FQDN root-dot
    * form). Null URL → null; a URL with no host (e.g. `"/rel/path"`)
    * → empty string — both are their own stratum downstream, never
    * silently merged with a real domain.
    *
    * Every regex is anchored (`^`/`$`), so engines that replace all
    * matches (Spark) and engines that replace the first (DuckDB) compute
    * the same value — the property the oracle parity of the q_url_*
    * faces rests on. */
  def canonicalHost(url: Column): Column =
    graft.functions.UrlFunctions.canonicalHost(url)

  /** Query parameters every crawl pipeline strips before URL-level
    * dedup: pure click-tracking noise that multiplies one page into
    * thousands of distinct URLs. `utm_*` is handled as a PREFIX rule in
    * [[canonicalUrl]]; these are the exact-name complements. */
  val defaultTrackingParams: Seq[String] =
    Seq("fbclid", "gclid", "msclkid", "mc_eid", "igshid")

  /** Full-URL canonicalization — the URL-level dedup key every crawl
    * pipeline computes (the other half of crawl dedup, next to content
    * hashing): one canonical spelling per page so that tracking-param /
    * fragment / case / dot-segment / default-port variants collapse.
    *
    * Transforms (each a standard member of the canonicalization suites
    * shipped by crawl tooling):
    *  - scheme lowercased; a scheme-less URL defaults to `http`;
    *  - host via [[canonicalHost]] (lowercase, userinfo/`www.`/trailing
    *    dots stripped);
    *  - default port dropped (`:80` under http, `:443` under https);
    *    any other explicit port kept;
    *  - path dot-segments resolved (RFC 3986 §5.2.4: `.` dropped, `..`
    *    pops — never above the root), duplicate and trailing slashes
    *    collapsed; the empty path renders as `/`;
    *  - query: tracking params stripped (`utm_*` prefix +
    *    [[defaultTrackingParams]]), remaining params BYTE-SORTED for a
    *    stable spelling, `?` dropped when nothing survives;
    *  - fragment always dropped (never sent to the server);
    *  - percent-encoding normalized FIRST
    *    ([[graft.functions.UrlFunctions.percentNormalize]], RFC 3986
    *    §6.2.2.2): unreserved escapes decode (`%41` → `A`, `%7E` → `~`),
    *    reserved escapes keep uppercase hex (`%2f` → `%2F`), malformed
    *    `%` stays byte-for-byte. Running it first means a `%2E` spelled
    *    dot-segment (`/a/%2E%2E/b` — a classic traversal/trap spelling)
    *    resolves like a literal one, per the RFC's ordering of the two
    *    normalizations.
    *
    * Pure built-in expressions + array HOFs over anchored regexes (plus
    * the one codegen'd percent kernel) — no UDF, null URL → null. A URL
    * with no host canonicalizes around an empty authority (its own
    * stratum downstream, like [[canonicalHost]]). */
  def canonicalUrl(url: Column,
      dropParams: Seq[String] = defaultTrackingParams): Column =
    graft.functions.UrlFunctions.canonicalUrl(url, dropParams)

  /** RFC 3986 §5.2 reference resolution: the absolute target URL of a
    * reference `ref` found on a page whose URL is `base` — the step
    * between link EXTRACTION and link CANONICALIZATION in every crawl
    * frontier/out-link pipeline (hrefs are overwhelmingly relative).
    *
    * Dispatch per the RFC's transform-references algorithm:
    *  - `ref` carries a scheme (`s:…`) → ref is already absolute;
    *  - network-path (`//host/p`) → base scheme + ref;
    *  - absolute-path (`/p`) → base scheme+authority + ref;
    *  - query-only (`?q`) → base scheme+authority+path + ref;
    *  - empty / fragment-only → base itself (fragment dropped — it
    *    never reaches the server);
    *  - relative path → merged with the base path's directory (the
    *    base path up to and including its last `/`; an authority-only
    *    base merges against `/`).
    *
    * Dot-segments in the merged path are NOT resolved here — the
    * canonical pipeline is `canonicalUrl(resolveUrl(base, ref))`, and
    * [[canonicalUrl]] performs remove_dot_segments (plus the
    * normalizations the RFC leaves to the application). Pure anchored
    * regex + conditional expressions, codegen'd; null base or ref →
    * null. `base` is assumed absolute (a crawl's page URLs are). */
  def resolveUrl(base: Column, ref: Column): Column =
    graft.functions.UrlFunctions.resolveUrl(base, ref)

  /** SURT-form URL key (`com,example)/path?query`) — the sort key of
    * the CDX index format crawl archives publish (CommonCrawl's
    * `cdx-*.gz`): host labels REVERSED and comma-joined, so one domain's
    * records — and one registrable domain's subdomains — are
    * lexicographically contiguous and range-scannable; then `)` and the
    * canonical path+query. Built on [[canonicalUrl]], so every
    * canonicalization class (case, default port, dot-segments,
    * tracking params, fragment) collapses before the key forms; a
    * non-default port rides after the host labels (`com,example:8080)`).
    * Pure expressions; null URL → null. */
  def surtKey(url: Column): Column = {
    val cu = canonicalUrl(url)
    val host = regexp_extract(cu, "^[a-z][a-z0-9+.-]*://([^/?#:]*)", 1)
    val port = regexp_extract(cu, "^[a-z][a-z0-9+.-]*://[^/?#]*?(:[0-9]+)(?:[/?#]|$)", 1)
    val rest = regexp_replace(cu, "^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    concat(array_join(reverse(split(host, "\\.")), ","), port, lit(")"),
      when(rest === "", lit("/")).otherwise(rest))
  }

  /** Per-domain corpus volumes: `(domain, n_docs, n_tokens)` — the
    * domain-level ledger a corpus audit and every quota/mixing decision
    * reads. One projection reduces each document to its token count
    * before the single hash aggregate on the canonical host; document
    * text never crosses the exchange. */
  def domainStats(docs: DataFrame, urlCol: Column,
      textCol: Column = col("text")): DataFrame =
    docs.select(canonicalHost(urlCol).as("domain"),
        size(tokens(textCol)).cast("long").as("__t"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))

  /** The k heaviest domains by token volume as ONE deterministic row:
    * `top_domains` is a comma-joined `domain:n_docs:n_tokens` list in
    * (n_tokens desc, domain asc) order — the [[Profile.keySkew]]
    * string-tie TopK contract, k-bounded heap, no global sort — plus the
    * corpus-wide totals the shares are read against. */
  def domainTopK(docs: DataFrame, urlCol: Column,
      textCol: Column = col("text"), k: Int = 5): DataFrame = {
    import graft.functions.TopK
    require(k >= 1, s"k must be >= 1, got $k")
    domainStats(docs, urlCol, textCol).agg(
      count(lit(1)).as("n_domains"),
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      TopK.topKByOrdStrTie(
        concat_ws(":", col("domain"), col("n_docs"), col("n_tokens")),
        col("n_tokens"), col("domain"), k).as("__top"))
      .select(col("n_domains"), col("n_docs"), col("n_tokens"),
        concat_ws(",", col("__top")).as("top_domains"))
  }

  /** Documents whose canonical host is NOT on the blocklist — the
    * domain-level drop that runs before any content-level filter. The
    * blocklist (`domain` column, already-canonical hosts) is broadcast;
    * the corpus streams past it map-side (left_anti), so the filter
    * costs one scan and zero shuffles at any corpus size. Output = the
    * input columns plus the computed `domain` (downstream stages key on
    * it anyway — computing it once here is the shared projection). */
  def domainFilter(docs: DataFrame, urlCol: Column,
      blocklist: DataFrame): DataFrame =
    docs.withColumn("domain", canonicalHost(urlCol))
      .join(broadcast(blocklist.select(col("domain"))), Seq("domain"),
        "left_anti")

  /** Registrable domain (eTLD+1) per document under a caller-provided
    * public-suffix table — the grouping level corpus quotas actually
    * want (`a.blog.co.uk` and `b.blog.co.uk` are one site; `co.uk`
    * alone is not): the LONGEST suffix of the canonical host present in
    * `suffixes` (column `suffix`, canonical form, ≤ `maxSuffixLabels`
    * labels) is the public suffix, and the registrable domain is that
    * suffix plus one more label. A host matching no listed suffix takes
    * the PSL fallback rule (the bare TLD is the suffix → registrable =
    * last two labels); a host with no label left of its suffix (the
    * suffix itself, e.g. a bare `co.uk`) yields the host unchanged.
    * PSL wildcard (`*.ck`) and exception (`!www.ck`) rules are not
    * interpreted here — [[registrableDomainsPsl]] handles the full rule
    * syntax; this entry point stays for pre-expanded plain tables.
    *
    * Output: `(idCol, host, reg_domain)` — a narrow ledger the caller
    * joins or aggregates on.
    *
    * Scale shape: candidate suffixes explode to ≤ maxSuffixLabels rows
    * per doc and meet the suffix table on a BROADCAST semi-join (the
    * real PSL is ~10⁴ rows — blocklist-class); the arg-max over
    * candidates is one partial-agg-friendly struct-max keyed on the doc
    * id, and the fallback left-join is id-keyed narrow rows. Two
    * exchanges of (id, host)-width rows, document text untouched. */
  /** Registrable domain (eTLD+1) under the FULL public-suffix-list rule
    * syntax — plain rules plus wildcards (`*.ck`: every direct child of
    * `ck` is a public suffix) and exceptions (`!www.ck`: despite a
    * covering wildcard, `www.ck` is NOT a public suffix — the public
    * suffix is the rule minus its leftmost label, so `www.ck` itself is
    * registrable). Matching follows the published PSL algorithm: among
    * matching rules an exception prevails outright; otherwise the rule
    * with the most labels wins; a host matching nothing takes the
    * fallback rule `*` (bare TLD). A host that IS a public suffix (no
    * label left of it) yields itself unchanged — the
    * [[registrableDomains]] convention.
    *
    * `rules` carries one raw PSL line per row in column `rule`
    * (canonical-form hosts; comments/blank lines pre-stripped — the PSL
    * file's framing, not its semantics). Same scale shape as
    * [[registrableDomains]]: ≤ `maxSuffixLabels` candidate rows per doc
    * against a BROADCAST rule table (the real PSL is ~10⁴ rows), one
    * struct-max per doc (exception priority rides the struct's first
    * field), narrow id-keyed rows throughout; text untouched. */
  def registrableDomainsPsl(docs: DataFrame, idCol: String, urlCol: Column,
      rules: DataFrame, maxSuffixLabels: Int = 4): DataFrame = {
    require(maxSuffixLabels >= 1, s"maxSuffixLabels=$maxSuffixLabels")
    // parse the rule syntax ONCE, rule-table side: (base, kind) where a
    // candidate suffix of k labels equal to `base` implies a public
    // suffix of k (plain), k+1 (wildcard — the rule's own label count),
    // or k−1 labels (exception — the rule minus its leftmost label)
    val parsed = rules.select(
      when(col("rule").startsWith("!"), substring(col("rule"), 2, 1 << 24))
        .when(col("rule").startsWith("*."), substring(col("rule"), 3, 1 << 24))
        .otherwise(col("rule")).as("base"),
      when(col("rule").startsWith("!"), lit(2))
        .when(col("rule").startsWith("*."), lit(1))
        .otherwise(lit(0)).as("kind"))
    val base = docs.select(col(idCol), canonicalHost(urlCol).as("host"))
    val labels = split(col("host"), "\\.")
    val cand = base.select(col(idCol), col("host"),
      posexplode(transform(
        sequence(lit(1), least(lit(maxSuffixLabels), size(labels))),
        i => array_join(slice(labels, -i, i), "."))).as(Seq("__p", "suf")))
      .withColumn("k", col("__p") + 1).drop("__p")
    val matched = cand.join(broadcast(parsed), col("suf") === col("base"))
      .select(col(idCol),
        struct(
          (col("kind") === 2).cast("int").as("prio"), // exception prevails
          when(col("kind") === 1, col("k") + 1)       // then most labels
            .when(col("kind") === 2, col("k") - 1)
            .otherwise(col("k")).as("eff")).as("m"))
      .groupBy(col(idCol)).agg(max(col("m")).as("m"))
      .select(col(idCol), col("m.eff").as("__eff"))
    val n = size(split(col("host"), "\\."))
    val keep = least(col("__eff") + 1, n)
    base.join(matched, Seq(idCol), "left")
      .withColumn("__eff", coalesce(col("__eff"), lit(1))) // PSL fallback: *
      .select(col(idCol), col("host"),
        array_join(slice(split(col("host"), "\\."), -keep, keep), ".")
          .as("reg_domain"))
  }

  /** Crawler-trap signals per URL — the frontier pre-filter every
    * production crawler runs before spending a fetch: infinite URL
    * spaces (calendar pages, session-id echoes, faceted-search
    * explosions, self-referencing relative links) show up as repeated
    * path segments, pathological depth, parameter bloat, or sheer URL
    * length long before content proves the trap. Appends to each row:
    *  - `path_depth`: non-empty `/`-separated path segments;
    *  - `n_dup_segments`: segments minus DISTINCT segments — the
    *    repeated-segment evidence (`/a/b/a/b/a/b` → 4);
    *  - `n_params`: non-empty `&`-separated query parameters;
    *  - `url_len`: total URL characters;
    *  - `trap`: any threshold exceeded (defaults follow common crawler
    *    practice: depth > 16, any repeat ≥ `maxDupSegments`, params >
    *    12, length > 512).
    * Pure narrow per-row expressions (one regex pull each for path and
    * query, array HOFs after) — no shuffle, no UDF; at 100 TB this is
    * a free rider on the frontier's existing projection. Heuristics,
    * not proofs: a caller tunes thresholds per crawl policy. */
  def trapSignals(urls: DataFrame, urlCol: Column,
      maxDepth: Int = 16, maxDupSegments: Int = 3, maxParams: Int = 12,
      maxLen: Int = 512): DataFrame = {
    require(maxDepth >= 1 && maxDupSegments >= 1 && maxParams >= 1 &&
      maxLen >= 1, "trap thresholds must be >= 1")
    val segs = filter(
      split(regexp_extract(urlCol,
        "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1), "/"),
      x => x =!= "")
    val params = filter(
      split(regexp_extract(urlCol, "\\?([^#]*)", 1), "&"),
      x => x =!= "")
    urls
      .withColumn("path_depth", size(segs))
      .withColumn("n_dup_segments",
        size(segs) - size(array_distinct(segs)))
      .withColumn("n_params", size(params))
      .withColumn("url_len", length(urlCol))
      .withColumn("trap",
        col("path_depth") > maxDepth ||
          col("n_dup_segments") >= maxDupSegments ||
          col("n_params") > maxParams ||
          col("url_len") > maxLen)
  }

  def registrableDomains(docs: DataFrame, idCol: String, urlCol: Column,
      suffixes: DataFrame, maxSuffixLabels: Int = 4): DataFrame = {
    require(maxSuffixLabels >= 1, s"maxSuffixLabels=$maxSuffixLabels")
    val base = docs.select(col(idCol), canonicalHost(urlCol).as("host"))
    val labels = split(col("host"), "\\.")
    // suffix candidates: the last i labels for i = 1..min(maxSuffixLabels, n)
    val cand = base.select(col(idCol), col("host"),
      posexplode(transform(
        sequence(lit(1), least(lit(maxSuffixLabels), size(labels))),
        i => array_join(slice(labels, -i, i), "."))).as(Seq("__p", "suf")))
      .withColumn("k", col("__p") + 1).drop("__p")
    val matched = cand.join(broadcast(suffixes.select(col("suffix"))),
        col("suf") === col("suffix"), "left_semi")
      .groupBy(col(idCol))
      .agg(max(struct(col("k"), col("host"))).as("m"))
      .select(col(idCol), col("m.k").as("__k"))
    base.join(matched, Seq(idCol), "left")
      .withColumn("__k", coalesce(col("__k"), lit(1))) // PSL fallback: bare TLD
      .select(col(idCol), col("host"),
        array_join(slice(split(col("host"), "\\."),
          -least(col("__k") + 1, size(split(col("host"), "\\."))),
          least(col("__k") + 1, size(split(col("host"), "\\.")))), ".")
          .as("reg_domain"))
  }
}
