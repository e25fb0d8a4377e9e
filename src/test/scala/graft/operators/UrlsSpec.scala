package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Golden vectors for URL canonicalization plus local-reference checks
  * for the domain-level stats/top-k/blocklist operators. */
class UrlsSpec extends SparkSuite {
  import spark.implicits._

  test("canonicalHost: golden vectors") {
    val cases = Seq(
      "http://www.Example.COM/path?q=1" -> "example.com",
      "HTTPS://user:pw@Sub.Example.com:8443/p#frag" -> "sub.example.com",
      "ftp://example.org." -> "example.org",
      "example.net:80/x" -> "example.net",
      "www.example.net" -> "example.net",
      "wWw.WWW.example.com" -> "www.example.com", // ONE www. stripped
      "https://example.com./" -> "example.com",
      "http://example.com:/" -> "example.com", // empty explicit port
      "http://example.com/a@b" -> "example.com", // @ in path, not userinfo
      "  https://Pad.example.com  " -> "pad.example.com",
      "/rel/path" -> "", // no host → empty stratum
      "//odd" -> "" // authority cut at first '/'
    )
    val got = cases.map(_._1).toDF("url")
      .select(Urls.canonicalHost($"url").as("d")).as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
    // null propagates (its own stratum, never merged with a real domain)
    val nul = Seq((1L, null: String)).toDF("id", "url")
      .select(Urls.canonicalHost($"url")).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("domainStats and domainTopK: local reference + deterministic ties") {
    val docs = Seq(
      (0L, "http://www.a.com/x", "one two three"),
      (1L, "https://A.com:8080/y", "four five"),
      (2L, "b.org", "six seven eight nine"),
      (3L, "HTTP://c.net./z", "ten"),
      (4L, "https://user@b.org/p", "eleven")
    ).toDF("doc_id", "url", "text")
    val stats = Urls.domainStats(docs, $"url")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats == Map(
      "a.com" -> ((2L, 5L)), "b.org" -> ((2L, 5L)), "c.net" -> ((1L, 1L))))
    // tie between a.com and b.org at 5 tokens → domain asc breaks it
    val top = Urls.domainTopK(docs, $"url", k = 2)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(top == Seq((3L, 5L, 11L, "a.com:2:5,b.org:2:5")), s"got $top")
  }

  test("registrableDomains: longest listed suffix + 1, PSL fallback, edge hosts") {
    val suffixes = Seq("com", "co.uk", "org", "example.com").toDF("suffix")
    val docs = Seq(
      (0L, "http://a.blog.shop.com/x"),   // com(1) -> shop.com
      (1L, "https://b.shop.co.uk"),       // co.uk(2) beats uk-miss -> shop.co.uk
      (2L, "www.x.example.com"),          // example.com(2) beats com(1) -> x.example.com
      (3L, "co.uk"),                      // suffix itself: host unchanged
      (4L, "svc.intra.internal"),         // unlisted TLD: fallback last-2
      (5L, "localhost"),                  // single unmatched label
      (6L, "/no/host")                    // hostless -> "" stratum
    ).toDF("doc_id", "url")
    val got = Urls.registrableDomains(docs, "doc_id", $"url", suffixes)
      .select($"doc_id", $"reg_domain").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "shop.com", 1L -> "shop.co.uk",
      2L -> "x.example.com", 3L -> "co.uk", 4L -> "intra.internal",
      5L -> "localhost", 6L -> ""), s"got $got")
    // null url propagates to a null reg_domain (its own stratum)
    val nul = Urls.registrableDomains(
      Seq((9L, null: String)).toDF("doc_id", "url"), "doc_id", $"url",
      suffixes).select($"reg_domain").collect()(0)
    assert(nul.isNullAt(0))
  }

  test("registrableDomainsPsl: wildcard, exception, longest-rule, fallback — published PSL semantics") {
    val rules = Seq("com", "co.uk", "org", "example.com",
      "*.ck", "!www.ck").toDF("rule")
    val docs = Seq(
      (0L, "http://a.blog.shop.com/x"),  // plain com(1) -> shop.com
      (1L, "https://b.shop.co.uk"),      // plain co.uk(2) -> shop.co.uk
      (2L, "www.x.example.com"),         // example.com(2) beats com(1) -> x.example.com
      (3L, "http://foo.bar.ck/"),        // *.ck: bar.ck is the suffix -> foo.bar.ck
      (4L, "http://sub.www.ck/"),        // !www.ck beats *.ck -> www.ck
      (5L, "http://a.sub.www.ck/"),      // exception still prevails deeper -> www.ck
      (6L, "foo.ck"),                    // *.ck: host IS the suffix -> unchanged
      (7L, "svc.intra.internal"),        // unlisted TLD fallback -> last 2
      (8L, "/no/host")                   // hostless -> "" stratum
    ).toDF("doc_id", "url")
    val got = Urls.registrableDomainsPsl(docs, "doc_id", $"url", rules)
      .select($"doc_id", $"reg_domain").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "shop.com", 1L -> "shop.co.uk",
      2L -> "x.example.com", 3L -> "foo.bar.ck", 4L -> "www.ck",
      5L -> "www.ck", 6L -> "foo.ck", 7L -> "intra.internal",
      8L -> ""), s"got $got")
    // a plain-rules-only table must agree with registrableDomains exactly
    val plain = Seq("com", "co.uk", "org", "example.com")
    val both = Urls.registrableDomainsPsl(docs.filter($"doc_id" < 3),
        "doc_id", $"url", plain.toDF("rule"))
      .select($"doc_id", $"reg_domain").as[(Long, String)].collect().toMap
    val ref = Urls.registrableDomains(docs.filter($"doc_id" < 3),
        "doc_id", $"url", plain.toDF("suffix"))
      .select($"doc_id", $"reg_domain").as[(Long, String)].collect().toMap
    assert(both == ref)
  }

  test("canonicalUrl: every transform class, one golden per rule") {
    def canon(u: String): String =
      Seq(Tuple1(u)).toDF("url").select(Urls.canonicalUrl($"url")).head().getString(0)
    // scheme lowercase + default
    assert(canon("HTTPS://Example.com/a") == "https://example.com/a")
    assert(canon("example.com/a") == "http://example.com/a")
    // default-port strip is SCHEME-AWARE; other ports kept
    assert(canon("http://e.com:80/a") == "http://e.com/a")
    assert(canon("https://e.com:443/a") == "https://e.com/a")
    assert(canon("https://e.com:80/a") == "https://e.com:80/a")
    assert(canon("http://e.com:8080/a") == "http://e.com:8080/a")
    // dot segments, duplicate + trailing slashes
    assert(canon("http://e.com/a/./b/../c/") == "http://e.com/a/c")
    assert(canon("http://e.com//x///y/../z") == "http://e.com/x/z")
    assert(canon("http://e.com/../../a") == "http://e.com/a") // root clamp
    assert(canon("http://e.com") == "http://e.com/")
    // fragment drop
    assert(canon("http://e.com/a#sec?not=query") == "http://e.com/a")
    // tracking strip + stable query sort; lone '?' drops
    assert(canon("http://e.com/a?utm_source=x&b=2&a=1&fbclid=z&gclid=1") ==
      "http://e.com/a?a=1&b=2")
    assert(canon("http://e.com/a?utm_campaign=c") == "http://e.com/a")
    assert(canon("http://e.com/a?") == "http://e.com/a")
    // host canonicalization rides along (www, userinfo, trailing dot)
    assert(canon("http://u:p@WWW.E.com.:80/a?b=1#f") == "http://e.com/a?b=1")
    // null in → null out
    val n = Seq(Tuple1(null: String)).toDF("url")
      .select(Urls.canonicalUrl($"url").isNull).head().getBoolean(0)
    assert(n)
  }

  test("domainFilter: broadcast blocklist anti-join; hostless rows survive") {
    val docs = Seq(
      (0L, "http://www.bad.com/x", "spam"),
      (1L, "https://good.org/y", "keep me"),
      (2L, "bad.com.", "also spam"),
      (3L, "/no/host", "keep hostless")
    ).toDF("doc_id", "url", "text")
    val block = Seq("bad.com").toDF("domain")
    val kept = Urls.domainFilter(docs, $"url", block)
      .select($"doc_id", $"domain").as[(Long, String)].collect().toMap
    assert(kept == Map(1L -> "good.org", 3L -> ""), s"got $kept")
  }

  test("resolveUrl: RFC 3986 §5.4 reference classes (raw, dot-segments intact)") {
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/./g", // dot-segments resolve downstream
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      "" -> "http://a/b/c/d;p?q",
      "#s" -> "http://a/b/c/d;p?q", // fragment never reaches the server
      "../../g" -> "http://a/b/c/../../g",
      "mailto:z@q.com" -> "mailto:z@q.com", // own scheme → pass-through
      "HTTPS://X.org/p#f" -> "HTTPS://X.org/p")
    val got = cases.map(_._1).toDF("ref")
      .select(Urls.resolveUrl(lit(base), $"ref").as("r"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
    // authority-only base merges relative refs against '/'
    val r2 = Seq("g").toDF("ref")
      .select(Urls.resolveUrl(lit("http://h.com"), $"ref"))
      .as[String].collect()(0)
    assert(r2 == "http://h.com/g")
  }

  test("resolveUrl ∘ canonicalUrl: the composed link-target pipeline") {
    val base = "http://a.com/b/c/d?q=1"
    val cases = Seq(
      "./g" -> "http://a.com/b/c/g",
      "../../g" -> "http://a.com/g",
      "../../../g" -> "http://a.com/g", // clamped at the root
      "g/../h" -> "http://a.com/b/c/h",
      "/x/./y/../z" -> "http://a.com/x/z")
    val got = cases.map(_._1).toDF("ref")
      .select(Urls.canonicalUrl(Urls.resolveUrl(lit(base), $"ref")).as("r"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("surtKey: reversed host labels, port kept, canonical tail") {
    val cases = Seq(
      "http://www.Example.COM:80/a/../b?utm_source=x&b=2&a=1#f" ->
        "com,example)/b?a=1&b=2",
      "https://sub.example.co.uk:8443/p" -> "uk,co,example,sub:8443)/p",
      "http://example.com" -> "com,example)/",
      "HTTPS://example.org/x/" -> "org,example)/x")
    val got = cases.map(_._1).toDF("url")
      .select(Urls.surtKey($"url").as("k")).as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
    // SURT's point: one registrable domain's subdomains sort contiguously
    val keys = Seq("http://b.example.com/", "http://example.com/",
      "http://a.example.com/", "http://examplez.com/")
      .toDF("url").select(Urls.surtKey($"url").as("k"))
      .as[String].collect().toSeq.sorted
    assert(keys == Seq("com,example)/", "com,example,a)/",
      "com,example,b)/", "com,examplez)/"))
  }

  test("percentNormalize: RFC 3986 §6.2.2.2 golden vectors") {
    import graft.functions.UrlFunctions.percentNormalize
    val got = Seq(
      "http://e.com/%7Euser/%61",  // unreserved escapes decode
      "http://e.com/a%2fb?x=%3d1", // reserved escapes: uppercase, kept
      "http://e.com/p%zz/%4",      // malformed %: byte-for-byte
      "http://e.com/plain",        // no-escape fast path
      "%41%2F%ZZ%")                // mixed at string edges
      .toDF("u").select(percentNormalize($"u")).as[String]
      .collect().toSeq
    assert(got == Seq(
      "http://e.com/~user/a",
      "http://e.com/a%2Fb?x=%3D1",
      "http://e.com/p%zz/%4",
      "http://e.com/plain",
      "A%2F%ZZ%"))
  }

  test("canonicalUrl: percent normalization composes with dot-segments") {
    val got = Seq(
      // %2E-spelled traversal pops like a literal ..
      "http://e.com/a/%2E%2e/b",
      // unreserved decode in path + query; reserved kept; tracking strip
      "HTTP://E.com/%7Ex/p%61?q=%41&utm_source=z",
      // escaped spellings collapse onto the plain spelling's canonical
      "http://e.com/%70/1")
      .toDF("u").select(Urls.canonicalUrl($"u")).as[String]
      .collect().toSeq
    assert(got == Seq(
      "http://e.com/b",
      "http://e.com/~x/pa?q=A",
      "http://e.com/p/1"))
  }

  test("trapSignals: each threshold fires alone; clean URLs pass") {
    val urls = Seq(
      // 1: calendar trap — /a/b repeated 3×: 6 segs, 4 dups
      (1L, "http://s.com/a/b/a/b/a/b"),
      // 2: depth 17 > 16, all distinct
      (2L, "http://s.com/" + (1 to 17).map("d" + _).mkString("/")),
      // 3: 13 params > 12
      (3L, "http://s.com/p?" + (1 to 13).map(i => s"k$i=$i").mkString("&")),
      // 4: 600-char URL
      (4L, "http://s.com/" + "y" * 600),
      // 5: clean page — depth 2, 1 param, no dups
      (5L, "http://s.com/a/b?x=1"),
      // 6: bare host — empty path splits to zero segments
      (6L, "http://s.com")).toDF("id", "url")
    val got = Urls.trapSignals(urls, col("url"))
      .select($"id", $"path_depth", $"n_dup_segments", $"n_params",
        $"trap")
      .as[(Long, Int, Int, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 6, 4, 0, true),
      (2L, 17, 0, 0, true),
      (3L, 1, 0, 13, true),
      (4L, 1, 0, 0, true),
      (5L, 2, 0, 1, false),
      (6L, 0, 0, 0, false)))
  }

  test("trapSignals: thresholds are dials") {
    val urls = Seq((1L, "http://s.com/a/a?x=1&y=2")).toDF("id", "url")
    def trap(maxDup: Int, maxParams: Int): Boolean =
      Urls.trapSignals(urls, col("url"), maxDupSegments = maxDup,
        maxParams = maxParams)
        .select($"trap").as[Boolean].collect()(0)
    assert(trap(1, 12)) // one repeated segment already trips at dial 1
    assert(!trap(2, 12)) // default-ish dials keep it
    assert(trap(9, 1)) // params > 1 trips
  }

  test("canonPath/canonQuery kernels ≡ the interpreted HOF forms (differential)") {
    // the exact expressions the r21 kernels replaced, restated here as
    // the reference implementation
    def refPath(pathRaw: org.apache.spark.sql.Column) = {
      val segs = filter(split(pathRaw, "/"), x => x =!= "" && x =!= ".")
      val resolved = aggregate(segs, array().cast("array<string>"),
        (acc, x) => when(x === "..",
            when(size(acc) > 0, slice(acc, lit(1), size(acc) - 1))
              .otherwise(acc))
          .otherwise(concat(acc, array(x))))
      concat(lit("/"), array_join(resolved, "/"))
    }
    def refQuery(qRaw: org.apache.spark.sql.Column) = {
      val kept = filter(split(qRaw, "&"), p => {
        val k = regexp_extract(p, "^([^=]*)", 1)
        p =!= "" && !k.startsWith("utm_") &&
          !k.isInCollection(Urls.defaultTrackingParams)
      })
      when(size(kept) > 0,
        concat(lit("?"), array_join(array_sort(kept), "&"))).otherwise(lit(""))
    }
    val paths = Seq("", "/", "//", "/a", "/a/", "a/b", "/a/./b/../c/",
      "/../..", "/..", "/.", "/a//b///c", "/%2E%2E/x", "/a/b/c/../../../..",
      "/ü/ß/../é", "/a/.../b", "/./.", "/..a/b..", "/a/..b/../c",
      "/🎉/x/../y", "/a b/c d/..", "....", "/a/b/../../../../z")
    val queries = Seq("", "a=1", "a=1&b=2", "b=2&a=1", "utm_x=1",
      "utm_=y", "utm=1", "fbclid=9", "fbclid", "a", "=v", "&&",
      "a=1&&b=2&", "z=1&a=2&m=3", "a=1&a=0", "ütf=8&a=1", "utm_a=1&gclid=2",
      "a==b&c=d=e", "UTM_X=1", "FBCLID=2", "a&b&c", "🎉=1&a=2")
    val df = paths.flatMap(p => queries.map(q => (p, q)))
      .toDF("p", "q")
    val bad = df.select(
        refPath($"p").as("rp"),
        graft.functions.UrlFunctions.canonPath($"p").as("kp"),
        refQuery($"q").as("rq"),
        graft.functions.UrlFunctions.canonQuery($"q",
          Urls.defaultTrackingParams).as("kq"))
      .where(!($"rp" <=> $"kp") || !($"rq" <=> $"kq"))
      .collect()
    assert(bad.isEmpty, s"kernel/HOF divergence: ${bad.mkString("; ")}")
    // null propagation: kernel is null-intolerant like the fold
    val nulls = Seq((null: String, null: String)).toDF("p", "q")
      .select(graft.functions.UrlFunctions.canonPath($"p").isNull,
        graft.functions.UrlFunctions.canonQuery($"q",
          Urls.defaultTrackingParams).isNull)
      .head()
    assert(nulls.getBoolean(0) && nulls.getBoolean(1))
  }

  test("canonicalHost/canonicalUrl/resolveUrl kernels ≡ the retired Column forms (fuzz)") {
    val schemes = Seq("", "http://", "HTTPS://", "ftp://", "weird+x.y://",
      "http:/", "//", "a:", " http://")
    val users = Seq("", "u:p@", "u@", "@")
    val hosts = Seq("example.com", "WWW.Example.COM", "www.e.com.",
      "e.com..", "Ü.example", "e", "", "127.0.0.1", "[::1]", "www.www.e.com")
    val ports = Seq("", ":80", ":443", ":8080", ":", ":0080", ":x")
    val paths = Seq("", "/", "/a/b", "/a/./b/../c/", "//x///y", "/../..",
      "/%2E%2E/x", "/a b/ü", "/a/b/c/../../../../z", "/.", "/..", "/a%2Fb")
    val queries = Seq("", "?", "?a=1&b=2", "?utm_source=x&b=2&a=1",
      "?fbclid=9", "?b=2&a=1&a=0", "?=v&a", "?a==b&&c=d", "?ütf=8")
    val frags = Seq("", "#f", "#a?b=1", "#")
    val urls = (for {
      s <- schemes; h <- hosts; p <- paths; q <- queries
    } yield s + h + p + q).distinct ++ (for {
      u <- users; pt <- ports; f <- frags
    } yield "http://" + u + "e.com" + pt + "/p" + f) ++ Seq(
      "", " ", ".", "..", "a", "%41%2f%7e", "http://u:p@WWW.E.com.:80/a?b=1#f",
      "HTTP://E.COM:00080/", "https://e.com:443?x=1", "e.com:8080/p")
    val urlDf = urls.toDF("u")
    val badHost = urlDf.select($"u",
        UrlColumnForms.canonicalHostExpr($"u").as("r"),
        Urls.canonicalHost($"u").as("k"))
      .where(!($"r" <=> $"k")).collect()
    assert(badHost.isEmpty, s"canonicalHost divergence: ${badHost.take(5).mkString("; ")}")
    val badUrl = urlDf.select($"u",
        UrlColumnForms.canonicalUrlExpr($"u").as("r"),
        Urls.canonicalUrl($"u").as("k"))
      .where(!($"r" <=> $"k")).collect()
    assert(badUrl.isEmpty, s"canonicalUrl divergence: ${badUrl.take(5).mkString("; ")}")
    val bases = Seq("http://e.com/a/b/c?q=1#f", "http://e.com", "https://e.com/",
      "e.com/x", "", "ftp://u@h:21/d/e", "http://e.com/a/", " http://e.com/p ")
    val refs = Seq("", "#f", "x", "./x", "../x", "../../../x", "/abs",
      "//other.com/p", "mailto:a@b", "HTTPS://X.com/", "?q=2", "x/y?z=1#g",
      "a:b", ":x", " /sp ")
    val pairDf = bases.flatMap(b => refs.map(r => (b, r))).toDF("b", "r")
    val badRes = pairDf.select($"b", $"r",
        UrlColumnForms.resolveUrlExpr($"b", $"r").as("e"),
        Urls.resolveUrl($"b", $"r").as("k"))
      .where(!($"e" <=> $"k")).collect()
    assert(badRes.isEmpty, s"resolveUrl divergence: ${badRes.take(5).mkString("; ")}")
    // null propagation matches the retired forms
    val n = Seq((null: String, "x"), ("x", null: String),
        (null: String, null: String)).toDF("b", "r")
      .select(Urls.canonicalHost($"b").isNull.as("h"),
        Urls.canonicalUrl($"b").isNull.as("cu"),
        Urls.resolveUrl($"b", $"r").isNull.as("ru"),
        UrlColumnForms.canonicalHostExpr($"b").isNull.as("he"),
        UrlColumnForms.canonicalUrlExpr($"b").isNull.as("cue"),
        UrlColumnForms.resolveUrlExpr($"b", $"r").isNull.as("rue"))
      .collect()
    n.foreach { row =>
      assert(row.getBoolean(0) == row.getBoolean(3))
      assert(row.getBoolean(1) == row.getBoolean(4))
      assert(row.getBoolean(2) == row.getBoolean(5))
    }
  }
}
