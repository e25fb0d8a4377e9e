package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Column-tree forms of the URL kernels ([[Urls.canonicalHost]],
  * [[Urls.canonicalUrl]], [[Urls.resolveUrl]]): the reference UrlsSpec
  * fuzzes each kernel expression against. The catalog no longer plans
  * them: instantiated per call site across the crawl-layer operators,
  * their 40–300-node trees made Catalyst planning the dominant cost of
  * whole faces (q_index_admission: 1.9 s of 2.9 s in driver gaps at 32
  * cores). */
object UrlColumnForms {

  /** The Column form of [[Urls.canonicalHost]]: the same java.util.regex
    * patterns under the same extract/replace conventions the kernel
    * composes in one expression node. */
  def canonicalHostExpr(url: Column): Column = {
    val lowered = lower(trim(url))
    val noScheme = regexp_replace(lowered, "^[a-z][a-z0-9+.-]*://", "")
    val noUser = regexp_replace(noScheme, "^[^/?#@]*@", "")
    val authority = regexp_extract(noUser, "^([^/?#]*)", 1)
    val noPort = regexp_replace(authority, ":[0-9]*$", "")
    val noWww = regexp_replace(noPort, "^www\\.", "")
    regexp_replace(noWww, "\\.+$", "")
  }

  /** The Column form of [[Urls.canonicalUrl]]. */
  def canonicalUrlExpr(url: Column): Column = {
    val u = graft.functions.UrlFunctions.percentNormalize(trim(url))
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme0 = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val scheme = when(scheme0 === "", lit("http")).otherwise(scheme0)
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val restNoUser = regexp_replace(rest, "^[^/?#@]*@", "")
    val authority = regexp_extract(restNoUser, "^([^/?#]*)", 1)
    val port = nullif(regexp_extract(authority, ":([0-9]+)$", 1), lit(""))
    val keepPort = port.isNotNull &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val pathRaw = regexp_extract(restNoUser, "^[^/?#]*(/[^?#]*)", 1)
    // dot-segment resolution as one array fold: '.' and empty segments
    // (duplicate slashes) drop in the filter; '..' pops the accumulator
    // (clamped at the root, per the RFC's remove_dot_segments)
    val segs = filter(split(pathRaw, "/"), x => x =!= "" && x =!= ".")
    val resolved = aggregate(segs, array().cast("array<string>"),
      (acc, x) => when(x === "..",
          when(size(acc) > 0, slice(acc, lit(1), size(acc) - 1))
            .otherwise(acc))
        .otherwise(concat(acc, array(x))))
    val path = concat(lit("/"), array_join(resolved, "/"))
    val qRaw = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = filter(split(qRaw, "&"), p => {
      val k = regexp_extract(p, "^([^=]*)", 1)
      p =!= "" && !k.startsWith("utm_") && !k.isInCollection(Urls.defaultTrackingParams)
    })
    val query = when(size(kept) > 0,
      concat(lit("?"), array_join(array_sort(kept), "&"))).otherwise(lit(""))
    concat(scheme, lit("://"), canonicalHostExpr(u),
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")), path, query)
  }

  /** The Column form of [[Urls.resolveUrl]]. */
  def resolveUrlExpr(base: Column, ref: Column): Column = {
    val b = regexp_replace(trim(base), "#.*$", "")
    val r = regexp_replace(trim(ref), "#.*$", "")
    val scheme = regexp_extract(b, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    val schemeAuth =
      regexp_extract(b, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val path = regexp_extract(b, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val pathOrRoot = when(path === "", lit("/")).otherwise(path)
    // the base path's directory: everything up to and incl. the last '/'
    val dir = regexp_replace(pathOrRoot, "/[^/]*$", "/")
    val pathQuery =
      regexp_extract(b, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    when(base.isNull || ref.isNull, lit(null).cast("string"))
      .when(r.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), r)
      .when(r.startsWith("//"), concat(scheme, lit(":"), r))
      .when(r.startsWith("/"), concat(schemeAuth, r))
      .when(r.startsWith("?"), concat(schemeAuth, pathOrRoot, r))
      .when(r === "", concat(schemeAuth, pathQuery))
      .otherwise(concat(schemeAuth, dir, r))
  }
}
