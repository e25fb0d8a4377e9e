package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Recrawl scheduling — the decision a PERIODIC crawler actually makes
  * per known URL: fetch it fresh, revalidate it with a conditional GET,
  * or skip it entirely. Composes the two standing relations a polite
  * recrawler maintains:
  *  - the sitemap side ([[graft.sources.Sources.sitemapEntries]]):
  *    what the site CLAIMS about each URL's last modification;
  *  - the validator ledger (the 200-class rows of
  *    [[graft.sources.Sources.warcResponses]]): the `ETag` /
  *    `Last-Modified` validators persisted from the previous fetch
  *    (RFC 9110 §8.8), plus the fetch's own date parsed from the
  *    HTTP-date `Last-Modified`.
  *
  * One left equi-join on the canonical URL; the verdict is a
  * projection — at 100 TB both sides are corpus-scale ledgers and the
  * join is the only exchange. Reference behavior surface:
  * idavkaev/kafka-streams-task's keyed enrichment join
  * (WeatherHotelsApp.java:134-142) — here the "enrichment" is the
  * fetch-history state of each sitemap URL.
  */
object Recrawl {

  /** HTTP-date → DATE: "Sat, 01 Feb 2026 00:05:00 GMT" parses via its
    * `dd MMM yyyy` core (RFC 9110 IMF-fixdate; the weekday and clock
    * are irrelevant to a day-granularity lastmod compare). Malformed →
    * NULL, never a task failure. */
  def httpDate(c: Column): Column =
    try_to_timestamp(
      regexp_extract(c, "([0-9]{2} [A-Za-z]{3} [0-9]{4})", 1),
      lit("dd MMM yyyy")).cast("date")

  /** WARC-Date (ISO 8601, `2026-03-01T12:00:00Z`) → DATE; malformed →
    * NULL. The record's capture time is the fetch date a recrawl
    * scheduler ages content by. */
  def warcDate(c: Column): Column =
    try_to_timestamp(
      regexp_extract(c, "^([0-9]{4}-[0-9]{2}-[0-9]{2})", 1),
      lit("yyyy-MM-dd")).cast("date")

  /** The sitemaps.org `changefreq` hint as a freshness period in DAYS
    * (day granularity — `always`/`hourly` are never fresh at it,
    * `never` is always fresh); unknown/absent → 0 (no cadence claim,
    * never fresh by it). */
  def cadencePeriodDays(changefreq: Column): Column =
    when(lower(changefreq) === "daily", lit(1))
      .when(lower(changefreq) === "weekly", lit(7))
      .when(lower(changefreq) === "monthly", lit(30))
      .when(lower(changefreq) === "yearly", lit(365))
      .when(lower(changefreq) === "never", lit(Int.MaxValue))
      .otherwise(lit(0))

  /** [[decide]] extended with the evidence a real recrawler also has —
    * the FETCH date (the ledger's `fetch_date`, from the WARC record's
    * capture time) and the sitemap's declared change cadence
    * (`changefreq`). Verdict, first match wins:
    *  1. no ledger row → `fetch` (unconditional GET);
    *  2. sitemap `lastmod` present: on/before our copy's date
    *     (`fetch_date`, falling back to the response Last-Modified) →
    *     `skip` (the site says nothing changed); AFTER it → the copy is
    *     stale by the site's own statement → `revalidate` with
    *     validators, else `fetch`;
    *  3. no lastmod, but a declared cadence and a fetch date, and the
    *     copy is younger than the period → `skip` (fresh by cadence —
    *     note this can skip even validator-less rows, which [[decide]]
    *     alone would re-fetch);
    *  4. validators present → `revalidate` (conditional GET);
    *  5. `fetch`.
    * `entries` carries `loc`/`lastmod`/`changefreq`; `ledger` carries
    * `url`/`etag`/`last_modified`/`fetch_date` (DATE); `now` is the
    * scheduler's date (a plan literal in tests — determinism).
    * Output: `(url, lastmod, changefreq, etag, last_modified,
    * fetch_date, verdict)`. One left equi-join on the URL, verdict in
    * projection — [[decide]]'s scale shape unchanged. */
  def decideWithCadence(entries: DataFrame, ledger: DataFrame,
      now: Column): DataFrame =
    entries
      .select(col("loc").as("url"), col("lastmod"), col("changefreq"))
      .join(
        ledger.select(col("url"), col("etag"), col("last_modified"),
          col("fetch_date")),
        Seq("url"), "left")
      .withColumn("__row",
        col("etag").isNotNull || col("last_modified").isNotNull ||
          col("fetch_date").isNotNull)
      .withColumn("__have",
        col("etag").isNotNull || col("last_modified").isNotNull)
      .withColumn("__copy",
        coalesce(col("fetch_date"), httpDate(col("last_modified"))))
      .withColumn("__lm",
        try_to_timestamp(col("lastmod"), lit("yyyy-MM-dd")).cast("date"))
      .withColumn("verdict",
        when(!col("__row"), lit("fetch"))
          .when(col("__lm").isNotNull && col("__copy").isNotNull,
            when(col("__lm") <= col("__copy"), lit("skip"))
              .otherwise(when(col("__have"), lit("revalidate"))
                .otherwise(lit("fetch"))))
          .when(col("fetch_date").isNotNull &&
            datediff(now, col("fetch_date")) <
              cadencePeriodDays(col("changefreq")), lit("skip"))
          .when(col("__have"), lit("revalidate"))
          .otherwise(lit("fetch")))
      .drop("__row", "__have", "__copy", "__lm")

  /** Fold a revalidation crawl's RESPONSES into the standing corpus —
    * the step after [[decide]]/[[decideWithCadence]] schedule the
    * conditional GETs: a `304 Not Modified` carries NO payload (RFC 9110
    * §15.4.5), so the new corpus snapshot must splice the prior copy in;
    * a `200` replaces it; a `404`/`410` retires it; a `5xx` keeps the
    * old copy (transient server failure is not content change); URLs
    * the crawl never touched carry forward. Per URL (one full-outer
    * equi-join, verdict + body in projection — at 100 TB both sides are
    * corpus-scale and this is the only exchange):
    *  - no fresh row → `kept`, prior body;
    *  - `200` → `added` (no prior) / `updated`, fresh body;
    *  - `304` with a prior copy → `unchanged`, prior body; WITHOUT one
    *    → `refetch`, null body (RFC 9110 §15.4.5: a cache holding no
    *    stored response for a 304 must retry without validators — a
    *    real crawl anomaly, surfaced instead of dropped);
    *  - `404`/`410` → `retired`, null body;
    *  - anything else (5xx, stray 3xx) → `kept`, prior body.
    * `prior` carries `url`, `body`; `fresh` carries `url`, `status`,
    * `body` (null on non-200s by construction — non-200s never carry a
    * usable payload here). Output: `(url, body, verdict)`. */
  def foldRevalidated(prior: DataFrame, fresh: DataFrame): DataFrame =
    prior.select(col("url"), col("body").as("__pb"))
      .join(
        fresh.select(col("url"), col("status"), col("body").as("__fb")),
        Seq("url"), "full_outer")
      .select(col("url"),
        when(col("status") === 200, col("__fb"))
          .when(col("status").isin(404, 410) ||
            (col("status") === 304 && col("__pb").isNull),
            lit(null).cast("string"))
          .otherwise(col("__pb")).as("body"),
        when(col("status").isNull, lit("kept"))
          .when(col("status") === 200,
            when(col("__pb").isNull, lit("added")).otherwise(lit("updated")))
          .when(col("status") === 304,
            when(col("__pb").isNull, lit("refetch"))
              .otherwise(lit("unchanged")))
          .when(col("status").isin(404, 410), lit("retired"))
          .otherwise(lit("kept")).as("verdict"))

  /** The fetch/revalidate/skip verdict per sitemap entry:
    *  - `fetch` — no ledger row for the URL (never fetched, or the
    *    previous response carried no validators): unconditional GET;
    *  - `skip` — the sitemap `lastmod` is on/before the date of our
    *    recorded copy: the site itself says nothing changed;
    *  - `revalidate` — everything else (lastmod after our copy, or no
    *    usable lastmod/fetch date): conditional GET with the persisted
    *    validators (`If-None-Match` / `If-Modified-Since`).
    * `entries` carries `loc` (+ optional `lastmod`, W3C date);
    * `ledger` carries `url`, `etag`, `last_modified` (HTTP-date).
    * Output: `(url, lastmod, etag, last_modified, verdict)`. */
  def decide(entries: DataFrame, ledger: DataFrame): DataFrame =
    entries
      .select(col("loc").as("url"), col("lastmod"))
      .join(
        ledger.select(col("url"), col("etag"), col("last_modified")),
        Seq("url"), "left")
      .withColumn("__have",
        col("etag").isNotNull || col("last_modified").isNotNull)
      .withColumn("__fetched", httpDate(col("last_modified")))
      .withColumn("verdict",
        when(!col("__have"), lit("fetch"))
          .when(col("lastmod").isNotNull && col("__fetched").isNotNull &&
            try_to_timestamp(col("lastmod"), lit("yyyy-MM-dd"))
              .cast("date") <= col("__fetched"), lit("skip"))
          .otherwise(lit("revalidate")))
      .drop("__have", "__fetched")
}
