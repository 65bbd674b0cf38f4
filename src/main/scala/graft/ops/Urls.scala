package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * URL parsing and canonicalization for web-corpus curation (the
 * Common-Crawl-style ingest steps: group documents by registered domain,
 * strip tracking parameters so syntactically-different URLs of the same
 * page dedup together, cap documents per domain). The reference has no
 * web-ingest stage; these are the curation operators a 100 TB crawl
 * pipeline needs in front of the dedup/quality family.
 *
 * All extraction is regexp-based (not `parse_url`) on purpose: the same
 * pattern semantics replay in the DuckDB oracle, and everything stays a
 * single codegen'd narrow projection — no shuffle, no UDF. Patterns are
 * restricted to constructs Java regex and RE2 agree on (no backrefs, no
 * lookaround).
 */
object Urls {

  /** Query parameters dropped by [[canonicalize]]: click-tracking noise
    * that multiplies spellings of the same resource. */
  val TrackingParams = "utm_[a-z]+|ref|fbclid|gclid|mc_cid|mc_eid"

  /**
   * Structural parse: scheme, host, registered domain (host minus a
   * leading `www.`), top-level domain, path, raw query string. Scheme and
   * host are case-insensitive per RFC 3986 and are lowercased at
   * extraction; path/query keep their case. Columns append to the input
   * row (pure projection).
   */
  def parse(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val host = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val domain = regexp_replace(host, "^www\\.", "")
    df.withColumn("scheme", lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)))
      .withColumn("host", host)
      .withColumn("domain", domain)
      .withColumn("tld", regexp_extract(domain, "\\.([a-z0-9-]+)$", 1))
      .withColumn("path", regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1))
      .withColumn("query", regexp_extract(u, "\\?([^#]*)", 1))
  }

  /**
   * Canonical URL: lowercase scheme+host, drop the fragment, drop
   * tracking query parameters (keeping the survivors' original order),
   * drop a now-empty `?`, collapse an empty path to `/`. The query
   * rewrite is an array pipeline (`split` → `filter` → `array_join`) so
   * the DuckDB oracle replays it with `list_filter` exactly.
   */
  def canonicalize(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val path = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val rawQuery = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = filter(split(rawQuery, "&"),
      p => !(p.rlike("^(" + TrackingParams + ")=") || p === ""))
    val cleanQuery = array_join(kept, "&")
    df.withColumn("canonical_url", concat(
      scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(cleanQuery === "", lit("")).otherwise(concat(lit("?"), cleanQuery))))
  }

  /** The dot-suffix chain of a host, most-specific first:
    * `a.b.example.org` → `[a.b.example.org, b.example.org, example.org,
    * org]`. A blocklist entry matches a host iff it equals one of these —
    * the standard "block a domain and every subdomain" semantics of
    * UT1-style blocklists. Pure array HOFs, codegen'd, no UDF. */
  def hostSuffixes(host: Column): Column = {
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts) - i + 1), "."))
  }

  /**
   * Domain-blocklist flag against an in-plan literal list — the first
   * gate of every web-corpus pipeline (CCNet / RefinedWeb run a
   * UT1-category blocklist before any content filter). Appends
   * `blocked_by` (the MOST SPECIFIC matching blocklist entry, null when
   * clean) and `blocked`. A pure shuffle-free projection
   * (`arrays_overlap` on the suffix chain), so it runs identically in a
   * stream and pushes past nothing it shouldn't.
   *
   * Fits blocklists up to the tens of thousands (the literal array is
   * broadcast with the plan). For the millions-of-domains regime use
   * [[blocklistFilter]], which joins a blocklist DataFrame instead.
   */
  def blocklistFlag(df: DataFrame, hostCol: String,
      entries: Seq[String]): DataFrame = {
    require(entries.nonEmpty, "empty blocklist")
    val lst = lit(entries.map(_.toLowerCase).toArray)
    val chain = hostSuffixes(lower(col(hostCol)))
    // suffix chain is ordered most-specific first; the first hit wins.
    // `blocked` must be null-safe: a null host (URL parse failure) makes
    // size(hits) null, and a NULL flag would silently drop the row from
    // filter(!blocked) — diverging from blocklistFilter, which keeps
    // null-host rows (explode skips null chains, anti-join retains)
    val hits = filter(chain, s => array_contains(lst, s))
    df.withColumn("blocked_by",
        when(size(hits) > 0, element_at(hits, 1)).otherwise(lit(null)))
      .withColumn("blocked", coalesce(size(hits) > 0, lit(false)))
  }

  /**
   * Blocklist filtering for LARGE blocklists (a blocklist DataFrame with
   * an `entry` column, e.g. millions of registered domains): explode each
   * host's suffix chain, equi-join the blocklist, and anti-join the hits
   * back on `idCol`. The corpus BODY never shuffles — the semi side
   * carries only (id, suffix) skinny rows, and the blocklist side of the
   * equi-join broadcasts when it fits (Spark's planner decides; pass
   * `hintBroadcast = false` to force a shuffle join for blocklists beyond
   * driver memory). Returns the surviving rows unchanged.
   */
  def blocklistFilter(df: DataFrame, hostCol: String, idCol: String,
      blocklist: DataFrame, entryCol: String = "entry",
      hintBroadcast: Boolean = true): DataFrame = {
    val bl = blocklist.select(lower(col(entryCol)).as("__ble")).distinct()
    val blSide = if (hintBroadcast) broadcast(bl) else bl
    val hits = df.select(col(idCol),
        explode(hostSuffixes(lower(col(hostCol)))).as("__suf"))
      .join(blSide, col("__suf") === col("__ble"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(hits, Seq(idCol), "left_anti")
  }

  /**
   * Domain-level quality gate (the RefinedWeb/C4 "judge the site, not
   * just the page" step): roll each host's per-document quality score up
   * to (doc count, mean score), then flag every document of a host that
   * has ENOUGH evidence (`minDocs`) and a mean BELOW `minMeanScore` —
   * spam farms produce many uniformly-poor pages, and the domain mean
   * separates them from a good site's occasional bad page. Hosts below
   * the evidence floor are never blocked (one bad page is not a farm);
   * per-page gates remain the caller's second filter. Returns every
   * input row with `domain_n_docs`, `domain_mean_score` (6 dp, the
   * verdict compares the ROUNDED value so external engines replay it)
   * and `domain_blocked`.
   *
   * Scale shape: one map-side-combined aggregate keyed on host (output
   * rows = |domains|, orders of magnitude below |docs|) broadcast-joined
   * back onto the corpus — the corpus body never shuffles. A hot domain
   * is exactly what the partial aggregate absorbs.
   */
  def domainQualityGate(df: DataFrame, hostCol: String, scoreCol: String,
      minDocs: Long, minMeanScore: Double): DataFrame = {
    require(minDocs >= 1, "minDocs must be >= 1")
    val h = lower(col(hostCol))
    val stats = df.groupBy(h.as("__h"))
      .agg(count(lit(1)).as("domain_n_docs"),
        round(avg(col(scoreCol).cast("double")), 6).as("domain_mean_score"))
    df.join(broadcast(stats), h === col("__h"), "left")
      .withColumn("domain_blocked",
        col("domain_n_docs") >= minDocs &&
          col("domain_mean_score") < minMeanScore)
      .drop("__h")
  }
}
