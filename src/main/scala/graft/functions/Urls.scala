package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization for web-corpus dedup — the standard first pass
  * of a crawl pipeline: the same page is fetched under dozens of
  * surface forms (case-varied hosts, default ports, duplicate slashes,
  * tracking parameters, unordered query strings, fragments), and exact
  * content dedup only catches them after a full download. Canonical
  * form:
  *
  *   - scheme and host lowercased
  *   - default port dropped (`:80` for http, `:443` for https)
  *   - duplicate path slashes collapsed, trailing slash dropped
  *     (root path stays `/`; an empty path becomes `/`)
  *   - tracking parameters removed (`utm_*`, `fbclid`, `gclid`,
  *     `msclkid`, `ref`)
  *   - surviving query parameters sorted (full `k=v` byte order)
  *   - fragment dropped
  *
  * Everything is built-in column algebra (regexp + split + filter +
  * array_sort) — whole-stage codegen'd, no UDF boundary, safe to run
  * at crawl scale as a map-side projection on the scan.
  */
object Urls {

  private val UrlRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(.*)$"

  private def trackingParam(p: Column): Column =
    p.startsWith("utm_") || p.startsWith("fbclid=") ||
      p.startsWith("gclid=") || p.startsWith("msclkid=") ||
      p.startsWith("ref=") || (p === "")

  /** Canonical form of `url`; null for strings that do not parse as
    * absolute `scheme://authority...` URLs (no guessing — a relative
    * or garbage "URL" must not silently canonicalize to itself).
    *
    * Hot-path shape (guide §1.2 per-task work — this projection runs
    * on every candidate of every crawl wave): the master regex is
    * matched ONCE per row — `regexp_replace` rewrites the url into a
    * ``-delimited scheme/host/path/tail record and one split
    * recovers the groups. The previous four `regexp_extract(url,
    * UrlRe, i)` calls each re-ran the full match (r17 probe: the
    * canonicalize stages carried 10–18 task-seconds per f_* query).
    * Port/trailing-slash/query trims are startsWith/substr algebra
    * instead of three more anchored regexes. A non-matching url
    * passes through regexp_replace unchanged (size ≠ 4 ⇒ null,
    * exactly the old no-match test); `` cannot occur in a valid
    * absolute URL (control chars must be %-encoded), so any input
    * holding one is null up front — a non-matching string with three
    * raw U+0001 bytes would otherwise split into four parts and
    * canonicalize to garbage.
    */
  def canonicalizeUrl(url: Column): Column = {
    val arr = split(
      regexp_replace(url, UrlRe, "$1$2$3$4"),
      "", -1)
    val scheme = lower(get(arr, lit(0)))
    val host0 = lower(get(arr, lit(1)))
    val host = when(scheme === "http" && host0.endsWith(":80"),
        host0.substr(lit(1), length(host0) - 3))
      .when(scheme === "https" && host0.endsWith(":443"),
        host0.substr(lit(1), length(host0) - 4))
      .otherwise(host0)
    val path0 = regexp_replace(get(arr, lit(2)), "/{2,}", "/")
    val path = when(path0 === "", lit("/"))
      // after //-collapse at most ONE trailing slash exists, so the
      // substr trim equals the old regexp_replace(path0, "/$", "")
      .when(path0 =!= "/" && path0.endsWith("/"),
        path0.substr(lit(1), length(path0) - 1))
      .otherwise(path0)
    // tail = "?query#frag" | "?query" | "#frag" | ""; keep query only
    val tail = get(arr, lit(3))
    val query = when(tail.startsWith("?"),
        element_at(split(tail.substr(lit(2), length(tail)), "#", 2), 1))
      .otherwise(lit(""))
    val params = array_join(
      array_sort(filter(split(query, "&"), p => !trackingParam(p))), "&")
    when(url.contains("\u0001") || size(arr) =!= 4 || host0 === "",
        lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(params === "", lit("")).otherwise(concat(lit("?"), params))))
  }
}
