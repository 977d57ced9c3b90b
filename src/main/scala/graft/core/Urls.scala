package graft.core

import graft.core.PyUrl._

/** URL canonicalization & classification — the dedup key path of the engine.
  *
  * Semantics re-expressed from the reference (public code, studied not copied):
  *  - `canonicalize`  = effective runtime `normalize_url`
  *    (/root/reference/crawl4ai/utils.py:2122-2205 — the extended definition
  *    shadows the earlier one at :2102 at import time): resolve against base,
  *    lowercase netloc, percent-normalize path (quote∘unquote), strip trailing
  *    '/' except root, drop tracking params, lowercase+sort query keys, drop
  *    fragment.
  *  - `canonicalizeDeep` = `normalize_url_for_deep_crawl` (utils.py:2208-2253):
  *    the visited-set key for BFS/DFS/BestFirst — no percent-normalization, no
  *    key lowercasing, parse_qs drops blank values, keys keep first-seen order,
  *    smaller tracking set, rstrip('/') including root.
  *  - `baseDomain` = get_base_domain (utils.py:2320-2368), `isExternal` =
  *    is_external_url (utils.py:2371-2402).
  *
  * All pure string→string; registered as UDFs once per session by
  * [[graft.GraftFunctions]]. `url_hash = xxhash64(canonical)` uses Spark's
  * built-in in plans ([[Xxh64]] matches it JVM-side).
  */
object Urls {

  private val trackingExt = Set(
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "ref", "ref_src")

  private val trackingDeep = Seq("utm_source", "utm_medium", "utm_campaign", "ref", "fbclid")

  /** Extended canonicalization (link/seed key). Returns null for empty href. */
  def canonicalize(href: String, baseUrl: String): String = {
    if (href == null || href.isEmpty) return null
    val full = urljoin(baseUrl, href.trim)
    val p = parse(full)
    val netloc = p.netloc.toLowerCase
    var path = quote(unquote(p.path))
    if (path.endsWith("/") && path != "/") path = path.reverse.dropWhile(_ == '/').reverse
    var query = p.query
    if (query.nonEmpty) {
      var params = parseQsl(query, keepBlank = true).map { case (k, v) => (k.toLowerCase, v) }
      params = params.filterNot { case (k, _) => trackingExt.contains(k) }
      val sorted = params.sortBy(_._1) // scala sortBy is stable, like list.sort
      query = if (sorted.nonEmpty) urlencode(sorted) else ""
    }
    Parts(p.scheme, netloc, path, query, "").unparse
  }

  /** Deep-crawl canonicalization (visited-set key). Returns null for empty href. */
  def canonicalizeDeep(href: String, baseUrl: String): String = {
    if (href == null || href.isEmpty) return null
    val full = urljoin(baseUrl, href.trim)
    val p = parse(full)
    val netloc = p.netloc.toLowerCase
    var query = p.query
    if (query.nonEmpty) {
      // parse_qs: group values by key, first-seen key order, blanks dropped
      val pairs = parseQsl(query, keepBlank = false)
      val keyOrder = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[String]]
      pairs.foreach { case (k, v) =>
        keyOrder.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += v
      }
      trackingDeep.foreach(keyOrder.remove)
      val flat = keyOrder.toSeq.flatMap { case (k, vs) => vs.map(k -> _) }
      query = if (flat.nonEmpty) urlencode(flat) else ""
    }
    val path = p.path.reverse.dropWhile(_ == '/').reverse
    Parts(p.scheme, netloc, path, query, "").unparse
  }

  /** Host (netloc incl. port) of a URL, lowercased; "" if none. */
  def host(url: String): String =
    if (url == null) "" else parse(url).netloc.toLowerCase

  private val twoLevelTlds = Set("co", "com", "org", "gov", "edu", "net",
    "mil", "int", "ac", "ad", "ae", "af", "ag")

  /** eTLD+1-ish base domain (reference get_base_domain semantics). */
  def baseDomain(url: String): String = {
    var domain = host(url)
    if (domain.isEmpty) return ""
    val colon = domain.indexOf(':')
    if (colon >= 0) domain = domain.substring(0, colon)
    if (domain.startsWith("www.")) domain = domain.substring(4)
    val parts = domain.split("\\.")
    if (parts.length > 2 && twoLevelTlds.contains(parts(parts.length - 2)))
      parts.takeRight(3).mkString(".")
    else parts.takeRight(2).mkString(".")
  }

  private val specialSchemes = Seq("mailto:", "tel:", "ftp:", "file:", "data:", "javascript:")

  /** is_external_url semantics (utils.py:2371-2402). */
  def isExternal(url: String, base: String): Boolean = {
    if (url == null) return false
    val lower = url.toLowerCase
    if (specialSchemes.exists(lower.startsWith)) return true
    val netloc = host(url)
    if (netloc.isEmpty) return false
    val urlDomain = netloc.replace("www.", "")
    val b = base.toLowerCase.replace("www.", "")
    !urlDomain.endsWith(b)
  }

  /** Path depth: segments of the path component (scorers.py:190-230). */
  def pathDepth(url: String): Int = {
    val p = parse(url).path
    if (p.isEmpty || p == "/") 0
    else p.split("/").count(_.nonEmpty)
  }

  /** URL-validity predicate for frontier admission
    * (bfs_strategy.py:46-66): http(s) scheme, netloc present, dotted domain.
    */
  def isValidCrawlUrl(url: String): Boolean = {
    if (url == null) return false
    val p = parse(url)
    (p.scheme == "http" || p.scheme == "https") && p.netloc.nonEmpty && p.netloc.contains(".")
  }

  private val nonsensePatterns: Seq[String => Boolean] = Seq(
    u => u.endsWith("/robots.txt"),
    u => u.endsWith("/favicon.ico"),
    u => u.contains("/wp-admin/"),
    u => u.contains("/wp-login"),
    u => u.contains("sitemap") && (u.endsWith(".xml") || u.endsWith(".xml.gz")),
    u => u.contains("/cdn-cgi/"),
    u => u.contains("/.well-known/"),
    u => u.endsWith(".css") || u.endsWith(".js") || u.endsWith(".map"),
    u => u.contains("?print=") || u.endsWith("/print"),
  )

  /** Nonsense-URL filter (async_url_seeder.py:1284-1378 condensed to the
    * families the seed fixtures exercise: infra files, admin paths,
    * asset extensions, print views).
    */
  def isNonsense(url: String): Boolean = {
    if (url == null) return true
    val u = url.toLowerCase
    nonsensePatterns.exists(p => p(u))
  }

  /** Frontier key: 64-bit hash of the deep-canonical URL (matches Spark's
    * xxhash64 column fn so plans and JVM code agree).
    */
  def urlHash(canonicalUrl: String): Long = Xxh64.hashString(canonicalUrl)
}
