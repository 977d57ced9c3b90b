package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL scorer library as pure Column expressions (whole-stage-codegen'd; no
  * UDFs in the frontier hot path).
  *
  * Semantics re-expressed from the reference's scorer classes
  * (/root/reference/crawl4ai/deep_crawling/scorers.py):
  *  - keywordRelevance  — KeywordRelevanceScorer (:160-188): matched/total.
  *  - pathDepthScore    — PathDepthScorer (:190-245): lookup [1, .5, 1/3, .25]
  *    by |depth-optimal|, else 1/(1+d).
  *  - contentTypeScore  — ContentTypeScorer (:247-330): extension → weight.
  *  - freshnessScore    — FreshnessScorer (:332-412): latest year in URL,
  *    table [1.0 .. 0.5] by age, else max(0.1, 1-0.1·diff), no year → 0.5.
  *  - domainAuthority   — DomainAuthorityScorer (:414-519): host → weight.
  *  - composite         — CompositeScorer (:91-158): sum of weighted scores,
  *    optionally normalized by count.
  *
  * All take the URL as a Column and return DoubleType Columns, so Catalyst
  * folds them into the frontier projection (one codegen stage, no shuffle).
  */
object Scorers {

  /** Path component of a URL (scheme://host/path?q → /path). */
  def urlPath(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)

  /** Host (lowercased, port stripped) — DomainAuthorityScorer._extract_domain. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#:]*)", 1))

  /** Segment count of the path: "" or "/" → 0 (PathDepthScorer._quick_depth). */
  def pathDepth(url: Column): Column =
    size(filter(split(urlPath(url), "/"), s => s =!= ""))

  /** Fraction of keywords present as substrings (case-insensitive). */
  def keywordRelevance(url: Column, keywords: Seq[String]): Column = {
    if (keywords.isEmpty) lit(0.0)
    else {
      val u = lower(url)
      val hits = keywords.map(k => when(u.contains(k.toLowerCase), 1).otherwise(0))
        .reduce(_ + _)
      hits.cast("double") / lit(keywords.size.toDouble)
    }
  }

  /** Distance-from-optimal-depth lookup score. */
  def pathDepthScore(url: Column, optimalDepth: Int = 3): Column = {
    val d = abs(pathDepth(url) - lit(optimalDepth))
    when(d === 0, 1.0)
      .when(d === 1, 0.5)
      .when(d === 2, 1.0 / 3.0)
      .when(d === 3, 0.25)
      .otherwise(lit(1.0) / (lit(1.0) + d.cast("double")))
  }

  /** Lowercased file extension of the URL (query/fragment-safe), "" if none. */
  def urlExtension(url: Column): Column =
    lower(regexp_extract(url, "\\.([A-Za-z0-9]+)(?:[?#;].*)?$", 1))

  /** Extension → weight map lookup, default 0. Map is a literal (broadcast by
    * Catalyst as part of the plan — no join).
    */
  def contentTypeScore(url: Column, typeWeights: Map[String, Double]): Column = {
    val m = map(typeWeights.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    coalesce(element_at(m, urlExtension(url)), lit(0.0))
  }

  /** Latest plausible year (1900-2099, ≤ currentYear) appearing after a
    * /, - or _ separator; 0.5 when absent.
    */
  def freshnessScore(url: Column, currentYear: Int = 2024): Column = {
    val years = regexp_extract_all(url, lit("(?:/|[-_])((?:19|20)\\d{2})"), lit(1))
    val valid = filter(years, y => y.cast("int") <= lit(currentYear))
    val latest = array_max(transform(valid, _.cast("int")))
    val diff = lit(currentYear) - latest
    when(latest.isNull, 0.5)
      .when(diff === 0, 1.0).when(diff === 1, 0.9).when(diff === 2, 0.8)
      .when(diff === 3, 0.7).when(diff === 4, 0.6).when(diff === 5, 0.5)
      .otherwise(greatest(lit(0.1), lit(1.0) - diff.cast("double") * 0.1))
  }

  /** Host → authority weight, default for unknown hosts. */
  def domainAuthority(url: Column, weights: Map[String, Double],
                      default: Double = 0.5): Column = {
    if (weights.isEmpty) lit(default)
    else {
      val m = map(weights.toSeq.flatMap { case (k, v) => Seq(lit(k.toLowerCase), lit(v)) }: _*)
      coalesce(element_at(m, urlHost(url)), lit(default))
    }
  }

  /** Weighted sum of scorer columns, optionally mean-normalized. */
  def composite(scores: Seq[(Column, Double)], normalize: Boolean = true): Column = {
    if (scores.isEmpty) lit(0.0)
    else {
      val total = scores.map { case (c, w) => c * lit(w) }.reduce(_ + _)
      if (normalize) total / lit(scores.size.toDouble) else total
    }
  }

  /** Total link score = 0.7·intrinsic + 0.3·(contextual·10), neutral 5.0
    * fallback (utils.py:3238-3283).
    */
  def totalLinkScore(intrinsic: Column, contextual: Column): Column = {
    val scaled = least(contextual * 10.0, lit(10.0)) // contextual_scaled cap
    greatest(lit(0.0), least(lit(10.0),               // final [0,10] clamp
      when(intrinsic.isNull && contextual.isNull, 5.0)
        .when(contextual.isNull, intrinsic)
        // both-present branch: a null intrinsic is 0.0 (utils.py:3267)
        .otherwise(coalesce(intrinsic, lit(0.0)) * 0.7 + scaled * 0.3)))
  }
}
