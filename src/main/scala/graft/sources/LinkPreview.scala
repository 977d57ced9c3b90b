package graft.sources

import graft.functions.{Filters, Scorers}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-head enrichment — the relational re-expression of the reference's
  * LinkPreview pipeline (/root/reference/crawl4ai/link_preview.py:75-394):
  * take the links a scrape extracted, filter them (side, glob patterns,
  * max-links cap), fetch/serve their `<head>` content through the seeder's
  * TTL head store, BM25-score the head text against a query (the
  * "contextual" relevance the reference's URLSeeder computes,
  * link_preview.py:200-208), and stamp every enriched link with
  * `total_score = 0.7·intrinsic + 0.3·(contextual·10)` (utils.py:3238-3283
  * via [[Scorers.totalLinkScore]]).
  *
  * Scale shape: the candidate set dedups to DISTINCT hrefs before touching
  * the head store (one hash shuffle), the store/fetch joins are url-keyed
  * equi-joins from [[Seeder.refreshHeadStore]] (O(delta) store commit), BM25
  * corpus stats are two broadcast scalars, and the final enrichment is one
  * url-keyed join back to the link rows. The only orderBy is under a LIMIT
  * (TakeOrdered) and exists only when `maxLinks` caps the set — nothing
  * global otherwise.
  */
object LinkPreview {

  final case class Config(
      includeInternal: Boolean = true,
      includeExternal: Boolean = false,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = Nil,
      /** > 0 caps the candidate URLs in (internal-first, page, position)
        * extraction order, like filtered_urls[:max_links] (:160-165). */
      maxLinks: Int = 0,
      /** BM25 query for the contextual head score; empty = no contextual
        * scoring (total_score falls back per calculate_total_score). */
      query: Seq[String] = Nil,
      nowMs: Long = 0L,
      ttlMs: Long = Seeder.HeadTtlMs)

  /** Enrich extracted links with head data + scores.
    *
    * @param links (page_url, href, link_pos, is_internal, intrinsic_score)
    *              — one row per extracted link occurrence
    * @param store head store (url, status, head, fetched_at) — the seeder
    *              cache; pass an empty frame for a cold start
    * @param fetch head-fetch results (url, status, head) for cache misses —
    *              the I/O seam (tests/fixtures inject deterministic heads)
    * @return (enriched links, updated head store): every input link row comes
    *         back; filtered-in links gain (head_status, head, contextual
    *         score, total_score), filtered-out links keep head_status
    *         "not_requested" and a null contextual score
    */
  /** The DISTINCT head-request URLs `enrich` will ask the store/fetch seam
    * for — _filter_links (:113-174): side gate, include/exclude globs,
    * max-links cap. Exposed so the caller can build its fetch frame for
    * exactly this set (minus TTL-fresh store hits) instead of computing head
    * data for every extracted href — the fetch seam is only ever consulted
    * for these urls, anything else is discarded work.
    */
  def requests(links: DataFrame, cfg: Config): DataFrame = {
    val side =
      (if (cfg.includeInternal) col("is_internal") else lit(false)) ||
      (if (cfg.includeExternal) !col("is_internal") else lit(false))
    val patterned = links.where(side)
      .where(if (cfg.includePatterns.isEmpty) lit(true)
             else Filters.patternFilter(col("href"), cfg.includePatterns))
      .where(if (cfg.excludePatterns.isEmpty) lit(true)
             else !Filters.patternFilter(col("href"), cfg.excludePatterns))
    val capped =
      if (cfg.maxLinks > 0)
        patterned.orderBy(col("is_internal").desc, col("page_url"),
          col("link_pos")).limit(cfg.maxLinks)
      else patterned
    capped.select(col("href").as("url")).distinct()
  }

  /** The TTL-fresh subset of `requests` already served by `store` — the
    * complement (left_anti) is the set a caller must cover with its fetch
    * frame. Mirrors [[Seeder.refreshHeadStore]]'s freshness rule exactly.
    */
  def freshHits(requests: DataFrame, store: DataFrame, cfg: Config): DataFrame =
    requests.select("url").join(store, Seq("url"))
      .where(lit(cfg.nowMs) - col("fetched_at") <= cfg.ttlMs)
      .select("url")

  def enrich(links: DataFrame, store: DataFrame, fetch: DataFrame,
             cfg: Config): (DataFrame, DataFrame) = {
    val requestUrls = requests(links, cfg)

    // ---- head extraction through the seeder's TTL cache (:176-221) --------
    val (served, newStore) =
      Seeder.refreshHeadStore(store, requestUrls, fetch, cfg.nowMs, cfg.ttlMs)

    // ---- contextual BM25 over VALID head text (:200-208) ------------------
    val contextual =
      if (cfg.query.isEmpty)
        served.select(col("url").as("href"), col("status").as("head_status"),
          col("head"), lit(null).cast("double").as("contextual_score"))
      else {
        val valid = served.where(col("status") === "valid" && col("head") =!= "")
        val scored = graft.ops.Bm25.score(valid, "url", "head", cfg.query)
          .withColumnRenamed("doc_id", "url")
        served.join(scored, Seq("url"), "left")
          .select(col("url").as("href"), col("status").as("head_status"),
            col("head"),
            when(col("status") === "valid" && col("head") =!= "",
              coalesce(col("score"), lit(0.0))).as("contextual_score"))
      }

    // ---- _merge_head_data (:276-394): join back, total_score --------------
    val enriched = links
      .join(contextual, Seq("href"), "left")
      .select(links.columns.toSeq.map(col) ++ Seq(
        coalesce(col("head_status"), lit("not_requested")).as("head_status"),
        coalesce(col("head"), lit("")).as("head"),
        col("contextual_score"),
        Scorers.totalLinkScore(col("intrinsic_score"),
          col("contextual_score")).as("total_score")): _*)
    (enriched, newStore)
  }
}
