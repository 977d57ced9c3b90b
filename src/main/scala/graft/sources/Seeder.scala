package graft.sources

import graft.core.Urls
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seed-URL discovery sources — the relational re-expression of the
  * reference's AsyncUrlSeeder (/root/reference/crawl4ai/async_url_seeder.py):
  *
  *  - sitemap source (:765-957): `<urlset>`/`<sitemapindex>` parsing with
  *    recursive sub-sitemap expansion → here an iterative explode-join over
  *    a `sitemaps(url, xml)` store (each round one distributed explode; the
  *    recursion depth is bounded, the data never visits the driver).
  *  - Common-Crawl-style index source (:709-762): jsonl rows filtered by a
  *    URL glob.
  *  - the union + shared-dedup + nonsense-filter + scoring + max_urls
  *    pipeline (:267-448): union with source rank → first-wins per canonical
  *    URL → nonsense predicate → optional head-text BM25 relevance →
  *    `orderBy(desc(score)).limit(maxUrls)`.
  */
object Seeder {

  /** Extract `<loc>` entries from one sitemap XML (plain regex parse — the
    * grammar subset is `<urlset>`/`<sitemapindex>`; tolerant of whitespace).
    */
  val locPattern = "(?s)<loc>\\s*(.*?)\\s*</loc>"

  /** One expansion round: rows whose xml is a sitemapindex yield sub-sitemap
    * URLs; urlset rows yield page URLs. Input (url, xml); output
    * (url, kind, loc) with kind ∈ {"sitemap","page"}.
    */
  def expandOnce(sitemaps: DataFrame): DataFrame = {
    val isIndex = col("xml").contains("<sitemapindex")
    sitemaps.select(col("url"),
        when(isIndex, lit("sitemap")).otherwise(lit("page")).as("kind"),
        explode(regexp_extract_all(col("xml"), lit(locPattern), lit(1))).as("loc"))
  }

  /** Full recursive expansion against a sitemap store (url → xml), bounded
    * by `maxDepth` rounds. Returns discovered page URLs with their source
    * sitemap.
    */
  def expandSitemaps(roots: DataFrame, store: DataFrame, maxDepth: Int = 3): DataFrame = {
    var frontier = roots.select(col("url")) // sitemap URLs to fetch this round
    var pages: DataFrame = null
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      val fetched = frontier.join(store, Seq("url"))
      val expanded = expandOnce(fetched).cache()
      val newPages = expanded.where(col("kind") === "page")
        .select(col("url").as("sitemap_url"), col("loc").as("url"))
      pages = if (pages == null) newPages else pages.unionByName(newPages)
      frontier = expanded.where(col("kind") === "sitemap").select(col("loc").as("url"))
      depth += 1
    }
    if (pages == null) roots.sparkSession.emptyDataFrame else pages.distinct()
  }

  /** CC-index-style source: jsonl rows with a `url` field, glob-filtered
    * (the reference queries a star-dot-domain-slash-star glob; fnmatch
    * glob → rlike).
    */
  def ccIndex(indexRows: DataFrame, urlGlob: String): DataFrame = {
    val re = "^" + graft.functions.Filters.globToRegex(urlGlob) + "$"
    indexRows.select(get_json_object(col("value"), "$.url").as("url"))
      .where(col("url").isNotNull && col("url").rlike(re))
  }

  /** Per-URL head-data cache with TTL — the relational re-expression of the
    * reference seeder's `_cache_get`/`_cache_set` + head-fetch validate loop
    * (async_url_seeder.py:246-263 mtime-TTL cache, :976-1010 reuse-or-fetch,
    * :68 default 7-day TTL).
    *
    * @param store    cached entries (url, status, head, fetched_at)
    * @param requests URLs needing head data (url)
    * @param fetch    the head-fetch source standing in for the network
    *                 (url, status, head)
    * @return (served, newStore): head data for every request (cache hits
    *         keep their original fetched_at; misses/stale get `nowMs`), and
    *         the updated store — ONLY stale/missing rows are rewritten, fresh
    *         cache rows are carried unchanged (O(delta) commit shape).
    *
    * Every join keys on `url` — one hash shuffle each, no window, no skew
    * surface (the url key is unique in the store by construction).
    */
  val HeadTtlMs: Long = 7L * 24 * 3600 * 1000 // reference TTL = 7 days

  def refreshHeadStore(store: DataFrame, requests: DataFrame, fetch: DataFrame,
                       nowMs: Long, ttlMs: Long = HeadTtlMs): (DataFrame, DataFrame) = {
    val fresh = requests.select("url").join(store, Seq("url"))
      .where(lit(nowMs) - col("fetched_at") <= ttlMs)
    val toFetch = requests.select("url")
      .join(fresh.select("url"), Seq("url"), "left_anti")
    val fetched = toFetch.join(fetch, Seq("url"), "left")
      .select(col("url"),
        coalesce(col("status"), lit("not_valid")).as("status"),
        coalesce(col("head"), lit("")).as("head"),
        lit(nowMs).as("fetched_at"))
    val served = fresh.select("url", "status", "head", "fetched_at")
      .unionByName(fetched)
    val newStore = store.join(fetched.select("url"), Seq("url"), "left_anti")
      .select("url", "status", "head", "fetched_at")
      .unionByName(fetched)
    (served, newStore)
  }

  /** The seeder pipeline: union sources (rank: sitemap=0, cc=1), drop
    * invalid/nonsense, canonicalize, first-wins per url_hash, optional BM25
    * scoring over head text, max_urls cut. Mirrors :267-448.
    */
  def seedPipeline(sources: Seq[(String, DataFrame)],
                   headText: Option[DataFrame] = None,
                   query: Seq[String] = Nil,
                   scoreThreshold: Double = 0.0,
                   maxUrls: Int = Int.MaxValue): DataFrame = {
    val canon = udf((u: String) => Urls.canonicalizeDeep(u, ""))
    val valid = udf((u: String) => u != null && Urls.isValidCrawlUrl(u) && !Urls.isNonsense(u))
    val unioned = sources.zipWithIndex.map { case ((name, df), rank) =>
      df.select(col("url")).withColumn("source", lit(name))
        .withColumn("src_rank", lit(rank))
    }.reduce(_ unionByName _)
    val canonical = unioned
      .withColumn("url", canon(col("url")))
      .where(valid(col("url")))
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("url_hash").orderBy(col("src_rank"), col("url"))))
      .where(col("rk") === 1)
      .drop("rk")
    val scored = headText match {
      case Some(heads) if query.nonEmpty =>
        // heads: (url, head) — score = simplified BM25 of query vs head text
        val joined = canonical.join(heads, Seq("url"), "left")
        val scoredDf = graft.ops.Bm25.score(
            joined.where(col("head").isNotNull), "url", "head", query)
          .withColumnRenamed("doc_id", "url")
        joined.join(scoredDf, Seq("url"), "left")
          .withColumn("score", coalesce(col("score"), lit(0.0)))
          .where(col("score") >= scoreThreshold)
          .drop("head")
      case _ => canonical.withColumn("score", lit(0.0))
    }
    scored.orderBy(col("score").desc, col("url")).limit(maxUrls)
      .select("url", "url_hash", "source", "score")
  }
}
