package graft

import graft.core.ScrapedDoc
import graft.frontier.{Crawl, CrawlConfig, CrawlSummary}
import graft.scrape.{CssExtract, Markdown, Meta, Scrape, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The user-facing facade: one object per reference entry point, so a
  * crawl4ai user can map their calls one-to-one (see API.md for the full
  * mapping table).
  *
  *  - `crawl`       ↔ `AsyncWebCrawler.arun / arun_many` with a
  *                    `deep_crawl_strategy` (BFS/DFS/BestFirst)
  *  - `scrapeHtml`  ↔ `arun("raw:...")` — one document, no network
  *  - `markdown`    ↔ `DefaultMarkdownGenerator.generate_markdown`
  *  - `extractCss`  ↔ `JsonCssExtractionStrategy.extract`
  *  - `extractTables` ↔ `WebScrapingStrategy` table extraction
  *  - `metadata`    ↔ head metadata extraction
  *  - `seedUrls`    ↔ `AsyncUrlSeeder.urls / aseed_urls`
  */
final class Graft(val spark: SparkSession) {

  graft.plans.GraftExtensions.install(spark)

  /** Deep crawl: seeds through the epoch loop against a page store (the
    * fetch layer at test/bench time) with politeness + robots + dedup;
    * state snapshots under `runDir`.
    */
  def crawl(seeds: DataFrame, pages: DataFrame, robots: DataFrame,
            runDir: String, cfg: CrawlConfig = CrawlConfig()): CrawlSummary =
    Crawl.run(spark, seeds, pages, robots, runDir, cfg)

  /** Docs (doc_id, spans, links, …) produced by a crawl run. */
  def docs(runDir: String): DataFrame = Crawl.docs(spark, runDir)

  /** Deterministic visit order of a crawl run. */
  def visits(runDir: String): DataFrame = Crawl.visits(spark, runDir)

  /** One raw document → interleaved span doc (no crawl state). */
  def scrapeHtml(url: String, html: String,
                 cfg: Scrape.Config = Scrape.Config()): ScrapedDoc =
    Scrape.scrape(url, html, cfg)

  /** Markdown (raw + citations + references) for a fetched page — the
    * html2text-fidelity pipeline (clean → convert → citation rewrite). */
  def markdown(html: String, baseUrl: String = ""): Markdown.MarkdownResult =
    Markdown.fromHtml(html, baseUrl)

  /** Schema-driven CSS extraction → JSON string. */
  def extractCss(html: String, schema: CssExtract.Schema): String =
    CssExtract.toJson(CssExtract.extract(html, schema))

  /** Semantic-cluster extraction over a page's text sections (CosineStrategy). */
  def extractClusters(sections: Seq[String],
                      cfg: graft.scrape.CosineExtract.Config = graft.scrape.CosineExtract.Config())
      : Seq[graft.scrape.CosineExtract.Cluster] =
    graft.scrape.CosineExtract.extract(sections, cfg)

  /** Structural data tables of a document. */
  def extractTables(html: String): Seq[Tables.TableData] = Tables.extract(html)

  /** Head metadata (title/description/og/twitter/canonical). */
  def metadata(html: String): Map[String, String] = Meta.extractMetadata(html)

  /** Seed discovery: union sources, dedup, filter, optional head-BM25 rank. */
  def seedUrls(sources: Seq[(String, DataFrame)],
               headText: Option[DataFrame] = None,
               query: Seq[String] = Nil,
               maxUrls: Int = Int.MaxValue): DataFrame =
    graft.sources.Seeder.seedPipeline(sources, headText, query, maxUrls = maxUrls)

  /** TTL-expire a committed crawl epoch: its URLs re-queue for refetch on
    * the next `crawl` over the same runDir. The seen set and every seen
    * filter file stay as they are. */
  def expireEpoch(runDir: String, epoch: Int): Long =
    Crawl.expireEpoch(spark, runDir, epoch)

  /** PDF binaries → page rows (real parser incl. xref tables/streams and
    * /ObjStm; deterministic stub fallback for unparseable bytes). */
  def pdfPages(docs: org.apache.spark.sql.Dataset[graft.sources.Pdf.PdfBinary])
      : org.apache.spark.sql.Dataset[graft.sources.Pdf.PdfPage] =
    graft.sources.Pdf.pages(docs)

  /** Train corpus embeddings (windowed co-occurrence → PPMI → signed random
    * projection) and get back an [[graft.ops.Embedder]] usable by every
    * semantic operator (`extractClusters`, adaptive crawling, near-dup). */
  def trainEmbedder(df: DataFrame, textCol: String,
                    dim: Int = 64): graft.ops.CorpusEmbed.TrainedEmbedder =
    graft.ops.CorpusEmbed.train(df, textCol, dim)

  /** End-to-end training-corpus curation: quality + repetition gates →
    * exact dedup → fuzzy dedup → optional span dedup → optional benchmark
    * decontamination → deterministic sample. One lazy plan (exception:
    * `fuzzy = "embedding"` runs one count at build time to scale its
    * hyperplane count to the input — documented in
    * [[graft.ops.Dedup.embeddingNearDup]]); every stage is an
    * individually-oracled operator (see [[graft.ops.Curate]]). */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
                   bench: Option[DataFrame] = None,
                   benchTextCol: String = "text",
                   cfg: graft.ops.CurateConfig = graft.ops.CurateConfig(),
                   embedder: graft.ops.Embedder = graft.ops.Embedder.default)
      : DataFrame =
    graft.ops.Curate.curateCorpus(docs, idCol, textCol, bench, benchTextCol,
      cfg, embedder)
}
