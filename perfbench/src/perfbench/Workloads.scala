package perfbench

import graft.core.{Synth, Urls}
import graft.frontier.{BloomStore, Crawl, CrawlConfig, CrawlSummary, SeenDelta, SeenFilters}
import graft.oracle.SeqOracle
import graft.scrape.{Markdown, Scrape}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One pass of a workload: the items it committed, the wall-clock time of
  * each epoch commit (the first entry is the pass start), and the paths it
  * wrote.
  */
final case class PassOut(items: Long, commitsMs: Seq[Long], outputs: Seq[String]) {
  def epochMs: Seq[Double] = commitsMs.sliding(2).collect { case Seq(a, b) => (b - a).toDouble }.toSeq
}

/** Result of the output checks: items checked, items that failed, and
  * whether a deliberately corrupted expectation was caught.
  */
final case class CheckOut(attempted: Long, failed: Long, selfTestCaught: Boolean)

/** The seen-layer numbers a workload can report (see README). */
final case class SeenLayer(antijoinMs: Seq[Double] = Nil, buildMs: Seq[Double] = Nil,
                           compactMs: Double = 0.0, fastpathFrac: Double = 0.0,
                           filterFpFrac: Double = 0.0)

trait Workload {
  def name: String
  /** Passes run before any timed window, so the timed region starts warm. */
  def warmPasses: Int
  /** Materializes the inputs under `dir`; the last call's inputs are used. */
  def setup(dir: String): Unit
  def startWindow(): Unit = ()
  def pass(i: Int, spans: Spans): PassOut
  def check(): CheckOut
  /** Pages and raw URLs for the single-thread kernel timings. */
  def samplePages(n: Int): Seq[Synth.GenPage]
  def sampleUrls(n: Int): Seq[String]
  /** The seen-filter vector to probe and the keys it covers. */
  def probeFilters(): (Seq[SeenDelta], Long)
  def seenLayer(): SeenLayer = SeenLayer()
}

object Workloads {
  val seenSchema = StructType(Seq(StructField("url_hash", LongType)))

  /** (regular files, bytes) under `path`. */
  def usage(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val sizes = s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).toArray
        (sizes.length.toLong, sizes.sum)
      } finally s.close()
    }
  }

  /** Raw forms of a canonical URL that canonicalization must fold back. */
  def variants(url: String, k: Long): String = (k % 4).toInt match {
    case 0 => url
    case 1 => url + "#reviews"
    case 2 => url + "?utm_source=feed"
    case _ =>
      val i = url.indexOf("://") + 3
      val j = url.indexOf('/', i)
      val end = if (j < 0) url.length else j
      url.substring(0, i) + url.substring(i, end).toUpperCase + url.substring(end)
  }

  def siteSample(site: Synth.SiteCfg, seed: Long, n: Int): Seq[Long] = {
    val total = Synth.pageCount(site)
    (0 until n).map(i => math.floorMod(graft.core.Xxh64.hashLong(i.toLong, seed), total))
  }

  /** A bloom over every page URL of `site`, for the filter-probe kernel. */
  def siteFilter(site: Synth.SiteCfg): (Seq[SeenDelta], Long) = {
    val n = Synth.pageCount(site)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(n, 0.03)
    val pph = Synth.pagesPerHost(site)
    for (h <- 0 until site.nHosts; local <- 0 until pph)
      bloom.putLong(Urls.urlHash(Synth.urlOf(site, h, Synth.roleOf(site, local))))
    (Seq(new graft.frontier.BloomDelta(bloom)), n)
  }
}

/** Records when each `manifest_<epoch>.json` of a crawl run appears. */
final class ManifestWatch(runDir: String) {
  private val commits = ArrayBuffer.empty[Long]
  @volatile private var running = true
  private val thread = new Thread(() => {
    var next = 0
    while (running) {
      if (Files.exists(Paths.get(f"$runDir/manifest_$next%04d.json"))) {
        commits.synchronized(commits += System.currentTimeMillis())
        next += 1
      } else Thread.sleep(2)
    }
  }, "perfbench-manifests")
  thread.setDaemon(true)
  thread.start()

  def stop(): Seq[Long] = {
    running = false
    thread.join()
    commits.synchronized(commits.toSeq)
  }
}

/** `Crawl.run` over a generated site whose pages sit in a parquet store. */
final class CrawlWorkload(val name: String, spark: SparkSession, work: String, seed: Long,
                          hosts: Int, hostBudget: Int, maxEpochs: Int, val warmPasses: Int)
    extends Workload {
  import spark.implicits._
  val site = Synth.SiteCfg(seed, hosts, cats = 3, subs = 2, prods = 5)
  val cfg = CrawlConfig(strategy = "bfs", hostBudget = hostBudget, maxEpochs = maxEpochs)
  private var pages: DataFrame = _
  private lazy val seeds = Synth.seeds(site).toDF()
  private lazy val robots = Synth.robots(site).toDF()
  private val runs = ArrayBuffer.empty[(String, CrawlConfig, CrawlSummary)]

  def setup(dir: String): Unit = {
    val s = site
    spark.range(Synth.pageCount(s)).map(i => Synth.pageRecAt(s, i)).write.parquet(dir)
    pages = spark.read.parquet(dir)
  }

  def pass(i: Int, spans: Spans): PassOut = {
    val runDir = s"$work/$name-pass$i"
    val watch = new ManifestWatch(runDir)
    val summary = spans("Crawl.run", "frontier") {
      Crawl.run(spark, seeds, pages, robots, runDir, cfg)
    }
    val commits = watch.stop()
    runs += ((runDir, cfg, summary))
    PassOut(summary.fetched, commits, Seq(runDir))
  }

  def check(): CheckOut = {
    val oracles = runs.map(_._2).distinct.map(c => c -> SeqOracle.crawl(site, c)).toMap
    def mismatches(got: Seq[(Int, Int, String, Int)], want: Seq[(Int, Int, String, Int)]): Long =
      got.zipAll(want, null, null).count { case (a, b) => a != b }.toLong
    var attempted, failed = 0L
    var caught = true
    for ((dir, c, s) <- runs) {
      val oracle = oracles(c)
      val got = Crawl.visits(spark, dir).select("epoch", "visit_rank", "url", "depth")
        .as[(Int, Int, String, Int)].collect().toSeq
      val bad = mismatches(got, oracle.visits) + math.abs(s.seen - oracle.seen.size) +
        math.abs(s.fetched - oracle.crawledDocs.size)
      attempted += s.fetched
      failed += math.min(math.max(s.fetched, 1L), bad)
      val corrupted = oracle.visits.updated(0, oracle.visits.head.copy(_3 = "http://corrupted.example/"))
      caught &&= mismatches(got, corrupted) > 0
    }
    CheckOut(attempted, failed, caught)
  }

  def samplePages(n: Int): Seq[Synth.GenPage] =
    Workloads.siteSample(site, seed, n).map(Synth.pageAt(site, _))
  def sampleUrls(n: Int): Seq[String] =
    samplePages(n).zipWithIndex.map { case (p, i) => Workloads.variants(p.url, i) }
  def probeFilters(): (Seq[SeenDelta], Long) = Workloads.siteFilter(site)
}

/** Stored pages through `Scrape.scrape` and `Markdown.fromHtml`, docs
  * written, one batch of the store per pass; plus the markdown goldens.
  */
final class ExtractWorkload(spark: SparkSession, work: String, seed: Long, hosts: Int,
                            batches: Int, val warmPasses: Int) extends Workload {
  import spark.implicits._
  val name = "extract"
  val site = Synth.SiteCfg(seed, hosts, cats = 3, subs = 2, prods = 5)
  private val perBatch = Synth.pageCount(site) / batches
  private var input = ""
  private val outs = ArrayBuffer.empty[String]

  def setup(dir: String): Unit = {
    val s = site
    for (b <- 0 until batches)
      spark.range(b * perBatch, (b + 1) * perBatch).map(i => Synth.pageRecAt(s, i))
        .select("url", "html").write.parquet(s"$dir/batch=$b")
    input = dir
  }

  def pass(i: Int, spans: Spans): PassOut = {
    val out = s"$work/extract-pass$i"
    val t0 = System.currentTimeMillis()
    spans("Scrape.scrape+Markdown.fromHtml", "scrape") {
      spark.read.parquet(s"$input/batch=${i % batches}").as[(String, String)]
        .map { case (u, html) =>
          val doc = Scrape.scrape(u, html)
          (u, doc.spans, doc.title, doc.nWords, Markdown.fromHtml(html, u).raw_markdown)
        }
        .toDF("doc_id", "spans", "title", "n_words", "markdown")
        .write.parquet(out)
    }
    outs += out
    PassOut(perBatch, Seq(t0, System.currentTimeMillis()), Seq(out))
  }

  private def goldens: Seq[(String, String, String)] = {
    val is = getClass.getResourceAsStream("/markdown_goldens.json")
    require(is != null, "markdown_goldens.json missing from the classpath")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(is)
    (0 until root.size()).map { i =>
      val n = root.get(i)
      (n.get("html").asText(), n.get("base").asText(), n.get("md").asText())
    }
  }

  def check(): CheckOut = {
    val s = site
    val expected = spark.range(Synth.pageCount(s))
      .map { i => val p = Synth.pageAt(s, i); (p.url, p.expectedSpans) }
      .toDF("doc_id", "want")
    def bad(got: DataFrame, want: DataFrame): (Long, Long) = {
      val r = got.select("doc_id", "spans").join(want, Seq("doc_id"), "left")
        .agg(count(lit(1)), sum(when(col("want").isNull || !(col("spans") === col("want")), 1)
          .otherwise(0)))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val (nDocs, nBad) = bad(spark.read.parquet(outs.toSeq: _*), expected)
    val missing = outs.size * perBatch - nDocs
    val gs = goldens
    val mdBad = gs.count { case (html, base, md) => Markdown.fromHtml(html, base, clean = false).raw_markdown != md }
    // self-test: one expected doc altered must be counted
    val firstDoc = spark.read.parquet(outs.head).select("doc_id").as[String].head()
    val corrupted = expected.withColumn("want",
      when(col("doc_id") === firstDoc, slice(col("want"), 2, 1000)).otherwise(col("want")))
    val caughtDocs = bad(spark.read.parquet(outs.head), corrupted)._2 > 0
    val (h0, b0, md0) = gs.head
    val caughtMd = Markdown.fromHtml(h0, b0, clean = false).raw_markdown != md0 + "x"
    CheckOut(outs.size * perBatch + gs.size, nBad + math.max(missing, 0L) + mdBad,
      caughtDocs && caughtMd)
  }

  def samplePages(n: Int): Seq[Synth.GenPage] =
    Workloads.siteSample(site, seed, n).map(Synth.pageAt(site, _))
  def sampleUrls(n: Int): Seq[String] =
    samplePages(n).zipWithIndex.map { case (p, i) => Workloads.variants(p.url, i) }
  def probeFilters(): (Seq[SeenDelta], Long) = Workloads.siteFilter(site)
}

/** The URL-seen set at frontier scale. Each epoch dedups a batch of
  * candidate URLs (about half rediscoveries, a quarter each in a variant
  * form) against a seen base plus per-epoch deltas and commits the fresh
  * delta and its filter. A pass is one compaction cycle: `epochsPerPass`
  * epochs, the last of which also compacts base and deltas into a new base
  * with one filter. The warm-up pass is one such cycle.
  *
  * Candidate ids: the first `fresh` of epoch e are new ids
  * [base + e·fresh, base + (e+1)·fresh); the rest are drawn from the ids
  * already seen. So the ground truth of each epoch's fresh set is known.
  */
final class DedupWorkload(spark: SparkSession, work: String, seed: Long, base: Long,
                          cands: Long, fresh: Long, epochsPerPass: Int)
    extends Workload {
  val name = "frontier_dedup"
  val warmPasses = 1
  private val hosts = 1000
  private val store = new BloomStore(0.03)
  private val dir = s"$work/dedup"
  private var baseDir = ""
  private val deltas = ArrayBuffer.empty[String]
  private var filters = Vector.empty[SeenDelta]
  private var epoch = 0
  // (epoch, got count, got hash sums, ground-truth count, ground-truth sums)
  private val results = ArrayBuffer.empty[(Int, Long, (Long, Long), Long, (Long, Long))]
  private var layer = SeenLayer()

  private def urlCol(id: Column, upperHost: Boolean = false): Column =
    concat(lit(if (upperHost) "http://SITE" else "http://site"), (id % hosts).cast("string"),
      lit(if (upperHost) ".COM/p/" else ".com/p/"), id.cast("string"))
  def canonical(id: Long): String = s"http://site${id % hosts}.com/p/$id"

  def setup(d: String): Unit = {
    spark.range(base).select(xxhash64(urlCol(col("id"))).as("url_hash")).write.parquet(s"$d/seen")
    val f = store.build(spark, spark.read.schema(Workloads.seenSchema).parquet(s"$d/seen"),
      "url_hash", base)
    store.save(f, Paths.get(s"$d/bloom.bin"))
    baseDir = s"$d/seen"
    filters = Vector(f)
    deltas.clear()
    epoch = 0
  }

  private def candidates(e: Int): DataFrame = {
    val known = base + e.toLong * fresh
    val id = when(col("id") < fresh, lit(known) + col("id"))
      .otherwise(pmod(xxhash64(lit(seed), lit(e), col("id")), lit(known)))
    val v = pmod(xxhash64(lit(seed + 1), lit(e), col("id")), lit(4))
    spark.range(cands).select(id.as("cid"), v.as("v"))
      .select(when(col("v") === 1, concat(urlCol(col("cid")), lit("#reviews")))
        .when(col("v") === 2, concat(urlCol(col("cid")), lit("?utm_source=feed")))
        .when(col("v") === 3, urlCol(col("cid"), upperHost = true))
        .otherwise(urlCol(col("cid"))).as("raw"))
      .select(call_function("canonicalize_url", col("raw")).as("url"))
      .withColumn("url_hash", xxhash64(col("url")))
  }

  private def seen: DataFrame =
    spark.read.schema(Workloads.seenSchema).parquet((baseDir +: deltas.toSeq): _*)

  /** Ground truth: count and hash sums of the new ids of epoch e. */
  private def truth(e: Int): (Long, (Long, Long)) = {
    var lo, hi = 0L
    var id = base + e.toLong * fresh
    while (id < base + (e + 1L) * fresh) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(canonical(id)), 42L)
      lo += h & 0xffffffffL
      hi += h >>> 32
      id += 1
    }
    (fresh, (lo, hi))
  }

  override def startWindow(): Unit = layer = SeenLayer()

  def pass(i: Int, spans: Spans): PassOut = {
    val commits = ArrayBuffer(System.currentTimeMillis())
    val written = ArrayBuffer.empty[String]
    for (k <- 1 to epochsPerPass) {
      written ++= epochStep(spans, compact = k == epochsPerPass)
      commits += System.currentTimeMillis()
    }
    PassOut(epochsPerPass * cands, commits.toSeq, written.toSeq)
  }

  /** One epoch; returns the paths it wrote. */
  private def epochStep(spans: Spans, compact: Boolean): Seq[String] = {
    val e = epoch
    val out = s"$dir/delta-$e"
    val (freshDf, bc) = SeenFilters.antiJoinTracked(spark, candidates(e), seen, "url_hash", filters)
    val a0 = System.nanoTime()
    spans("SeenFilters.antiJoinTracked+write", "frontier.seen") {
      freshDf.select("url_hash").distinct().write.parquet(out)
    }
    val antijoinMs = (System.nanoTime() - a0) / 1e6
    bc.destroy()
    val delta = spark.read.schema(Workloads.seenSchema).parquet(out)
    val r = delta.agg(count(lit(1)), sum(col("url_hash").bitwiseAND(0xffffffffL)),
      sum(shiftrightunsigned(col("url_hash"), 32))).head()
    val n = r.getLong(0)
    val b0 = System.nanoTime()
    val f = spans("SeenStore.build", "frontier.seen") { store.build(spark, delta, "url_hash", n) }
    val buildMs = (System.nanoTime() - b0) / 1e6
    store.save(f, Paths.get(s"$dir/bloom-$e.bin"))
    filters :+= f
    deltas += out
    val written = ArrayBuffer(out, s"$dir/bloom-$e.bin")
    var compactMs = layer.compactMs
    if (compact) {
      val c0 = System.nanoTime()
      val full = s"$dir/base-$e"
      spans("compaction", "frontier.seen") {
        seen.write.parquet(full)
        val all = spark.read.schema(Workloads.seenSchema).parquet(full)
        val cf = store.build(spark, all, "url_hash", base + (e + 1L) * fresh)
        store.save(cf, Paths.get(s"$full.bin"))
        baseDir = full
        deltas.clear()
        filters = Vector(cf)
      }
      compactMs = (System.nanoTime() - c0) / 1e6
      written ++= Seq(full, s"$full.bin")
    }
    val (wantN, wantSums) = truth(e)
    results += ((e, n, (if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)),
      wantN, wantSums))
    layer = layer.copy(antijoinMs = layer.antijoinMs :+ antijoinMs,
      buildMs = layer.buildMs :+ buildMs, compactMs = compactMs)
    epoch += 1
    written.toSeq
  }

  def check(): CheckOut = {
    def bad(got: Long, gotSums: (Long, Long), want: Long, wantSums: (Long, Long)): Long =
      if (got == want && gotSums == wantSums) 0L else math.max(math.abs(got - want), 1L)
    val failed = results.map { case (_, n, s, wn, ws) => bad(n, s, wn, ws) }.sum
    val caught = results.headOption.forall { case (_, n, s, wn, ws) => bad(n, s, wn + 1, ws) > 0 }
    CheckOut(results.size * cands, failed, caught)
  }

  /** Fast-path and false-positive shares on the next epoch's candidates
    * against the live filter vector (counted after the timed window).
    */
  override def seenLayer(): SeenLayer = {
    val (definitelyNew, maybeSeen, bc) =
      SeenFilters.splitTracked(spark, candidates(epoch), "url_hash", filters)
    val nNew = definitelyNew.count()
    val nMaybe = maybeSeen.count()
    val nMaybeNew = maybeSeen.join(seen, Seq("url_hash"), "left_anti").count()
    bc.destroy()
    layer.copy(fastpathFrac = nNew.toDouble / math.max(nNew + nMaybe, 1L),
      filterFpFrac = nMaybeNew.toDouble / math.max(nMaybe, 1L))
  }

  private val pageSite = Synth.SiteCfg(seed, 10, cats = 3, subs = 2, prods = 5)
  def samplePages(n: Int): Seq[Synth.GenPage] =
    Workloads.siteSample(pageSite, seed, n).map(Synth.pageAt(pageSite, _))
  def sampleUrls(n: Int): Seq[String] =
    (0 until n).map(i => Workloads.variants(
      canonical(math.floorMod(graft.core.Xxh64.hashLong(i.toLong, seed), base)), i))
  def probeFilters(): (Seq[SeenDelta], Long) = (filters, base + epoch.toLong * fresh)
}
