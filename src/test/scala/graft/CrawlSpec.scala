package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.frontier.{Crawl, CrawlConfig, CrawlSummary, EpochManifest, PartitionLineage}
import graft.politeness.Robots
import java.nio.file.{Files, Path, Paths}

/** End-to-end frontier tests against a driver-side oracle implementing the
  * SAME deterministic ordering spec (SURVEY.md §5.3: the reference's stream
  * mode is completion-order nondeterministic, so equality is pinned to batch
  * semantics with explicit tie-breakers).
  */
class CrawlSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val site = Synth.SiteCfg(seed = 42L, nHosts = 3, cats = 2, subs = 2, prods = 2)
  lazy val allPages: Seq[Synth.GenPage] =
    (0L until Synth.pageCount(site)).map(Synth.pageAt(site, _))
  lazy val pagesDF = allPages.map(p =>
    PageRec(p.url, 0L, p.host, p.html, 200, 0)).toDF()
    .withColumn("url_hash", xxhash64(col("url")))
  lazy val robotsDF = Synth.robots(site).toDF()
  lazy val seedsDF = Synth.seeds(site).toDF()

  // ---- the oracle (shared with the Verify fixture writer) ------------------

  /** Single-threaded crawler implementing the engine's spec exactly —
    * graft.oracle.SeqOracle, also used by Verify's fixture writer. */
  def oracleCrawl(cfg: CrawlConfig): (Seq[(Int, String)], Set[String]) = {
    val t = graft.oracle.SeqOracle.crawl(site, cfg)
    (t.visits.map(v => (v._1, v._3)), t.seen)
  }

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"crawl-$tag").toString

  /** The uninterrupted `bfs`, `hostBudget = 3` bloom crawl that the resume
    * and failure tests compare against: run once, on first use, and only
    * read after that. */
  private lazy val reference: (String, CrawlSummary) = {
    val runDir = freshDir("reference")
    (runDir, Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir,
      CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)))
  }

  /** A copy of run dir `src`, for a test that changes a shared run. */
  private def copyRun(src: String, tag: String): String = {
    val (from, to) = (Paths.get(src), Paths.get(freshDir(tag)))
    val walk = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    } finally walk.close()
    to.toString
  }

  private def manifest(runDir: String, e: Int): EpochManifest =
    EpochManifest.read(runDir, e).getOrElse(fail(s"no manifest $e under $runDir"))

  /** A bootstrap manifest as the pre-codec writer committed it, before
    * `frontier_queued` was recorded. */
  private def oldBootstrapJson(runDir: String, seeds: Long): String =
    s"""{"epoch":0,"kind":"bootstrap","strategy":"bfs","seen_base":0,"seen_total":$seeds,"frontier":"$runDir/frontier/epoch=0000"}"""

  /** Every manifest's counts equal recounts from the committed snapshot dirs
    * (epoch k's crawl is committed by manifest k+1). */
  private def assertManifestsMatchSnapshots(runDir: String, summary: CrawlSummary): Unit = {
    def snap(what: String, e: Int) = spark.read.parquet(f"$runDir/$what/epoch=$e%04d")
    def queuedUrls(e: Int): Set[String] = snap("frontier", e)
      .where(col("status") === CrawlStatus.Queued).select("url").as[String].collect().toSet
    val rules = robotsDF.select("host", "rules").as[(String, String)].collect().toMap
    val last = Crawl.lastCommittedEpoch(runDir)
    assert(last >= 2)
    (0 to last).foreach { k =>
      val m = manifest(runDir, k)
      assert(m.frontierQueued.contains(queuedUrls(k).size.toLong), s"frontier_queued@$k")
      assert(m.seenTotal == Crawl.seenSet(spark, runDir, asOf = k).count(), s"seen_total@$k")
    }
    (1 to last).foreach { k =>
      val m = manifest(runDir, k)
      val admitted = queuedUrls(k - 1) -- snap("frontier", k).select("url").as[String].collect()
      val blocked = admitted.count(u => !rules.get(Urls.host(u)).forall(Robots.canFetch(_, u)))
      assert(m.skippedRobots.contains(blocked.toLong), s"skipped_robots@$k")
      assert(m.fetched.contains(snap("docs", k - 1).count()), s"fetched@$k")
      assert(m.fetched.get + m.failed.get == admitted.size - blocked, s"visited@$k")
      assert(m.seenBase < k, s"epoch $k compacted; use a shorter crawl")
      assert(m.newFrontier.contains(snap("seen", k).count()), s"new_frontier@$k")
      // the lineage observed on the docs write: its rows sum to the fetch
      // counts, and its fetched words to the epoch's docs
      val (ok, notOk) = m.partitions.getOrElse(fail(s"no lineage@$k")).partition(_.fetchOk)
      assert(m.fetched.contains(ok.map(_.rows).sum), s"lineage fetched@$k")
      assert(m.failed.contains(notOk.map(_.rows).sum), s"lineage failed@$k")
      val docWords = snap("docs", k - 1).agg(coalesce(sum("n_words"), lit(0L))).as[Long].head()
      assert(ok.map(_.words).sum == docWords, s"lineage words@$k")
    }
    assert(summary.seen == Crawl.seenSet(spark, runDir).count())
  }

  private def ls(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq.sorted }
    finally s.close()
  }

  /** `<table>/epoch=<k>` dirs of every snapshot table under `runDir`. */
  private def tableDirs(runDir: String): Seq[Path] =
    ls(Paths.get(runDir)).filter(Files.isDirectory(_)).flatMap(ls)

  /** Every snapshot table dir of a small run holds one data file and no
    * `_SUCCESS` marker. */
  private def assertOneFilePerTable(runDir: String): Unit = {
    val dirs = tableDirs(runDir)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val names = ls(d).map(_.getFileName.toString)
      assert(names.count(_.startsWith("part-")) == 1, s"$d: $names")
      assert(!names.exists(_.contains("_SUCCESS")), s"$d: $names")
    }
  }

  // ---- tests ---------------------------------------------------------------

  test("BFS crawl: visit order equals oracle; spans equal generator expectation") {
    val cfg = CrawlConfig(strategy = "bfs", maxDepth = 5, hostBudget = 4, maxEpochs = 40)
    val runDir = freshDir("bfs")
    val summary = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    assert(summary.fetched > 0)

    val engineVisits = Crawl.visits(spark, runDir)
      .select("epoch", "visit_rank", "url").orderBy("epoch", "visit_rank")
      .collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    val (oracleVisits, oracleSeen) = oracleCrawl(cfg)
    assert(engineVisits == oracleVisits,
      s"visit order mismatch:\n engine=${engineVisits.take(20)}\n oracle=${oracleVisits.take(20)}")

    // seen set identity
    val engineSeenUrls = Crawl.visits(spark, runDir).select("url").collect().map(_.getString(0)).toSet
    assert(engineSeenUrls.subsetOf(oracleSeen))
    assert(Crawl.seenSet(spark, runDir).count() == oracleSeen.size)

    // span-sequence equality on every produced doc
    val expected = allPages.map(p => p.url -> p.expectedSpans).toMap
    val docs = Crawl.docs(spark, runDir).select("doc_id", "spans")
      .as[(String, Seq[Span])].collect()
    assert(docs.nonEmpty)
    docs.foreach { case (id, spans) =>
      assert(expected.contains(id), s"unexpected doc $id")
      assert(spans == expected(id), s"span mismatch on $id")
    }
  }

  test("link-preview: epoch snapshots carry enriched links; head store persists across epochs") {
    val cfg = CrawlConfig(strategy = "bfs", maxDepth = 5, hostBudget = 4, maxEpochs = 40,
      linkPreview = Some(graft.sources.LinkPreview.Config(
        includeInternal = true, includeExternal = false,
        query = Seq("product", "category"))))
    val runDir = freshDir("lp")
    val summary = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    assert(summary.fetched > 0)

    // enrichment must not perturb the crawl itself: visit order still equals
    // the sequential oracle (crawl_docs_spans' invariant)
    val engineVisits = Crawl.visits(spark, runDir)
      .select("epoch", "visit_rank", "url").orderBy("epoch", "visit_rank")
      .collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(engineVisits == oracleCrawl(cfg)._1)

    val links = Crawl.links(spark, runDir).cache()
    assert(links.count() > 0)
    // internal links got head data served from the page store, with the
    // composite total score stamped on every row
    val valid = links.where(col("head_status") === "valid")
    assert(valid.count() > 0)
    assert(valid.where(col("head") === "").count() == 0)
    assert(links.where(col("total_score").isNull).count() == 0)
    // contextual BM25 scored at least one head against the query
    assert(links.where(col("contextual_score").isNotNull).count() > 0)
    links.unpersist()

    // head store persisted across epochs: one committed store per epoch
    // boundary, with epoch-0 fetches (fetched_at == 0 on the logical clock)
    // still present in the LAST store — later epochs hit the cache instead
    // of refetching
    val storeRoot = new java.io.File(s"$runDir/head_store")
    val storeDirs = Option(storeRoot.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("epoch="))
    assert(storeDirs.length > 1, "head store must persist across epochs")
    val lastStore = spark.read.parquet(
      storeDirs.maxBy(_.getName).toString).cache()
    assert(lastStore.where(col("fetched_at") === 0L).count() > 0)
    assert(lastStore.select("url").distinct().count() == lastStore.count(),
      "head store must stay url-unique")
    lastStore.unpersist()
    assert(tableDirs(runDir).map(_.getParent.getFileName.toString).toSet ==
      Set("frontier", "seen", "docs", "visits", "links", "head_store"))
    assertOneFilePerTable(runDir)
  }

  test("politeness: per-(epoch, host) visits never exceed the budget") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 2, maxEpochs = 40)
    val runDir = freshDir("budget")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    val hostU = udf((u: String) => Urls.host(u))
    val maxPerHost = Crawl.visits(spark, runDir)
      .groupBy(col("epoch"), hostU(col("url")).as("host")).count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerHost <= 2)
  }

  test("robots: disallowed paths and hosts never visited") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 10, maxEpochs = 40)
    val runDir = freshDir("robots")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    val urls = Crawl.visits(spark, runDir).select("url").collect().map(_.getString(0))
    // site1 disallows /cat1; site2 (last host) disallows everything
    assert(!urls.exists(_.startsWith("http://site1.com/cat1")))
    assert(!urls.exists(_.contains("site2.com")))
    assert(urls.exists(_.startsWith("http://site1.com/cat0"))) // allowed part crawled
  }

  test("best-first: visit order equals oracle (keyword scoring); score-desc per epoch") {
    val cfg = CrawlConfig(strategy = "best_first", keywords = Seq("prod"),
      hostBudget = 100, maxEpochs = 40)
    val runDir = freshDir("bff")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    val engineVisits = Crawl.visits(spark, runDir)
      .select("epoch", "visit_rank", "url").orderBy("epoch", "visit_rank")
      .collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    val (oracleVisits, _) = oracleCrawl(cfg)
    assert(engineVisits == oracleVisits,
      s"best-first order mismatch:\n engine=${engineVisits.take(20)}\n oracle=${oracleVisits.take(20)}")
    // and within every epoch, scores are non-increasing
    val scores = Crawl.visits(spark, runDir)
      .select("epoch", "visit_rank", "score").orderBy("epoch", "visit_rank")
      .collect().map(r => (r.getInt(0), r.getDouble(2)))
    scores.groupBy(_._1).foreach { case (_, es) =>
      val s = es.map(_._2).toSeq
      assert(s == s.sortBy(-(_: Double)), s"not score-descending: $s")
    }
  }

  test("DFS: visit order equals oracle (preorder via path encoding)") {
    val cfg = CrawlConfig(strategy = "dfs", hostBudget = 3, maxEpochs = 40)
    val runDir = freshDir("dfs")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    val engineVisits = Crawl.visits(spark, runDir)
      .select("epoch", "visit_rank", "url").orderBy("epoch", "visit_rank")
      .collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    val (oracleVisits, _) = oracleCrawl(cfg)
    assert(engineVisits == oracleVisits,
      s"dfs order mismatch:\n engine=${engineVisits.take(20)}\n oracle=${oracleVisits.take(20)}")
  }

  test("kill/resume: seen set identical to an uninterrupted run") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val (full, fullSummary) = reference

    val partial = freshDir("partial")
    // killed after 2 epochs…
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg.copy(maxEpochs = 2))
    // …resumed from the last committed snapshot: the summary covers the whole
    // run, including the robots-blocked seed root of epoch 0
    val resumedSummary = Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg)
    assert(fullSummary.skippedRobots > 0)
    assert(resumedSummary == fullSummary)

    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(partial) == seenHashes(full))

    // visit sequences also identical
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(partial) == vs(full))

    // time travel: reading the FULL run pinned to snapshot 2 sees exactly
    // the state the killed run had committed — asOf is the kill
    val killedSeen = Crawl.seenSet(spark, partial, asOf = 2)
    val travelSeen = Crawl.seenSet(spark, full, asOf = 2)
    assert(travelSeen.as[Long].collect().toSet == killedSeen.as[Long].collect().toSet)
    val travelDocs = Crawl.docs(spark, full, asOf = 2)
    assert(travelDocs.agg(max("epoch")).head().getInt(0) <= 1)
    assert(Crawl.visits(spark, full, asOf = 2).agg(max("epoch")).head().getInt(0) <= 1)
    // asOf beyond the head clamps to the newest committed snapshot
    assert(Crawl.seenSet(spark, full, asOf = 999).count() == Crawl.seenSet(spark, full).count())
    // reading an uncommitted epoch is refused
    intercept[IllegalArgumentException] { Crawl.docs(spark, full, asOf = -5) }
  }

  test("TTL recrawl: expiring an epoch refetches exactly its URLs; seen set unchanged") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val runDir = copyRun(reference._1, "recrawl")
    val seenBefore = Crawl.seenSet(spark, runDir).as[Long].collect().toSet
    val epochsBefore = Crawl.lastCommittedEpoch(runDir)
    // the URLs first enqueued at epoch 1 (what a TTL of that epoch expires)
    val expired = spark.read.parquet(f"$runDir/frontier/epoch=${1}%04d")
      .where(col("enqueue_epoch") === 1 && col("status") === graft.core.CrawlStatus.Queued)
      .select("url").as[String].collect().toSet
    assert(expired.nonEmpty)
    // of those, only the originally-VISITED ones can be re-visited (a
    // robots-blocked entry is correctly re-blocked on the recrawl too)
    val originallyVisited = Crawl.visits(spark, runDir)
      .select("url").as[String].collect().toSet
    val expectVisit = expired.intersect(originallyVisited)
    assert(expectVisit.nonEmpty && expectVisit != expired) // site has a robots-blocked cat
    // the bytes of every filter file before the expiry
    val filtersBefore = filterFiles(runDir).map(p => p -> Files.readAllBytes(p).toSeq).toMap
    assert(filtersBefore.size == epochsBefore + 1)

    val n = Crawl.expireEpoch(spark, runDir, 1)
    assert(n == expired.size)
    // expiry leaves every existing filter file byte-identical
    assert(filtersBefore.forall { case (p, bytes) => Files.readAllBytes(p).toSeq == bytes })
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)

    // seen set identical — refetch, not rediscovery
    assert(Crawl.seenSet(spark, runDir).as[Long].collect().toSet == seenBefore)
    // the recrawl epochs visited EXACTLY the expired-and-allowed URLs
    val revisited = Crawl.visits(spark, runDir)
      .where(col("epoch") > epochsBefore)
      .select("url").as[String].collect().toSet
    assert(revisited == expectVisit)
    // fresh docs re-emitted for them at the new epochs
    val freshDocs = Crawl.docs(spark, runDir)
      .where(col("epoch") > epochsBefore)
      .select("doc_id").as[String].collect().toSet
    assert(freshDocs.subsetOf(expectVisit) && freshDocs.nonEmpty)
    // and no crawl growth beyond them (frontier drained again)
    assert(Crawl.visits(spark, runDir).count() ==
      Crawl.visits(spark, runDir, asOf = epochsBefore).count() + expectVisit.size)
    assertOneFilePerTable(runDir)
  }

  test("custom linkScorer drives frontier scores inside the expansion plan") {
    // e.g. the adaptive-embedding gap-reduction kernel rides here; this test
    // uses a transparent url-shaped scorer so the expected value is exact
    val scorer: (String, String) => Double =
      (u, _) => if (u.contains("prod")) 0.9 else 0.1
    val cfg = CrawlConfig(strategy = "best_first", hostBudget = 4,
      maxEpochs = 40, linkScorer = Some(scorer))
    val runDir = freshDir("scorer")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    val visits = Crawl.visits(spark, runDir)
      .where(col("epoch") > 0).select("url", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(visits.nonEmpty)
    visits.foreach { case (u, s) =>
      assert(s == (if (u.contains("prod")) 0.9 else 0.1), s"$u scored $s")
    }
  }

  /** A four-page site whose expired pages link to each other: x.com → /a,
    * /b; /a → /b, /c; /b → /a. */
  private lazy val miniPages = {
    def page(u: String, links: Seq[String]) = {
      val hrefs = links.map(l => s"""<a href="$l">go to $l now</a>""").mkString(" ")
      (u, s"<html><body><p>content words for page $u body text</p>$hrefs</body></html>")
    }
    Seq(
      // page-store URLs are the CANONICAL forms (deep canonicalizer
      // rstrips '/' including root)
      page("http://x.com", Seq("/a", "/b")),
      page("http://x.com/a", Seq("/b", "/c")),
      page("http://x.com/b", Seq("/a")),
      page("http://x.com/c", Nil))
      .map { case (u, h) => PageRec(u, 0L, "x.com", h, 200, 0) }.toDF()
      .withColumn("url_hash", xxhash64(col("url")))
  }
  private lazy val miniSeeds = Seq(("http://x.com/", "sitemap")).toDF("url", "source")

  test("TTL expiry stays sound when expired pages link to each other") {
    // the dangerous shape: /a and /b are both expired AND link to each
    // other. The recrawl's discovery of /b (from /a's links) must find /b's
    // hash in the filter vector, or it rides the definitely-new fast path
    // PAST the exact anti-join and /b is fetched twice. Expiry leaves every
    // filter as it is, so the vector still holds both hashes.
    val cfg = CrawlConfig(hostBudget = 10, maxEpochs = 20)
    val runDir = freshDir("expiry-sound")
    Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), runDir, cfg)
    val seenBefore = Crawl.seenSet(spark, runDir).as[Long].collect().sorted.toSeq
    assert(seenBefore.distinct == seenBefore) // ledger duplicate-free
    val epochsBefore = Crawl.lastCommittedEpoch(runDir)
    // expire epoch 1 (/a, /b) TWICE — the second expiry requeues the same
    // URLs and must not make either one fetched twice
    assert(Crawl.expireEpoch(spark, runDir, 1) == 2)
    Crawl.expireEpoch(spark, runDir, 1)
    Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), runDir, cfg)
    // exactly /a and /b revisited, ONCE each — rediscovery of an evicted URL
    // must not re-enter the frontier
    val revisits = Crawl.visits(spark, runDir).where(col("epoch") > epochsBefore)
      .select("url").as[String].collect().toSeq.sorted
    assert(revisits == Seq("http://x.com/a", "http://x.com/b"), revisits)
    // the exact seen ledger is unchanged and still duplicate-free
    val seenAfter = Crawl.seenSet(spark, runDir).as[Long].collect().sorted.toSeq
    assert(seenAfter == seenBefore)
  }

  test("a filter lost after an expiry is rebuilt to cover what it covered; nothing is fetched twice") {
    // hostBudget 1 crawls x.com, /a, /b, /c in epochs 0-3 and compacts the
    // seen set at epoch 4; the recrawl refetches the expired /a and /b in
    // epochs 5 and 6. The compacted filter of epoch 4 covers /a, since expiry
    // leaves it as it is, and epoch 6's seen delta is empty. So a lost
    // epoch-6 filter is rebuilt empty, and /b's link to /a still meets the
    // exact anti-join: /a is not fetched once more
    val cfg = CrawlConfig(hostBudget = 1, maxEpochs = 40, seenCompactEvery = 4)
    def recrawl(loseFilter: Boolean): (Seq[(Int, String)], Seq[Long], Int) = {
      val runDir = freshDir(s"rebuild-$loseFilter")
      Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), runDir, cfg)
      val before = Crawl.lastCommittedEpoch(runDir)
      assert(before == 4 && manifest(runDir, before).seenBase == 4)
      assert(Crawl.expireEpoch(spark, runDir, 1) == 2)
      // one epoch of the recrawl: /a is refetched, /b stays queued
      Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), runDir,
        cfg.copy(maxEpochs = before + 2))
      val lost = Paths.get(f"$runDir/bloom_${before + 2}%04d.bin")
      assert(Files.exists(lost))
      if (loseFilter) Files.delete(lost)
      Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), runDir, cfg)
      val visits = Crawl.visits(spark, runDir).select("epoch", "visit_rank", "url")
        .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
      (visits, Crawl.seenSet(spark, runDir).as[Long].collect().sorted.toSeq, before)
    }
    val (kept, keptSeen, before) = recrawl(loseFilter = false)
    val (rebuilt, rebuiltSeen, _) = recrawl(loseFilter = true)
    val refetched = rebuilt.filter(_._1 > before).map(_._2)
    assert(refetched.sorted == Seq("http://x.com/a", "http://x.com/b"), refetched)
    assert(rebuilt == kept)
    assert(rebuiltSeen == keptSeen && rebuiltSeen.distinct == rebuiltSeen)
  }

  test("a run dir written by the cuckoo version resumes and expires soundly") {
    // earlier versions could crawl under a cuckoo pre-filter: such a run dir
    // holds `cuckoo_<k>.bin` filter files, no bloom file, and perhaps a
    // marker `.evicted_<target>_<expired>` of an expiry that evicted keys
    // from a cuckoo filter. Its filters are rebuilt from the seen deltas, so
    // it expires and resumes as the bloom run it is copied from does
    val cfg = CrawlConfig(hostBudget = 10, maxEpochs = 20)
    val bloomDir = freshDir("bloom-run")
    Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), bloomDir, cfg)
    val seenBefore = Crawl.seenSet(spark, bloomDir).as[Long].collect().sorted.toSeq
    val epochsBefore = Crawl.lastCommittedEpoch(bloomDir)
    val cuckooDir = copyRun(bloomDir, "cuckoo-run")
    filterFiles(cuckooDir).foreach { p =>
      Files.delete(p)
      Files.writeString(p.resolveSibling(p.getFileName.toString.replace("bloom_", "cuckoo_")),
        "a cuckoo filter of an earlier version")
    }
    assert(filterFiles(cuckooDir).isEmpty && filterFiles(cuckooDir, "cuckoo").size == epochsBefore + 1)
    Files.createFile(Paths.get(s"$cuckooDir/.evicted_0001_0001"))

    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    for (runDir <- Seq(bloomDir, cuckooDir)) {
      assert(Crawl.expireEpoch(spark, runDir, 1) == 2)
      Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), runDir, cfg)
      val revisits = Crawl.visits(spark, runDir).where(col("epoch") > epochsBefore)
        .select("url").as[String].collect().toSeq.sorted
      assert(revisits == Seq("http://x.com/a", "http://x.com/b"), s"$runDir: $revisits")
      assert(Crawl.seenSet(spark, runDir).as[Long].collect().sorted.toSeq == seenBefore, runDir)
    }
    assert(vs(cuckooDir) == vs(bloomDir))
  }

  test("a failed expireEpoch changes no file and leaves no filter of its epoch; a retry equals an expiry that never failed") {
    def files(runDir: String): Map[Path, Seq[Byte]] = {
      val walk = Files.walk(Paths.get(runDir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p -> Files.readAllBytes(p).toSeq).toMap
      } finally walk.close()
    }
    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val ref = reference._1
    val next = Crawl.lastCommittedEpoch(ref) + 1
    val unfailed = copyRun(ref, "expire")
    Crawl.expireEpoch(spark, unfailed, 1)
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, unfailed, cfg)

    // the manifest commit writes a hidden temp file beside the manifest and
    // renames it into place: a non-empty dir at the temp path fails it
    val runDir = copyRun(ref, "expire-failed")
    val blocker = Paths.get(runDir, f".manifest_$next%04d.json.tmp")
    Files.createDirectories(blocker)
    Files.writeString(blocker.resolve("not-a-manifest"), "")
    val before = files(runDir)
    intercept[java.nio.file.FileSystemException](Crawl.expireEpoch(spark, runDir, 1))
    assert(Crawl.lastCommittedEpoch(runDir) == next - 1)
    val changed = before.collect { case (p, bytes) if Files.readAllBytes(p).toSeq != bytes => p }
    assert(changed.isEmpty, "the failed expiry changed files")
    assert(!Files.exists(Paths.get(f"$runDir/bloom_$next%04d.bin")))

    ls(blocker).foreach(Files.delete)
    Files.delete(blocker)
    Crawl.expireEpoch(spark, runDir, 1)
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    assert(seenHashes(runDir) == seenHashes(unfailed))
    assert(vs(runDir) == vs(unfailed))
  }

  test("a directory at a manifest path is no commit: every reader reads the run as before") {
    val (ref, _) = reference
    val last = Crawl.lastCommittedEpoch(ref)
    val runDir = copyRun(ref, "manifest-dir")
    val stray = EpochManifest.path(runDir, last + 1)
    Files.createDirectories(stray)
    Files.writeString(stray.resolve("not-a-manifest"), "")
    assert(Crawl.lastCommittedEpoch(runDir) == last)
    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(runDir) == seenHashes(ref))
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(runDir) == vs(ref))
    def docs(d: String) = Crawl.docs(spark, d).select("epoch", "doc_id")
      .as[(Int, String)].collect().sorted.toSeq
    assert(docs(runDir) == docs(ref))
  }

  test("dynamic politeness: a throttling host shrinks to its backoff budget and aborts") {
    // site1 serves 503 on every page → its domain state fails repeatedly;
    // after MaxRetries throttled epochs the host is aborted (budget 0)
    val throttlingPages = allPages.map { p =>
      PageRec(p.url, 0L, p.host, p.html, if (p.host == "site1.com") 503 else 200, 0)
    }.toDF().withColumn("url_hash", xxhash64(col("url")))
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 10, maxEpochs = 40,
      dynamicPoliteness = true, epochSeconds = 8.0)
    val runDir = freshDir("dynpol")
    Crawl.run(spark, seedsDF, pagesDF.limit(0).unionByName(throttlingPages),
      robotsDF.limit(0), runDir, cfg)
    val visits = Crawl.visits(spark, runDir)
      .select("epoch", "url").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val hostU = (u: String) => Urls.host(u)
    // per-epoch admission counts for the throttling host
    val perEpoch = visits.filter(v => hostU(v._2) == "site1.com")
      .groupBy(_._1).view.mapValues(_.length).toMap
    // epoch 0 has no state yet (static cap); once throttled, the budget is
    // epochSeconds/delay: delay doubles 4, 8, 16 … → budgets 2, 1, 1, 0 (abort)
    if (perEpoch.nonEmpty) {
      val maxEpochSeen = perEpoch.keys.max
      (1 to maxEpochSeen).foreach { e =>
        perEpoch.get(e).foreach(n => assert(n <= 2, s"epoch $e admitted $n from throttling host"))
      }
    }
    // healthy host unaffected: crawls its whole allowed tree
    assert(visits.count(v => hostU(v._2) == "site0.com") > 10)
    assert(Files.isDirectory(Paths.get(s"$runDir/domain_state")))
    assertOneFilePerTable(runDir)
    // aborted host never completes its site
    val site1Visited = visits.count(v => hostU(v._2) == "site1.com")
    assert(site1Visited < Synth.pagesPerHost(site))
  }

  test("maxPages capacity cap respected") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 10, maxPages = 7, maxEpochs = 40)
    val runDir = freshDir("cap")
    val s = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    assert(s.fetched <= 7)
    assertManifestsMatchSnapshots(runDir, s)
  }

  test("epoch fan-out: no count action in a crawl; manifest counts equal snapshot recounts") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val startMarker = "crawl_spec_fanout_start"
    val marker = "crawl_spec_fanout_marker"
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var started = false
    @volatile var markerSeen = false
    // events of queries that ran before registration (an earlier test's
    // count) can still be in flight on the bus; recording starts at the
    // start marker, which the bus delivers after all of them
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == startMarker)) started = true
        else if (qe.analyzed.output.exists(_.name == marker)) markerSeen = true
        else if (started) actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (started) actions.add(funcName)
    }
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val runDir = freshDir("fanout")
    spark.listenerManager.register(listener)
    val summary =
      try {
        spark.range(1).toDF(startMarker).collect()
        val s = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
        // listener events arrive asynchronously, in order: once the marker
        // query is seen, every event of the crawl has been delivered
        spark.range(1).toDF(marker).collect()
        val deadline = System.currentTimeMillis() + 60000
        while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
        s
      } finally spark.listenerManager.unregister(listener)
    assert(started && markerSeen, "listener bus did not drain")
    import scala.jdk.CollectionConverters._
    val seen = actions.asScala.toSeq
    assert(seen.nonEmpty)
    val byAction = seen.groupBy(identity).view.mapValues(_.size).toMap
    assert(!seen.contains("count"), s"count actions in the crawl: $byAction")
    assert(!seen.contains("collect"), s"collect actions in the crawl: $byAction")
    assertManifestsMatchSnapshots(runDir, summary)
    assertOneFilePerTable(runDir)
  }

  test("snapshotParts: one file per RowsPerFile queued rows, clamped to the shuffle partitions") {
    val r = Crawl.RowsPerFile
    assert(Crawl.snapshotParts(0, 4) == 1)
    assert(Crawl.snapshotParts(1, 4) == 1)
    assert(Crawl.snapshotParts(r, 4) == 1)
    assert(Crawl.snapshotParts(r + 1, 4) == 2)
    assert(Crawl.snapshotParts(4 * r, 4) == 4)
    assert(Crawl.snapshotParts(4 * r + 1, 4) == 4)
    assert(Crawl.snapshotParts(Long.MaxValue, 200) == 200)
  }

  test("an epoch of more than RowsPerFile queued rows writes several files; equals the oracle") {
    // one home-page seed per host: epoch 0 queues nHosts rows
    val big = Synth.SiteCfg(seed = 11L, nHosts = Crawl.RowsPerFile.toInt + 40, cats = 1,
      subs = 1, prods = 1)
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 1, maxEpochs = 1)
    val pages = spark.range(Synth.pageCount(big)).map(i => Synth.pageRecAt(big, i)).toDF()
    val runDir = freshDir("parts")
    val summary = Crawl.run(spark, Synth.seeds(big).toDF(), pages, Synth.robots(big).toDF(),
      runDir, cfg)

    val oracle = graft.oracle.SeqOracle.crawl(big, cfg)
    val visits = Crawl.visits(spark, runDir).select("epoch", "visit_rank", "url", "depth")
      .as[(Int, Int, String, Int)].collect().toSeq
    assert(visits == oracle.visits)
    assert(summary.fetched == oracle.crawledDocs.size)
    assert(summary.seen == oracle.seen.size)
    assert(Crawl.seenSet(spark, runDir).count() == oracle.seen.size)

    val parts = Crawl.snapshotParts(manifest(runDir, 0).frontierQueued.get,
      spark.sessionState.conf.numShufflePartitions)
    assert(parts == 2)
    // the crawl epoch's tables; the bootstrap tables may hold fewer files
    // when the seed sort's output has fewer partitions than that
    def files(what: String, e: Int) =
      ls(Paths.get(f"$runDir/$what/epoch=$e%04d")).map(_.getFileName.toString)
        .count(_.startsWith("part-"))
    Seq("docs" -> 0, "visits" -> 0, "frontier" -> 1, "seen" -> 1).foreach { case (what, e) =>
      assert(files(what, e) == parts, s"$what@$e")
    }
    Seq("frontier", "seen").foreach(what => assert(files(what, 0) <= parts, s"$what@0"))
    // the writes coalesce, the scrape does not: one lineage row per scraped
    // partition, summing to the epoch's counts
    val m = manifest(runDir, 1)
    val lineage = m.partitions.get
    assert(lineage.map(_.pid).distinct.size > parts, lineage)
    assert(lineage.filter(_.fetchOk).map(_.rows).sum == m.fetched.get)
    assert(lineage.filterNot(_.fetchOk).map(_.rows).sum == m.failed.get)
  }

  test("resume from a bootstrap manifest without frontier_queued matches an uninterrupted run") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val (full, _) = reference

    val resumed = freshDir("oldboot-resumed")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, resumed, cfg.copy(maxEpochs = 0))
    val seeds = manifest(resumed, 0).seenTotal
    Files.writeString(EpochManifest.path(resumed, 0), oldBootstrapJson(resumed, seeds))
    assert(manifest(resumed, 0).frontierQueued.isEmpty)
    val summary = Crawl.run(spark, seedsDF, pagesDF, robotsDF, resumed, cfg)

    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(resumed) == seenHashes(full))
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(resumed) == vs(full))
    assert(summary.seen == seenHashes(full).size)
    assert(manifest(resumed, 1).frontierQueued == manifest(full, 1).frontierQueued)
  }

  test("manifest codec reads pre-codec manifests; metrics and lineage rows unchanged") {
    import org.json4s.JObject
    import org.json4s.jackson.JsonMethods.parse
    val runDir = freshDir("oldmanifests")
    val frontier = s"$runDir/frontier/epoch=0000"
    // the four shapes, byte for byte as the pre-codec writer committed them
    // (plus oldBootstrapJson)
    val bootstrap =
      s"""{"epoch":0,"kind":"bootstrap","strategy":"bfs","seen_base":0,"seen_total":8,"frontier_queued":8,"frontier":"$frontier"}"""
    val epoch =
      """{"epoch":1,"fetched":5,"failed":1,"skipped_robots":1,"new_frontier":12,"seen_total":20,"frontier_queued":13,"seen_base":0,"strategy":"bfs","wall_ms":1534,"partitions":[{"pid":0,"fetch_ok":true,"rows":3,"words":120},{"pid":0,"fetch_ok":false,"rows":1,"words":0},{"pid":3,"fetch_ok":true,"rows":2,"words":75}]}"""
    val recrawl =
      """{"epoch":2,"kind":"recrawl","expired_epoch":1,"fetched":0,"failed":0,"skipped_robots":0,"new_frontier":0,"frontier_queued":4,"seen_total":20,"seen_base":0,"strategy":"bfs"}"""
    val lineage1 = Seq(PartitionLineage(0, true, 3, 120), PartitionLineage(0, false, 1, 0),
      PartitionLineage(3, true, 2, 75))
    val cases = Seq(
      bootstrap -> EpochManifest(0, "bfs", 0, 8, Some(8), kind = Some("bootstrap"),
        frontier = Some(frontier)),
      oldBootstrapJson(runDir, 8) -> EpochManifest(0, "bfs", 0, 8, None,
        kind = Some("bootstrap"), frontier = Some(frontier)),
      epoch -> EpochManifest(1, "bfs", 0, 20, Some(13), fetched = Some(5), failed = Some(1),
        skippedRobots = Some(1), newFrontier = Some(12), wallMs = Some(1534),
        partitions = Some(lineage1)),
      recrawl -> EpochManifest(2, "bfs", 0, 20, Some(4), kind = Some("recrawl"),
        expiredEpoch = Some(1), fetched = Some(0), failed = Some(0), skippedRobots = Some(0),
        newFrontier = Some(0)))
    def fields(json: String) = parse(json).asInstanceOf[JObject].obj.toMap
    cases.foreach { case (json, expected) =>
      val m = EpochManifest.decode(json)
      assert(m == expected)
      val again = EpochManifest.encode(m)
      assert(fields(again) == fields(json), again)
      assert(again.length == json.length, again)
    }

    Seq(bootstrap, epoch, recrawl).zipWithIndex.foreach { case (json, e) =>
      Files.writeString(EpochManifest.path(runDir, e), json)
    }
    val metrics = Crawl.metrics(spark, runDir).as[(Int, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(metrics == Seq((1, 5L, 1L, 1L, 12L, 20L, 1534L), (2, 0L, 0L, 0L, 0L, 20L, -1L)))
    assert(Crawl.lineage(spark, runDir, 1).as[(Int, Boolean, Long, Long)].collect().toSeq ==
      lineage1.map(p => (p.pid, p.fetchOk, p.rows, p.words)))
    assert(Crawl.lineage(spark, runDir, 2).isEmpty)
  }

  test("epoch commits touch only the seen DELTA; no rank is materialized at write") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 4, maxEpochs = 40)
    val runDir = freshDir("delta")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    val last = Crawl.lastCommittedEpoch(runDir)
    assert(last > 2)

    def deltaHashes(e: Int): Set[Long] = {
      val d = f"$runDir/seen/epoch=$e%04d"
      if (!Files.isDirectory(java.nio.file.Paths.get(d))) Set.empty
      else scala.util.Try(
        spark.read.parquet(d).as[Long].collect().toSet).getOrElse(Set.empty)
    }

    // (a) each post-bootstrap seen dir holds EXACTLY that epoch's new
    // frontier rows — the commit is O(delta), never a history rewrite
    (1 to last).foreach { e =>
      assert(manifest(runDir, e).newFrontier.contains(deltaHashes(e).size.toLong),
        s"epoch $e seen dir is not the delta")
    }
    // (b) deltas are pairwise disjoint and union to the full seen set
    val all = (0 to last).map(deltaHashes)
    assert(all.map(_.size).sum == all.reduce(_ ++ _).size, "deltas overlap")
    assert(all.reduce(_ ++ _) ==
      Crawl.seenSet(spark, runDir).as[Long].collect().toSet)
    // (c) visits parquet stores the sort key, not a materialized global rank
    val visitCols = spark.read.parquet(f"$runDir/visits/epoch=0000").columns.toSet
    assert(!visitCols.contains("visit_rank"), s"rank materialized at write: $visitCols")
    assert(Set("priority", "score", "depth", "path").subsetOf(visitCols))
  }

  test("seen compaction: resume across a compaction boundary keeps identity") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40,
      seenCompactEvery = 3)
    val full = freshDir("compact-full")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, full, cfg)
    assert(Crawl.lastCommittedEpoch(full) > 6, "site too small to cross two compactions")

    val partial = freshDir("compact-part")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg.copy(maxEpochs = 4))
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg)

    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(partial) == seenHashes(full))
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(partial) == vs(full))
    // and the compacted run still matches the sequential oracle
    val (oracleVisits, oracleSeen) = oracleCrawl(cfg)
    assert(vs(full) == oracleVisits)
    assert(seenHashes(full).size == oracleSeen.size)
  }

  test("crash consistency: uncommitted partial writes are invisible on resume") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val (full, _) = reference

    val partial = freshDir("crash-part")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg.copy(maxEpochs = 3))
    // simulate a crash AFTER some epoch-4 data landed but BEFORE its
    // manifest committed: garbage state below the commit point
    val last = Crawl.lastCommittedEpoch(partial)
    val nextSeen = java.nio.file.Paths.get(f"$partial/seen/epoch=${last + 1}%04d")
    Files.createDirectories(nextSeen)
    Seq(999999999L).toDF("url_hash").write.mode("overwrite").parquet(nextSeen.toString)
    val nextVisits = java.nio.file.Paths.get(f"$partial/visits/epoch=${last + 1}%04d")
    Files.createDirectories(nextVisits)
    Files.writeString(nextVisits.resolve("garbage.txt"), "not parquet")
    Files.writeString(java.nio.file.Paths.get(
      f"$partial/bloom_${last + 1}%04d.bin"), "junk")

    // resume: commit-then-advance means the orphaned writes are overwritten,
    // never read — final state identical to the uninterrupted run
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg)
    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(partial) == seenHashes(full))
    assert(!seenHashes(partial).contains(999999999L))
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(partial) == vs(full))
  }

  /** The delta-filter files `<family>_*.bin` of a run: `bloom_*.bin`, or
    * the `cuckoo_*.bin` an earlier version could write. */
  private def filterFiles(runDir: String, family: String = "bloom"): Seq[Path] =
    ls(Paths.get(runDir)).filter { p =>
      val n = p.getFileName.toString
      n.startsWith(s"${family}_") && n.endsWith(".bin")
    }

  test("resume rebuilds missing delta filters: seen set, visits and summary equal an uninterrupted run") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val (full, fullSummary) = reference

    val partial = freshDir("rebuild-part")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg.copy(maxEpochs = 2))
    // every committed epoch's filter is gone: resume rebuilds each from its
    // seen delta
    val removed = filterFiles(partial)
    assert(removed.size == Crawl.lastCommittedEpoch(partial) + 1, removed)
    removed.foreach(Files.delete)
    val resumedSummary = Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg)
    assert(resumedSummary == fullSummary)

    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(partial) == seenHashes(full))
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(partial) == vs(full))
  }

  test("when a run returns, every committed epoch's filter file covers its seen delta") {
    import graft.frontier.BloomStore
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40, seenCompactEvery = 2)
    val runDir = freshDir("filters")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    val last = Crawl.lastCommittedEpoch(runDir)
    assert(manifest(runDir, last).seenBase > 0, "no compaction")
    val store = new BloomStore(0.03)
    (0 to last).foreach { e =>
      val saved = store.path(runDir, e)
      assert(Files.exists(saved), s"no filter file at epoch $e")
      val delta = spark.read.parquet(f"$runDir/seen/epoch=$e%04d")
      // byte-identical to a build over the delta, sized by its rows (the
      // build yields no filter over no rows: an empty delta's is empty)
      val expected = Files.createTempFile("bloom-expected", ".bin")
      val n = delta.count()
      store.save(if (n == 0) store.empty() else store.build(spark, delta, "url_hash", n),
        expected)
      assert(Files.readAllBytes(saved).sameElements(Files.readAllBytes(expected)),
        s"bloom filter of epoch $e")
    }
  }

  test("resume fails closed when a missing delta filter cannot be rebuilt") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val partial = freshDir("unreadable")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg.copy(maxEpochs = 2))
    val last = Crawl.lastCommittedEpoch(partial)
    // epoch 1's filter is gone and its seen delta (which has rows) cannot
    // be read: an empty filter in its place would let its URLs past the
    // exact probe as new
    assert(manifest(partial, 1).seenTotal > manifest(partial, 0).seenTotal)
    val lost = filterFiles(partial).filter(_.getFileName.toString.endsWith("_0001.bin"))
    assert(lost.size == 1)
    Files.delete(lost.head)
    val delta = Paths.get(f"$partial/seen/epoch=0001")
    ls(delta).foreach(Files.delete)
    Files.writeString(delta.resolve("part-00000.snappy.parquet"), "not parquet")
    val before = tableDirs(partial)

    intercept[org.apache.spark.SparkException] {
      Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg)
    }
    assert(Crawl.lastCommittedEpoch(partial) == last)
    assert(tableDirs(partial) == before, "the failed resume wrote snapshot dirs")
  }

  private lazy val sc = spark.sparkContext
  private lazy val cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
  // `numCachedEntries` is package-private in Scala, public in bytecode
  private def cachedEntries: Int =
    cacheManager.getClass.getMethod("numCachedEntries").invoke(cacheManager).asInstanceOf[Int]
  // the status tracker reads what the listener bus has delivered: drain it
  // first (`listenerBus` is package-private in Scala, public in bytecode)
  private def activeJobs: Seq[Int] = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    sc.statusTracker.getActiveJobIds().toSeq
  }

  test("a finished crawl leaves no cached table or persisted RDD behind") {
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = cachedEntries
    // a binding page cap (the admitted set is cached) and a compaction
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxPages = 40, maxEpochs = 40,
      seenCompactEvery = 2)
    val runDir = freshDir("no-leak")
    val s = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    assert(s.fetched > 0 && Crawl.lastCommittedEpoch(runDir) > 2)
    val leftover = sc.getPersistentRDDs.filter { case (id, _) => !rddsBefore(id) }
    assert(leftover.isEmpty, s"persisted RDDs left by the run: ${leftover.values.mkString(", ")}")
    assert(cachedEntries == cachedBefore, "cached tables left by the run")
  }

  test("a failed epoch joins its running jobs and frees its caches; a resume equals an uninterrupted run") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val (full, fullSummary) = reference
    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    val visited = Crawl.visits(spark, full).select("epoch", "depth", "url")
      .as[(Int, Int, String)].collect().toSeq
    // phase A: one page's html fails to compute once epoch 1 has begun (its
    // manifest is committed); a page store that is not a local relation keeps
    // the column from being folded on the driver at planning time
    val epoch1Url = visited.filter(_._1 == 1).map(_._3).min
    def failingPages(runDir: String) = {
      val started = EpochManifest.path(runDir, 1).toString
      val html = udf { (u: String, h: String) =>
        if (u == epoch1Url && Files.exists(Paths.get(started)))
          throw new IllegalStateException(s"page store unavailable for $u")
        h
      }
      spark.createDataFrame(pagesDF.rdd, pagesDF.schema)
        .withColumn("html", html(col("url"), col("html")))
    }
    // phase B: the link scorer fails for a page two links deep, so the failing
    // epoch is not the first. It scores 0.5 otherwise, as the default does
    val deepUrl = visited.filter(_._2 >= 2).map(_._3).min
    val failingScorer: (String, String) => Double = (u, _) =>
      if (u == deepUrl) throw new IllegalStateException(s"scorer failed on $u") else 0.5
    for ((phase, run) <- Seq[(String, String => Unit)](
        "phase A" -> (d => Crawl.run(spark, seedsDF, failingPages(d), robotsDF, d, cfg)),
        "phase B" -> (d => Crawl.run(spark, seedsDF, pagesDF, robotsDF, d,
          cfg.copy(linkScorer = Some(failingScorer)))))) {
      val rddsBefore = sc.getPersistentRDDs.keySet
      val cachedBefore = cachedEntries
      val runDir = freshDir("failed-epoch")
      intercept[org.apache.spark.SparkException](run(runDir))
      assert(activeJobs.isEmpty, s"$phase: jobs still running after the throw: $activeJobs")
      val leftover = sc.getPersistentRDDs.filter { case (id, _) => !rddsBefore(id) }
      assert(leftover.isEmpty, s"$phase: persisted RDDs left: ${leftover.values.mkString(", ")}")
      assert(cachedEntries == cachedBefore, s"$phase: cached tables left by the failed run")
      assert(Crawl.lastCommittedEpoch(runDir) >= 1, phase)
      val resumed = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
      assert(resumed == fullSummary, phase)
      assert(seenHashes(runDir) == seenHashes(full), phase)
      assert(vs(runDir) == vs(full), phase)
    }
  }

  test("a filter build that fails after its epoch's commit fails the run; a resume equals an uninterrupted run") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val (full, fullSummary) = reference
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = cachedEntries
    val runDir = freshDir("failed-filter")
    // epoch 2's filter builds after manifest_0002 commits, and cannot be saved
    // over a non-empty dir: the error surfaces at the next epoch's probe
    val blocker = Paths.get(runDir, "bloom_0002.bin")
    Files.createDirectories(blocker)
    Files.writeString(blocker.resolve("not-a-filter"), "")
    intercept[java.nio.file.FileSystemException] {
      Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    }
    assert(activeJobs.isEmpty, s"jobs still running after the throw: $activeJobs")
    val leftover = sc.getPersistentRDDs.filter { case (id, _) => !rddsBefore(id) }
    assert(leftover.isEmpty, s"persisted RDDs left: ${leftover.values.mkString(", ")}")
    assert(cachedEntries == cachedBefore, "cached tables left by the failed run")
    assert(Files.exists(EpochManifest.path(runDir, 2)))
    assert(!Files.exists(EpochManifest.path(runDir, 3)))

    ls(blocker).foreach(Files.delete)
    Files.delete(blocker)
    val resumed = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
    assert(resumed == fullSummary)
    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(runDir) == seenHashes(full))
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(runDir) == vs(full))
  }

  test("a failed bootstrap joins its running jobs, frees its cache and commits nothing") {
    // the seeds' url column fails to compute, or the seen(0) write cannot
    // create its dir while the frontier(0) write and the seed filter run
    val failingSeeds = seedsDF.withColumn("url", udf { (u: String) =>
      if (u != null) throw new IllegalStateException(s"seed store unavailable for $u")
      u
    }.apply(col("url")))
    for ((what, run) <- Seq[(String, String => Unit)](
        "seed column" -> (d => Crawl.run(spark, failingSeeds, pagesDF, robotsDF, d)),
        "seen(0) write" -> { d =>
          Files.writeString(Paths.get(d, "seen"), "a file where the seen dirs go")
          Crawl.run(spark, seedsDF, pagesDF, robotsDF, d)
        })) {
      val rddsBefore = sc.getPersistentRDDs.keySet
      val cachedBefore = cachedEntries
      val runDir = freshDir("failed-bootstrap")
      intercept[Exception](run(runDir))
      assert(activeJobs.isEmpty, s"$what: jobs still running after the throw: $activeJobs")
      val leftover = sc.getPersistentRDDs.filter { case (id, _) => !rddsBefore(id) }
      assert(leftover.isEmpty, s"$what: persisted RDDs left: ${leftover.values.mkString(", ")}")
      assert(cachedEntries == cachedBefore, s"$what: cached tables left by the failed run")
      assert(Crawl.lastCommittedEpoch(runDir) == -1, what)
      assert(!Files.exists(EpochManifest.path(runDir, 0)), what)
    }
  }

  test("no valid seed: the bootstrap commits an empty frontier and nothing is fetched") {
    // every seed is nonsense or has no host: none passes validation
    val badSeeds = Seq(SeedRec("http://site0.com/robots.txt", "cc"), SeedRec("not a url", "sitemap"))
      .toDF()
    val runDir = freshDir("no-seed")
    val s = Crawl.run(spark, badSeeds, pagesDF, robotsDF, runDir, CrawlConfig(strategy = "bfs"))
    assert(s == CrawlSummary(0, 0, 0, 0, 0))
    assert(Crawl.lastCommittedEpoch(runDir) == 0)
    assert(manifest(runDir, 0).frontierQueued.contains(0L))
    assert(Files.exists(Paths.get(f"$runDir/bloom_0000.bin")))
  }

  test("a warm crawl compiles almost no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // crawl_deep's shape: 8 hosts, a page store in parquet, bfs, hostBudget
    // 8, two epochs. A crawl's generated classes must fit Spark's cache of
    // compiled classes, so the third identical crawl finds them there
    val deep = Synth.SiteCfg(seed = 1L, nHosts = 8, cats = 3, subs = 2, prods = 5)
    val store = freshDir("deep-pages")
    spark.range(Synth.pageCount(deep)).map(i => Synth.pageRecAt(deep, i))
      .write.mode("overwrite").parquet(store)
    val deepPages = spark.read.parquet(store)
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 8, maxEpochs = 2)
    val compiles = (1 to 3).map { i =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val s = Crawl.run(spark, Synth.seeds(deep).toDF(), deepPages, Synth.robots(deep).toDF(),
        freshDir(s"warm-$i"), cfg)
      assert(s.epochs == 2 && s.fetched > 0)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles(2) <= 20, s"compilations per crawl: ${compiles.mkString(", ")}")
  }

  test("domain state: idle hosts carry delay/fail_count forward (no resurrection)") {
    import graft.politeness.DomainState
    val states = Seq(
      ("idle.com", 32.0, 4),     // aborted (fail_count > MaxRetries), no results
      ("busy.com", 8.0, 2),      // throttled again this epoch
      ("ok.com", 16.0, 1))       // succeeds this epoch
      .toDF("host", "current_delay", "fail_count")
    val results = Seq(
      ("busy.com", 503), ("ok.com", 200), ("new.com", 200))
      .toDF("host", "status_code")
    val out = DomainState.evolve(states, results).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(out("idle.com") == ((32.0, 4, true)), "idle host state must be untouched")
    assert(out("busy.com") == ((16.0, 3, false)))
    assert(out("ok.com") == ((12.0, 0, false)))
    assert(out("new.com") == ((2.0 * 0.75 max 2.0, 0, false)))
  }
}
