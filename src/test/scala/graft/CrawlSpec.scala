package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.frontier.{Crawl, CrawlConfig, CrawlSummary}
import graft.politeness.Robots
import graft.scrape.Scrape
import java.nio.file.Files

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

  private def manifestLong(runDir: String, e: Int, field: String): Long = {
    val p = java.nio.file.Paths.get(f"$runDir/manifest_$e%04d.json")
    ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toLong).getOrElse(-1L)
  }

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
      assert(manifestLong(runDir, k, "frontier_queued") == queuedUrls(k).size, s"frontier_queued@$k")
      assert(manifestLong(runDir, k, "seen_total") ==
        Crawl.seenSet(spark, runDir, asOf = k).count(), s"seen_total@$k")
    }
    (1 to last).foreach { k =>
      val admitted = queuedUrls(k - 1) -- snap("frontier", k).select("url").as[String].collect()
      val blocked = admitted.count(u => !rules.get(Urls.host(u)).forall(Robots.canFetch(_, u)))
      assert(manifestLong(runDir, k, "skipped_robots") == blocked, s"skipped_robots@$k")
      assert(manifestLong(runDir, k, "fetched") == snap("docs", k - 1).count(), s"fetched@$k")
      assert(manifestLong(runDir, k, "fetched") + manifestLong(runDir, k, "failed") ==
        admitted.size - blocked, s"visited@$k")
      assert(manifestLong(runDir, k, "seen_base") < k, s"epoch $k compacted; use a shorter crawl")
      assert(manifestLong(runDir, k, "new_frontier") == snap("seen", k).count(), s"new_frontier@$k")
    }
    assert(summary.seen == Crawl.seenSet(spark, runDir).count())
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
    val full = freshDir("full")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, full, cfg)

    val partial = freshDir("partial")
    // killed after 2 epochs…
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg.copy(maxEpochs = 2))
    // …resumed from the last committed snapshot
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, partial, cfg)

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
    val runDir = freshDir("recrawl")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
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

    val n = Crawl.expireEpoch(spark, runDir, 1)
    assert(n == expired.size)
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

  test("cuckoo seen-filter: crawl + TTL recrawl identical to bloom; expiry evicts from the filter") {
    import graft.frontier.{CuckooSeen, SeenStore, ShardedCuckoo}
    val bloomCfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val cuckooCfg = bloomCfg.copy(seenFilter = "cuckoo", cuckooShards = 4)
    val bDir = freshDir("seen-bloom"); val cDir = freshDir("seen-cuckoo")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, bDir, bloomCfg)
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, cDir, cuckooCfg)
    // the filter family must be invisible to results: identical visit order,
    // seen set, and docs between bloom and cuckoo runs
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(bDir) == vs(cDir))
    assert(Crawl.seenSet(spark, bDir).as[Long].collect().toSet ==
      Crawl.seenSet(spark, cDir).as[Long].collect().toSet)
    assert(Crawl.docs(spark, bDir).count() == Crawl.docs(spark, cDir).count())
    // cuckoo filter files committed per epoch, bloom files absent
    val last = Crawl.lastCommittedEpoch(cDir)
    val store = SeenStore.detect(cDir, last)
    assert(store.name == "cuckoo")
    assert(!Files.exists(java.nio.file.Paths.get(f"$cDir/bloom_$last%04d.bin")))

    // ---- TTL recrawl under cuckoo: same e2e contract as the bloom test ----
    val seenBefore = Crawl.seenSet(spark, cDir).as[Long].collect().toSet
    val epochsBefore = last
    val expiredHashes = spark.read.parquet(f"$cDir/seen/epoch=${1}%04d")
      .as[Long].collect().toSet
    assert(expiredHashes.nonEmpty)
    // before expiry the epoch-1 delta filter contains all its hashes
    val preFilter = store.load(store.path(cDir, 1)).asInstanceOf[ShardedCuckoo]
    assert(expiredHashes.forall(preFilter.contains))

    val n = Crawl.expireEpoch(spark, cDir, 1)
    assert(n > 0)
    // expiry EVICTED the delta's hashes from the persisted filter (the
    // deletable-seen capability exercised through the TTL path, not test-only)
    val postFilter = store.load(store.path(cDir, 1)).asInstanceOf[ShardedCuckoo]
    val stillIn = expiredHashes.count(postFilter.contains)
    assert(stillIn <= math.max(1, (expiredHashes.size * 1.2e-3).toInt),
      s"$stillIn of ${expiredHashes.size} expired hashes survived eviction")

    Crawl.run(spark, seedsDF, pagesDF, robotsDF, cDir, cuckooCfg)
    // recrawl through the filter: seen-set identity, refetch docs emitted
    assert(Crawl.seenSet(spark, cDir).as[Long].collect().toSet == seenBefore)
    val revisited = Crawl.visits(spark, cDir)
      .where(col("epoch") > epochsBefore).select("url").as[String].collect().toSet
    assert(revisited.nonEmpty)
    val freshDocs = Crawl.docs(spark, cDir)
      .where(col("epoch") > epochsBefore).select("doc_id").as[String].collect().toSet
    assert(freshDocs.nonEmpty && freshDocs.subsetOf(revisited))
    // and the recrawl matches the bloom-path recrawl exactly
    Crawl.expireEpoch(spark, bDir, 1)
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, bDir, bloomCfg)
    assert(vs(bDir) == vs(cDir))
  }

  test("cuckoo TTL expiry stays sound when expired pages link to each other") {
    // the dangerous shape: /a and /b are both expired AND link to each
    // other. Eviction removes their hashes from the filter while the exact
    // ledger keeps them — without the queued-heal filter, the recrawl's
    // discovery of /b (from /a's links) would ride the definitely-new fast
    // path PAST the exact anti-join and fetch /b twice.
    def page(u: String, links: Seq[String]) = {
      val hrefs = links.map(l => s"""<a href="$l">go to $l now</a>""").mkString(" ")
      (u, s"<html><body><p>content words for page $u body text</p>$hrefs</body></html>")
    }
    val mini = Seq(
      // page-store URLs are the CANONICAL forms (deep canonicalizer
      // rstrips '/' including root)
      page("http://x.com", Seq("/a", "/b")),
      page("http://x.com/a", Seq("/b", "/c")),
      page("http://x.com/b", Seq("/a")),
      page("http://x.com/c", Nil))
    val miniPages = mini.map { case (u, h) => PageRec(u, 0L, "x.com", h, 200, 0) }.toDF()
      .withColumn("url_hash", xxhash64(col("url")))
    val miniSeeds = Seq(("http://x.com/", "sitemap")).toDF("url", "source")
    val cfg = CrawlConfig(hostBudget = 10, maxEpochs = 20,
      seenFilter = "cuckoo", cuckooShards = 2)
    val runDir = freshDir("cuckoo-sound")
    Crawl.run(spark, miniSeeds, miniPages, robotsDF.limit(0), runDir, cfg)
    val seenBefore = Crawl.seenSet(spark, runDir).as[Long].collect().sorted.toSeq
    assert(seenBefore.distinct == seenBefore) // ledger duplicate-free
    val epochsBefore = Crawl.lastCommittedEpoch(runDir)
    // expire epoch 1 (/a, /b) TWICE — the marker must stop the second
    // eviction (absent-key cuckoo deletes can strip colliding live keys)
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
    val marker = "crawl_spec_fanout_marker"
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) markerSeen = true
        else actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(funcName)
    }
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val runDir = freshDir("fanout")
    spark.listenerManager.register(listener)
    val summary =
      try {
        val s = Crawl.run(spark, seedsDF, pagesDF, robotsDF, runDir, cfg)
        // listener events arrive asynchronously, in order: once the marker
        // query is seen, every event of the crawl has been delivered
        spark.range(1).toDF(marker).collect()
        val deadline = System.currentTimeMillis() + 60000
        while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
        s
      } finally spark.listenerManager.unregister(listener)
    assert(markerSeen, "listener bus did not drain")
    import scala.jdk.CollectionConverters._
    val seen = actions.asScala.toSeq
    assert(seen.nonEmpty)
    assert(!seen.contains("count"), s"count actions in the crawl: ${seen.groupBy(identity).view.mapValues(_.size).toMap}")
    assertManifestsMatchSnapshots(runDir, summary)
  }

  test("resume from a bootstrap manifest without frontier_queued matches an uninterrupted run") {
    val cfg = CrawlConfig(strategy = "bfs", hostBudget = 3, maxEpochs = 40)
    val full = freshDir("oldboot-full")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, full, cfg)

    val resumed = freshDir("oldboot-resumed")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, resumed, cfg.copy(maxEpochs = 0))
    val m0 = java.nio.file.Paths.get(s"$resumed/manifest_0000.json")
    val json = Files.readString(m0)
    assert(json.contains("\"frontier_queued\":"))
    Files.writeString(m0, json.replaceAll("\"frontier_queued\":\\d+,", ""))
    assert(manifestLong(resumed, 0, "frontier_queued") == -1L)
    val summary = Crawl.run(spark, seedsDF, pagesDF, robotsDF, resumed, cfg)

    def seenHashes(d: String): Set[Long] =
      Crawl.seenSet(spark, d).as[Long].collect().toSet
    assert(seenHashes(resumed) == seenHashes(full))
    def vs(d: String) = Crawl.visits(spark, d).select("epoch", "visit_rank", "url")
      .orderBy("epoch", "visit_rank").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(vs(resumed) == vs(full))
    assert(summary.seen == seenHashes(full).size)
    assert(manifestLong(resumed, 1, "frontier_queued") == manifestLong(full, 1, "frontier_queued"))
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
      assert(deltaHashes(e).size == manifestLong(runDir, e, "new_frontier"),
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
    val full = freshDir("crash-full")
    Crawl.run(spark, seedsDF, pagesDF, robotsDF, full, cfg)

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
