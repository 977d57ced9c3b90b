package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.politeness.DomainState
import graft.sources.{Pdf, Seeder}

class SeederSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  def sitemapXml(urls: Seq[String]): String =
    "<urlset>" + urls.map(u => s"<url><loc> $u </loc></url>").mkString + "</urlset>"
  def indexXml(sitemaps: Seq[String]): String =
    "<sitemapindex>" + sitemaps.map(u => s"<sitemap><loc>$u</loc></sitemap>").mkString + "</sitemapindex>"

  test("sitemap recursive expansion through an index") {
    val store = Seq(
      ("http://a.com/sitemap.xml", indexXml(Seq("http://a.com/s1.xml", "http://a.com/s2.xml"))),
      ("http://a.com/s1.xml", sitemapXml(Seq("http://a.com/p1", "http://a.com/p2"))),
      ("http://a.com/s2.xml", sitemapXml(Seq("http://a.com/p3")))
    ).toDF("url", "xml")
    val roots = Seq("http://a.com/sitemap.xml").toDF("url")
    val pages = Seeder.expandSitemaps(roots, store).select("url")
      .as[String].collect().toSet
    assert(pages == Set("http://a.com/p1", "http://a.com/p2", "http://a.com/p3"))
  }

  test("cc index glob filter") {
    val rows = Seq(
      """{"url": "http://sub.a.com/page1", "status": "200"}""",
      """{"url": "http://b.com/page2"}""",
      """{"url": "http://a.com/page3"}""").toDF("value")
    val out = Seeder.ccIndex(rows, "http://*a.com/*").as[String].collect().toSet
    assert(out == Set("http://sub.a.com/page1", "http://a.com/page3"))
  }

  test("seed pipeline: union rank, first-wins dedup, nonsense filter, max cut") {
    val sitemap = Seq("http://a.com/x?utm_source=s", "http://a.com/robots.txt",
      "http://a.com/y").toDF("url")
    val cc = Seq("http://a.com/x", "http://a.com/z", "not a url").toDF("url")
    val out = Seeder.seedPipeline(Seq("sitemap" -> sitemap, "cc" -> cc))
      .select("url", "source").as[(String, String)].collect().toMap
    // x deduped (tracking param stripped) with sitemap (rank 0) winning
    assert(out("http://a.com/x") == "sitemap")
    assert(out("http://a.com/y") == "sitemap")
    assert(out("http://a.com/z") == "cc")
    assert(!out.contains("http://a.com/robots.txt")) // nonsense dropped
    assert(out.size == 3)

    val capped = Seeder.seedPipeline(Seq("sitemap" -> sitemap, "cc" -> cc),
      maxUrls = 2)
    assert(capped.count() == 2)
  }

  test("seed pipeline: BM25 head scoring ranks relevant heads first") {
    val urls = Seq("http://a.com/spark", "http://a.com/cooking", "http://a.com/mixed")
      .toDF("url")
    val heads = Seq(
      ("http://a.com/spark", "spark streaming spark sql engine"),
      ("http://a.com/cooking", "pasta recipes and sauces"),
      ("http://a.com/mixed", "spark plugs for cars")).toDF("url", "head")
    val out = Seeder.seedPipeline(Seq("sitemap" -> urls),
        headText = Some(heads), query = Seq("spark"), scoreThreshold = 0.0001)
      .select("url", "score").as[(String, Double)].collect()
    assert(out.length == 2) // cooking scored 0 → below threshold
    assert(out.head._1 == "http://a.com/spark") // highest score first
    assert(out.forall(_._2 > 0))
  }

  test("domain state: deterministic backoff, decay, abort") {
    val s0 = Seq.empty[(String, Double, Int)].toDF("host", "current_delay", "fail_count")
    val r1 = Seq(("a.com", 503), ("a.com", 200), ("b.com", 200)).toDF("host", "status_code")
    val s1 = DomainState.evolve(s0, r1)
    val m1 = s1.collect().map(r => r.getString(0) ->
      (r.getDouble(1), r.getInt(2), r.getBoolean(3))).toMap
    assert(m1("a.com") == ((4.0, 1, false)))  // 2.0 * 2 (throttled beats success)
    assert(m1("b.com") == ((2.0, 0, false)))  // decays but floored at base

    // repeated throttles: delay doubles to the cap, abort after >3 fails
    var st = s1.drop("aborted")
    val throttle = Seq(("a.com", 429)).toDF("host", "status_code")
    (0 until 4).foreach { _ => st = DomainState.evolve(st, throttle).drop("aborted") }
    val fin = DomainState.evolve(st, throttle).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2), r.getBoolean(3))).toMap
    assert(fin("a.com")._1 == 60.0) // capped
    assert(fin("a.com")._3)         // aborted
  }

  test("host budget derives from delay, zero when aborted") {
    val st = Seq(("a.com", 2.0, 0, false), ("b.com", 60.0, 5, true),
      ("c.com", 45.0, 0, false)).toDF("host", "current_delay", "fail_count", "aborted")
    val b = DomainState.hostBudget(st, epochSeconds = 60.0).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(b("a.com") == 30)
    assert(b("b.com") == 0)
    assert(b("c.com") == 1)
  }

  test("pdf source: binary → pages → span docs (stub kernel, real plumbing)") {
    val bins = Seq(
      Pdf.PdfBinary("/docs/a.pdf", 100L, Array.tabulate(100)(_.toByte)),
      Pdf.PdfBinary("/docs/b.pdf", 64L, Array.tabulate(64)(i => (i * 3).toByte))).toDS()
    val pages = Pdf.pages(bins).cache()
    val byDoc = pages.collect().groupBy(_.doc_id)
    assert(byDoc.keySet == Set("/docs/a.pdf", "/docs/b.pdf"))
    byDoc.values.foreach { ps =>
      assert(ps.map(_.page_no).sorted.toSeq == (0 until ps.length))
      ps.foreach(p => assert(p.text.nonEmpty))
    }
    // determinism: same bytes → same pages
    val again = Pdf.pages(bins).collect().toSet
    assert(again == pages.collect().toSet)
    // span-doc projection: one text span per page, DOM-order offsets
    val docs = Pdf.toSpanDocs(pages.toDF()).collect()
    docs.foreach { r =>
      val spans = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("spans")
      assert(spans.map(_.getAs[Int]("offset")).toSeq == (0 until spans.length))
      assert(spans.forall(_.getAs[String]("kind") == "text"))
    }
  }

  test("head store: fresh entries served from cache, stale/missing refetched (TTL)") {
    import spark.implicits._
    val ttl = 1000L
    val store = Seq(
      ("http://a/fresh", "valid", "<title>cached fresh</title>", 9500L),
      ("http://a/stale", "valid", "<title>cached stale</title>", 1000L),
      ("http://a/unrelated", "valid", "<title>other</title>", 9000L))
      .toDF("url", "status", "head", "fetched_at")
    val requests = Seq("http://a/fresh", "http://a/stale", "http://a/new").toDF("url")
    val fetch = Seq(
      ("http://a/fresh", "valid", "<title>network fresh</title>"),
      ("http://a/stale", "valid", "<title>network stale</title>"),
      ("http://a/new", "valid", "<title>network new</title>"))
      .toDF("url", "status", "head")
    val (served, newStore) =
      graft.sources.Seeder.refreshHeadStore(store, requests, fetch, nowMs = 10000L, ttlMs = ttl)

    val m = served.collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(m.keySet == Set("http://a/fresh", "http://a/stale", "http://a/new"))
    // fresh (age 500 <= ttl): cache hit — the network copy is NOT consulted
    assert(m("http://a/fresh") == (("<title>cached fresh</title>", 9500L)))
    // stale (age 9000 > ttl): refetched and restamped
    assert(m("http://a/stale") == (("<title>network stale</title>", 10000L)))
    assert(m("http://a/new") == (("<title>network new</title>", 10000L)))

    // store update is a DELTA: only stale/missing rows rewritten; a request
    // absent from the fetch source records not_valid (reference head-fail)
    val st = newStore.collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(st("http://a/fresh")._2 == 9500L)
    assert(st("http://a/stale")._2 == 10000L)
    assert(st("http://a/new")._2 == 10000L)
    assert(st("http://a/unrelated")._2 == 9000L)
    val (served2, _) = graft.sources.Seeder.refreshHeadStore(
      store, Seq("http://a/missing").toDF("url"), fetch.limit(0), nowMs = 10000L, ttlMs = ttl)
    assert(served2.collect().head.getString(1) == "not_valid")
  }

  test("link preview: head data + scores land on the enriched link rows") {
    import graft.sources.LinkPreview
    // (page_url, href, link_pos, is_internal, intrinsic_score)
    val links = Seq(
      ("http://p/1", "http://a/docs", 0, true, 4.0),   // fetch hit, scored
      ("http://p/1", "http://a/cached", 1, true, 2.0), // fresh store hit
      ("http://p/1", "http://a/miss", 2, true, 6.0),   // head fetch fails
      ("http://p/1", "http://x.ad/z", 3, true, 1.0),   // excluded by pattern
      ("http://p/2", "http://b/ext", 0, false, 3.0))   // external: filtered
      .toDF("page_url", "href", "link_pos", "is_internal", "intrinsic_score")
    val store = Seq(("http://a/cached", "valid", "spark spark guide", 9500L))
      .toDF("url", "status", "head", "fetched_at")
    val fetch = Seq(("http://a/docs", "valid", "spark tutorial"))
      .toDF("url", "status", "head")
    val (out, newStore) = LinkPreview.enrich(links, store, fetch,
      LinkPreview.Config(includeInternal = true, includeExternal = false,
        excludePatterns = Seq("*.ad/*"), query = Seq("spark"),
        nowMs = 10000L, ttlMs = 5000L))
    val m = out.collect().map(r => r.getAs[String]("href") ->
      ((r.getAs[String]("head_status"), r.getAs[String]("head"),
        Option(r.getAs[java.lang.Double]("contextual_score")).map(_.doubleValue),
        r.getAs[Double]("total_score")))).toMap
    // head_data lands on the requested rows; the rest stay not_requested
    assert(m("http://a/docs")._1 == "valid" && m("http://a/docs")._2 == "spark tutorial")
    assert(m("http://a/cached")._1 == "valid" && m("http://a/cached")._2 == "spark spark guide")
    // failed head extraction: no contextual score, total falls back to
    // intrinsic (calculate_total_score case 2)
    assert(m("http://a/miss") == (("not_valid", "", None, 6.0)))
    assert(m("http://x.ad/z") == (("not_requested", "", None, 1.0)))
    assert(m("http://b/ext") == (("not_requested", "", None, 3.0)))
    // contextual BM25 > 0 on both valid heads; total = 0.7·i + 0.3·min(10c,10)
    val (_, _, Some(cDocs), tDocs) = m("http://a/docs")
    assert(cDocs > 0.0)
    assert(math.abs(tDocs - (4.0 * 0.7 + math.min(cDocs * 10, 10.0) * 0.3)) < 1e-9)
    // the store delta recorded the fetched + failed heads
    val st = newStore.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st("http://a/docs") == "valid" && st("http://a/miss") == "not_valid")
    assert(st("http://a/cached") == "valid")
  }
}
