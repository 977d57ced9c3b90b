package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Span, Synth}
import graft.scrape.{HtmlTok, Scrape}

/** Span-sequence equality: the scraper's (kind, text, media_ref, order) per
  * row must equal the generator-declared expected sequence for EVERY page of
  * the synthetic site — the correctness invariant of BASELINE.json.
  */
class ScrapeSpec extends AnyFunSuite {

  val cfg = Synth.SiteCfg(seed = 42L, nHosts = 3, cats = 3, subs = 2, prods = 5)

  test("span-sequence equality on every synthetic page") {
    val n = Synth.pageCount(cfg)
    var checked = 0
    (0L until n).foreach { i =>
      val p = Synth.pageAt(cfg, i)
      val doc = Scrape.scrape(p.url, p.html)
      assert(doc.spans == p.expectedSpans,
        s"span mismatch on ${p.url}\n got: ${doc.spans.mkString("\n  ")}\n exp: ${p.expectedSpans.mkString("\n  ")}")
      checked += 1
    }
    assert(checked == n)
  }

  test("link extraction: canonicalized, first-wins deduped, internal/external split") {
    val n = Synth.pageCount(cfg)
    (0L until n).foreach { i =>
      val p = Synth.pageAt(cfg, i)
      val doc = Scrape.scrape(p.url, p.html)
      assert(doc.links == p.expectedLinks,
        s"link mismatch on ${p.url}\n got: ${doc.links.mkString("\n  ")}\n exp: ${p.expectedLinks.mkString("\n  ")}")
    }
  }

  test("title captured, not emitted as span") {
    val p = Synth.pageAt(cfg, 0L)
    val doc = Scrape.scrape(p.url, p.html)
    assert(doc.title == p.title)
    assert(!doc.spans.exists(s => s.kind == "text" && s.text == p.title))
  }

  test("offsets are dense and 0-based") {
    (0L until Synth.pageCount(cfg)).foreach { i =>
      val p = Synth.pageAt(cfg, i)
      val doc = Scrape.scrape(p.url, p.html)
      assert(doc.spans.map(_.offset) == doc.spans.indices)
    }
  }

  test("word_count_threshold prunes short blocks") {
    val html = "<html><body><p>one two</p><p>a much longer paragraph with many words here</p></body></html>"
    val doc = Scrape.scrape("http://x.com/a", html, Scrape.Config(minWords = 3))
    assert(doc.spans.map(_.text) == Seq("a much longer paragraph with many words here"))
  }

  test("display:none, script, style subtrees excluded") {
    val html =
      """<html><body><div style="display:none"><p>hidden text</p><img src="/a.jpg" width="300" alt="x"></div>
        |<script>var x = '<p>not text</p>';</script><style>p { color: red }</style>
        |<p>visible</p></body></html>""".stripMargin
    val doc = Scrape.scrape("http://x.com/a", html)
    assert(doc.spans == Seq(Span("text", "visible", "", 0)))
  }

  test("image scoring: early-position bonus, strict threshold, icon-context rejection") {
    // first of two: width 200 (+1) + format (+1) + early position (+1) = 3 > 2 → kept
    // second of two: width 200 (+1) + format (+1) = 2, NOT > 2 → dropped
    // (position alone decides — the reference's index/total < 0.5 rule)
    val html = """<html><body><img src="/big.jpg" width="200"><img src="/late.jpg" width="200"><p>t</p></body></html>"""
    val doc = Scrape.scrape("http://x.com/a", html)
    assert(doc.spans == Seq(Span("media", "", "http://x.com/big.jpg", 0), Span("text", "t", "", 1)))

    // icon-context rejection: src mentioning icon/logo/button is dropped even
    // with a high score; a button parent likewise
    val html2 = """<html><body><img src="/icons/a.jpg" width="300" alt="x">""" +
      """<button><img src="/b.jpg" width="300" alt="y"></button>""" +
      """<div class="logo-row"><img src="/c.jpg" width="300" alt="z"></div>""" +
      """<img src="/keep.jpg" width="300" alt="k"><p>t</p></body></html>"""
    val doc2 = Scrape.scrape("http://x.com/a", html2)
    assert(doc2.spans == Seq(Span("media", "k", "http://x.com/keep.jpg", 0), Span("text", "t", "", 1)))
  }

  test("media variants: srcset widths, picture sources, dedup, desc, data-URI drop") {
    import graft.scrape.MediaExtract
    val html =
      """<html><body><div class="gallery"><p>Product gallery with plenty words</p>
        |<picture><source srcset="/pic/a-800.webp 800w"><img src="/pic/a.jpg" alt="A" width="300"
        |  srcset="/pic/a-400.jpg 400w, /pic/a-2x.jpg 2x" data-src="/pic/a-lazy.jpg"
        |  data-lazy-src="http://cdn.x.com/a.jpg"></picture>
        |<img src="data:image/png;base64,AA==" alt="badge" width="200">
        |</div></body></html>""".stripMargin
    val vs = MediaExtract.extract(html)
    // image 0: src, data-src, one w-descriptor srcset entry (2x → no width),
    // picture source, framework attr — deduped, ordered
    val g0 = vs.filter(_.group_id == 0)
    assert(g0.map(v => (v.src, v.width)) == Seq(
      ("/pic/a.jpg", None), ("/pic/a-lazy.jpg", None),
      ("/pic/a-400.jpg", Some(400)), ("/pic/a-2x.jpg", None),
      ("/pic/a-800.webp", Some(800)), ("http://cdn.x.com/a.jpg", None)))
    assert(g0.forall(_.alt == "A"))
    assert(g0.forall(_.format == "jpg"))
    // +1 width>150, +1 alt, +1 early, +1 format, +1 srcset, +1 picture = 6
    assert(g0.forall(_.score == 6))
    assert(g0.head.desc.contains("Product gallery"))
    // image 1: only a data: source → NO variant rows (reference returns None)
    assert(!vs.exists(_.group_id == 1))
    // parse_srcset quirks pinned directly
    assert(MediaExtract.parseSrcset("/a.png 480w, /b.png 2x, /c.png") ==
      Seq(("/a.png", Some(480)), ("/b.png", None), ("/c.png", None)))
  }

  test("data: URI media keeps position with blanked ref") {
    val html = """<html><body><p>before</p><img src="data:image/png;base64,AA==" alt="badge" width="200"><p>after</p></body></html>"""
    val doc = Scrape.scrape("http://x.com/a", html)
    assert(doc.spans == Seq(
      Span("text", "before", "", 0),
      Span("media", "badge", "", 1),
      Span("text", "after", "", 2)))
  }

  test("entities decode in text and attributes") {
    assert(HtmlTok.decodeEntities("a &amp; b &lt;c&gt; &#65;&#x42;") == "a & b <c> AB")
    val doc = Scrape.scrape("http://x.com/a", "<html><body><p>Q&amp;A</p></body></html>")
    assert(doc.spans.head.text == "Q&A")
  }

  test("interleaving: media spans flush surrounding text in DOM order") {
    val html = """<html><body><p>alpha <img src="/x.jpg" alt="pic" width="300"> beta</p></body></html>"""
    val doc = Scrape.scrape("http://x.com/a", html)
    assert(doc.spans == Seq(
      Span("text", "alpha", "", 0),
      Span("media", "pic", "http://x.com/x.jpg", 1),
      Span("text", "beta", "", 2)))
  }

  val selectorPage =
    """<html><body>
      |<nav><p>menu things</p><a href="/nav-link">nav</a></nav>
      |<div class="main"><p>real content here</p><a href="/deep">deep</a></div>
      |<div class="ads"><p>buy stuff now</p><a href="/ad-link">ad</a></div>
      |<footer><p>fine print</p></footer>
      |</body></html>""".stripMargin

  test("cssSelector slices the page before anything else (reference scope semantics)") {
    val doc = Scrape.scrape("http://x.com/a", selectorPage,
      Scrape.Config(cssSelector = Some(".main")))
    assert(doc.spans.map(_.text) == Seq("real content here", "deep"))
    // links outside the slice never existed downstream
    assert(doc.links.map(_.href) == Seq("http://x.com/deep"))
  }

  test("excludedSelector removes matching subtrees before processing") {
    val doc = Scrape.scrape("http://x.com/a", selectorPage,
      Scrape.Config(excludedSelector = Some(".ads, footer")))
    assert(!doc.spans.exists(_.text.contains("buy stuff")))
    assert(!doc.spans.exists(_.text.contains("fine print")))
    assert(doc.spans.exists(_.text.contains("real content")))
    assert(!doc.links.exists(_.href.contains("ad-link")))
  }

  test("link/image domain exclusions decompose elements (text suppressed too)") {
    val page =
      """<html><body>
        |<p>before <a href="http://other.com/x">external anchor text</a> after</p>
        |<p>social <a href="http://twitter.com/acct">tweet me</a> end</p>
        |<p>keep <a href="/local">internal anchor</a> done</p>
        |<img src="http://other.com/big.jpg" alt="ext pic" width="300" height="300">
        |<img src="/own.jpg" alt="own pic" width="300" height="300">
        |</body></html>""".stripMargin
    // exclude_external_links: external anchors decomposed — link AND text gone
    val d1 = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(excludeExternalLinks = true))
    assert(d1.links.map(_.href) == Seq("http://x.com/local"))
    assert(d1.spans.exists(_.text == "before after"), d1.spans)
    assert(d1.spans.exists(_.text == "social end"), d1.spans)
    // exclude_social_media_links: only the social domain decomposed
    val d2 = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(excludeSocialMediaLinks = true))
    assert(d2.links.map(_.href).toSet ==
      Set("http://other.com/x", "http://x.com/local"))
    assert(d2.spans.exists(_.text == "social end"), d2.spans)
    assert(d2.spans.exists(_.text.contains("external anchor text")), d2.spans)
    // exclude_internal_links
    val d3 = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(excludeInternalLinks = true))
    assert(!d3.links.exists(_.internal))
    assert(d3.spans.exists(_.text == "keep done"), d3.spans)
    // exclude_external_images: own-domain image survives, external dropped
    val d4 = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(excludeExternalImages = true))
    assert(d4.spans.filter(_.kind == "media").map(_.text) == Seq("own pic"))
    // excludeDomains hits images of that domain too
    val d5 = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(excludeDomains = Set("other.com")))
    assert(!d5.links.exists(_.href.contains("other.com")))
    assert(d5.spans.filter(_.kind == "media").map(_.text) == Seq("own pic"))
  }

  test("removeForms drops form subtrees") {
    val html = "<html><body><p>real</p><form><input><p>form text</p></form></body></html>"
    val d = Scrape.scrape("http://x.com/a", html, Scrape.Config(removeForms = true))
    assert(d.spans.map(_.text) == Seq("real"))
    val keep = Scrape.scrape("http://x.com/a", html)
    assert(keep.spans.exists(_.text.contains("form text")))
  }

  test("selector paths round-trip decoded entities without re-parsing them as markup") {
    // text contains what LOOKS like markup once decoded, plus an attribute
    // holding a double quote and a '>' — the reparse on the selector path
    // must not corrupt either (Dom.outerHtml re-escapes on serialize)
    val page =
      """<html><body>
        |<div class="main" title="say &quot;hi&quot; &gt;now">
        |<p>use &lt;b&gt;code&lt;/b&gt; tags &amp; enjoy</p>
        |<a href="/q?a=1&amp;b=2">link text</a>
        |</div>
        |<div class="ads"><p>buy stuff now</p></div>
        |</body></html>""".stripMargin
    val direct = Scrape.scrape("http://x.com/a", page)
    val sliced = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(cssSelector = Some(".main")))
    assert(sliced.spans.map(s => (s.kind, s.text)) == Seq(
      ("text", "use <b>code</b> tags & enjoy"), ("text", "link text")))
    // the href's decoded '&' survives canonicalization identically on both paths
    assert(sliced.links.map(_.href) == direct.links.map(_.href).filter(_.contains("/q")))
    val excluded = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(excludedSelector = Some(".ads")))
    assert(excluded.spans.exists(_.text == "use <b>code</b> tags & enjoy"), excluded.spans)
    val targeted = Scrape.scrape("http://x.com/a", page,
      Scrape.Config(targetElements = Seq(".main")))
    assert(targeted.spans.exists(_.text == "use <b>code</b> tags & enjoy"), targeted.spans)
  }

  test("targetElements restrict content spans; links still global") {
    val doc = Scrape.scrape("http://x.com/a", selectorPage,
      Scrape.Config(targetElements = Seq(".main")))
    assert(doc.spans.map(_.text) == Seq("real content here", "deep"))
    // reference keeps link extraction over the FULL body
    assert(doc.links.map(_.href).toSet ==
      Set("http://x.com/nav-link", "http://x.com/deep", "http://x.com/ad-link"))
  }
}
