package graft.core

/** Deterministic synthetic site generator (FIXTURES.md §2; shape from the
  * reference's deep-crawl fixture tests/general/generate_dummy_site.py:9-13 —
  * categories × subcategories × products, breadcrumb parent links, max depth 5).
  *
  * Every page is a pure function of (cfg, globalIndex): `pageAt` can run
  * driver-side for unit tests or inside `spark.range(n).map` for benchmark
  * scale — no driver materialization, no RNG (all choices derive from
  * [[Xxh64]] hash chains).
  *
  * Each page carries its EXPECTED span sequence and link set, computed from
  * the generator's own element list (not by running the scraper) — the
  * span-sequence-equality oracle.
  */
object Synth {

  final case class SiteCfg(
      seed: Long = 42L,
      nHosts: Int = 2,
      cats: Int = 3,
      subs: Int = 2,
      prods: Int = 5)

  final case class GenPage(
      url: String, // deep-canonical form: frontier key = xxhash64(url)
      host: String,
      depth: Int,
      html: String,
      expectedSpans: Seq[Span],
      expectedLinks: Seq[LinkOut],
      title: String)

  def pagesPerHost(cfg: SiteCfg): Int =
    1 + cfg.cats + cfg.cats * cfg.subs + 3 * cfg.cats * cfg.subs * cfg.prods

  def pageCount(cfg: SiteCfg): Long = cfg.nHosts.toLong * pagesPerHost(cfg)

  def hostName(h: Int): String = s"site$h.com"
  def hostRoot(h: Int): String = s"http://${hostName(h)}"

  private val loremWords = Array(
    "lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing",
    "elit", "sed", "do", "eiusmod", "tempor", "incididunt", "labore",
    "dolore", "magna", "aliqua", "enim", "minim", "veniam")

  private def lorem(seed: Long, ord: Long, words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb += ' '
      sb ++= loremWords(Xxh64.intBelow(seed, ord * 131 + i, loremWords.length))
      i += 1
    }
    val s = sb.toString
    s.substring(0, 1).toUpperCase + s.substring(1) + "."
  }

  /** Decompose a per-host page index into its role. */
  sealed trait Role
  final case class Home() extends Role
  final case class Cat(c: Int) extends Role
  final case class Sub(c: Int, s: Int) extends Role
  final case class Prod(c: Int, s: Int, p: Int) extends Role
  final case class Detail(c: Int, s: Int, p: Int) extends Role
  final case class Specs(c: Int, s: Int, p: Int) extends Role

  def roleOf(cfg: SiteCfg, local: Int): Role = {
    var i = local
    if (i == 0) return Home()
    i -= 1
    if (i < cfg.cats) return Cat(i)
    i -= cfg.cats
    if (i < cfg.cats * cfg.subs) return Sub(i / cfg.subs, i % cfg.subs)
    i -= cfg.cats * cfg.subs
    val perKind = cfg.cats * cfg.subs * cfg.prods
    val kind = i / perKind
    val j = i % perKind
    val c = j / (cfg.subs * cfg.prods)
    val r = j % (cfg.subs * cfg.prods)
    val s = r / cfg.prods
    val p = r % cfg.prods
    kind match {
      case 0 => Prod(c, s, p)
      case 1 => Detail(c, s, p)
      case _ => Specs(c, s, p)
    }
  }

  // `cfg` names no part of the URL; callers (perfbench among them) pass it
  // as they pass it to every other per-page function here
  def urlOf(@scala.annotation.unused cfg: SiteCfg, h: Int, role: Role): String = {
    val root = hostRoot(h)
    role match {
      case Home() => root
      case Cat(c) => s"$root/cat$c"
      case Sub(c, s) => s"$root/cat$c/sub$s"
      case Prod(c, s, p) => s"$root/cat$c/sub$s/prod$p.html"
      case Detail(c, s, p) => s"$root/cat$c/sub$s/prod$p/detail.html"
      case Specs(c, s, p) => s"$root/cat$c/sub$s/prod$p/specs.html"
    }
  }

  def depthOf(role: Role): Int = role match {
    case Home() => 0
    case Cat(_) => 1
    case Sub(_, _) => 2
    case Prod(_, _, _) => 3
    case Detail(_, _, _) => 4
    case Specs(_, _, _) => 5
  }

  def titleOf(role: Role): String = role match {
    case Home() => "Acme Home"
    case Cat(c) => s"Category $c"
    case Sub(c, s) => s"Category $c Sub $s"
    case Prod(c, s, p) => s"Product $p of Sub $s Cat $c"
    case Detail(c, s, p) => s"Detail Product $p Sub $s Cat $c"
    case Specs(c, s, p) => s"Specs Product $p Sub $s Cat $c"
  }

  /** Page assembly: accumulates (html, expected spans, expected links) in
    * lockstep. Expected values are derived from generator intent, never from
    * the scraper.
    */
  private final class Builder(pageUrl: String, baseDom: String) {
    val html = new StringBuilder
    val spans = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)] // kind,text,ref
    private val linkSet = scala.collection.mutable.LinkedHashMap.empty[String, LinkOut]

    def expectLink(href: String, text: String): Unit = {
      val canon = Urls.canonicalizeDeep(href, pageUrl)
      if (canon != null && !linkSet.contains(canon))
        linkSet(canon) = LinkOut(canon, text, !Urls.isExternal(canon, baseDom), linkSet.size)
    }
    def textSpan(t: String): Unit = spans += (("text", t, ""))
    def mediaSpan(alt: String, src: String): Unit = {
      val ref = if (src.startsWith("data:")) "" else PyUrl.urljoin(pageUrl, src)
      spans += (("media", alt, ref))
    }
    def links: Seq[LinkOut] = linkSet.values.toSeq
    def spansOut: Seq[Span] =
      spans.zipWithIndex.map { case ((k, t, r), i) => Span(k, t, r, i) }.toSeq
  }

  def pageAt(cfg: SiteCfg, globalIdx: Long): GenPage = {
    val pph = pagesPerHost(cfg)
    val h = (globalIdx / pph).toInt
    val local = (globalIdx % pph).toInt
    val role = roleOf(cfg, local)
    val url = urlOf(cfg, h, role)
    val title = titleOf(role)
    val seed = cfg.seed ^ Xxh64.hashString(url)
    val b = new Builder(url, Urls.baseDomain(url))
    val hb = b.html

    hb ++= s"<!DOCTYPE html>\n<html>\n<head>\n  <title>$title</title>\n"
    hb ++= "  <meta charset='utf-8'>\n  <style>body { color: #333; }</style>\n</head>\n<body>\n"

    // breadcrumbs (depth >= 1): nav of ancestor links + current title text
    val crumbs: Seq[(String, String)] = role match {
      case Home() => Nil
      case Cat(_) => Seq(("/", "Home"))
      case Sub(c, _) => Seq(("/", "Home"), (s"/cat$c", s"Category $c"))
      case other =>
        val (c, s) = other match {
          case Prod(c0, s0, _) => (c0, s0)
          case Detail(c0, s0, _) => (c0, s0)
          case Specs(c0, s0, _) => (c0, s0)
          case _ => (0, 0)
        }
        Seq(("/", "Home"), (s"/cat$c", s"Category $c"), (s"/cat$c/sub$s", s"Category $c Sub $s"))
    }
    if (crumbs.nonEmpty) {
      val frag = crumbs.map { case (href, name) => s"""<a href="$href">$name</a>""" }.mkString(" » ")
      hb ++= s"<nav class='breadcrumbs'>$frag » $title</nav>\n"
      b.textSpan(crumbs.map(_._2).mkString(" » ") + " » " + title)
      crumbs.foreach { case (href, name) => b.expectLink(href, name) }
    }

    hb ++= s"<h1>$title &amp; more</h1>\n"
    b.textSpan(title + " & more")

    // hidden + script noise (no spans)
    hb ++= s"""<div style="display: none">SECRET ${lorem(seed, 1, 4)}</div>\n"""
    hb ++= "<script>var tracker = 'do-not-extract';</script>\n"

    // intro paragraphs
    val nParas = 1 + Xxh64.intBelow(seed, 2, 3)
    for (i <- 0 until nParas) {
      val t = lorem(seed, 10 + i, 6 + Xxh64.intBelow(seed, 20 + i, 12))
      hb ++= s"<p>$t</p>\n"
      b.textSpan(t)
    }

    // child navigation + role-specific content
    def childList(children: Seq[(String, String)], decorate: Boolean): Unit = {
      hb ++= "<ul>\n"
      children.zipWithIndex.foreach { case ((href, text), i) =>
        // exercise canonicalization: tracking params / fragments / duplicate forms
        val variant = if (!decorate) href else (i % 4) match {
          case 0 => href
          case 1 => s"$href?utm_source=nav&ref=menu"
          case 2 => s"$href#top"
          case _ => Urls.canonicalizeDeep(href, url) // absolute duplicate form
        }
        hb ++= s"""  <li><a href="$variant">$text</a></li>\n"""
        b.textSpan(text)
        b.expectLink(variant, text)
      }
      hb ++= "</ul>\n"
    }

    role match {
      case Home() =>
        childList((0 until cfg.cats).map(c => (s"/cat$c", s"Browse Category $c")), decorate = true)
        // nonsense + external links (frontier must filter / classify these)
        hb ++= s"""<p>See our <a href="/robots.txt">robots policy</a> and <a href="/favicon.ico">icon</a>.</p>\n"""
        b.textSpan("See our robots policy and icon.")
        b.expectLink("/robots.txt", "robots policy")
        b.expectLink("/favicon.ico", "icon")
        if (cfg.nHosts > 1) {
          val partner = hostRoot((h + 1) % cfg.nHosts)
          hb ++= s"""<p>Partner: <a href="$partner/cat0">partner site</a></p>\n"""
          b.textSpan("Partner: partner site")
          b.expectLink(s"$partner/cat0", "partner site")
        }
      case Cat(c) =>
        childList((0 until cfg.subs).map(s => (s"/cat$c/sub$s", s"Sub $s of $c")), decorate = true)
        // ordered list with inline emphasis (markdown: "  1. Pick _one_")
        hb ++= "<h2>Top picks</h2>\n"
        b.textSpan("Top picks")
        hb ++= "<ol>\n  <li>Pick <em>one</em> now</li>\n  <li>Pick <strong>two</strong> later</li>\n</ol>\n"
        b.textSpan("Pick one now")
        b.textSpan("Pick two later")
      case Sub(c, s) =>
        // root-relative: the page URL is the slash-stripped canonical form, so
        // a bare relative href would resolve against /cat$c/ (file semantics)
        childList((0 until cfg.prods).map(p => (s"/cat$c/sub$s/prod$p.html", s"Product $p")), decorate = false)
        // data table (caption + header + rows each flush as one text span)
        hb ++= s"<table>\n<caption>Products in sub $s</caption>\n"
        b.textSpan(s"Products in sub $s")
        hb ++= "<tr><th>Name</th><th>Price</th></tr>\n"
        b.textSpan("Name | Price")
        for (p <- 0 until cfg.prods) {
          val price = 10 + Xxh64.intBelow(seed, 40 + p, 90)
          hb ++= s"<tr><td>Product $p</td><td>$$$price</td></tr>\n"
          b.textSpan(s"Product $p | $$$price")
        }
        hb ++= "</table>\n"
      case Prod(c, s, p) =>
        childList(Seq((s"prod$p/detail.html", s"Details for product $p")), decorate = false)
        // images: hero (kept), srcset (kept), icon (dropped: score 1), data URI (kept, ref blanked), hidden (dropped)
        hb ++= s"""<img src="/img/c${c}s${s}p$p-hero.jpg" alt="Product $p hero" width="300">\n"""
        b.mediaSpan(s"Product $p hero", s"/img/c${c}s${s}p$p-hero.jpg")
        hb ++= s"""<p>${lorem(seed, 50, 8)}</p>\n"""
        b.textSpan(lorem(seed, 50, 8))
        hb ++= s"""<img src="/img/c${c}s${s}p$p-alt.png" srcset="/img/p$p-480.png 480w, /img/p$p-960.png 960w" width="200" alt="">\n"""
        b.mediaSpan("", s"/img/c${c}s${s}p$p-alt.png")
        hb ++= """<img src="/icons/cart.png" width="16" height="16">""" ++= "\n"
        hb ++= s"""<img src="data:image/png;base64,iVBORw0KGgo=" alt="inline badge" width="200">\n"""
        b.mediaSpan("inline badge", "data:image/png;base64,iVBORw0KGgo=")
        hb ++= s"""<img src="/img/hidden.jpg" width="300" style="display:none">\n"""
      case Detail(c, s, p) =>
        childList(Seq((s"specs.html", s"Specifications $p")), decorate = false)
        val t = lorem(seed, 60, 10)
        hb ++= s"<p>$t</p>\n"
        b.textSpan(t)
        // inline emphasis + code (markdown: "**excellent**", "_critics_", backticks)
        hb ++= s"<p>Rated <strong>excellent</strong> by <em>critics</em>; see <code>SKU-c${c}s${s}p$p</code>.</p>\n"
        b.textSpan(s"Rated excellent by critics; see SKU-c${c}s${s}p$p.")
        val review = lorem(seed, 80, 6)
        hb ++= s"<blockquote>Reviewer says: $review</blockquote>\n"
        b.textSpan(s"Reviewer says: $review")
        hb ++= s"""<video controls width="640">\n  <source src="/media/c${c}s${s}p$p.mp4" type="video/mp4">\n</video>\n"""
        b.mediaSpan("", s"/media/c${c}s${s}p$p.mp4")
      case Specs(c, s, p) =>
        val t = lorem(seed, 70, 12)
        hb ++= s"<p>$t</p>\n"
        b.textSpan(t)
        // nested list + fenced code block + rule (markdown: "  * Alpha",
        // "    * Alpha sub", "```...```", "* * *")
        hb ++= "<h2>Features</h2>\n"
        b.textSpan("Features")
        hb ++= "<ul>\n  <li>Alpha<ul><li>Alpha sub</li></ul></li>\n  <li>Beta</li>\n</ul>\n"
        b.textSpan("Alpha")
        b.textSpan("Alpha sub")
        b.textSpan("Beta")
        hb ++= s"<pre><code>spec c$c s$s p$p\n  tolerance 0.01</code></pre>\n"
        b.textSpan(s"spec c$c s$s p$p tolerance 0.01")
        hb ++= "<hr>\n"
        hb ++= s"""<audio src="/media/c${c}s${s}p$p.ogg"></audio>\n"""
        b.mediaSpan("", s"/media/c${c}s${s}p$p.ogg")
    }

    hb ++= "</body>\n</html>\n"
    GenPage(url, hostName(h), depthOf(role), hb.toString,
      b.spansOut, b.links, title)
  }

  def pageRecAt(cfg: SiteCfg, globalIdx: Long): PageRec = {
    val p = pageAt(cfg, globalIdx)
    PageRec(p.url, Urls.urlHash(p.url), p.host, p.html, 200, 0)
  }

  /** Seed list: every host's home page, with a duplicate variant form and a
    * nonsense URL mixed in (dedup-first-wins + nonsense-filter fixtures).
    */
  def seeds(cfg: SiteCfg): Seq[SeedRec] =
    (0 until cfg.nHosts).flatMap { h =>
      val root = hostRoot(h)
      Seq(
        SeedRec(s"$root/", "sitemap"),
        SeedRec(s"$root/?utm_campaign=launch", "cc"), // dup of home after canon
        SeedRec(s"$root/robots.txt", "cc")) // nonsense
    }

  /** Robots fixtures: host0 allow-all (implicit), host1 disallows /cat1,
    * last host disallows everything (when nHosts > 2).
    */
  def robots(cfg: SiteCfg): Seq[RobotsRec] = {
    val rules = scala.collection.mutable.ArrayBuffer.empty[RobotsRec]
    if (cfg.nHosts > 1)
      rules += RobotsRec(hostName(1), "User-agent: *\nDisallow: /cat1", 0L, "")
    if (cfg.nHosts > 2)
      rules += RobotsRec(hostName(cfg.nHosts - 1), "User-agent: *\nDisallow: /", 0L, "")
    rules.toSeq
  }
}
