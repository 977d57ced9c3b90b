package perfbench

import graft.core.{Synth, Urls, Xxh64}
import graft.frontier.{BloomDelta, SeenDelta}
import graft.politeness.Robots
import graft.scrape.{Markdown, Scrape}

/** Single-thread timings of the per-record kernels over a seeded sample of
  * the workload's own pages and URLs.
  */
object Kernels {

  /** Median over `reps` of the ns per input of `f`, each rep looping the
    * sample until `minMs` have passed.
    */
  def nsPerItem[A](xs: IndexedSeq[A], reps: Int = 5, minMs: Double = 60)(f: A => Long): Double = {
    var sink = 0L
    val per = (0 until reps).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      var elapsed = 0L
      while (elapsed < minMs * 1e6) {
        var i = 0
        while (i < xs.length) { sink ^= f(xs(i)); i += 1 }
        n += xs.length
        elapsed = System.nanoTime() - t0
      }
      elapsed.toDouble / n
    }
    if (sink == 0x5eed) System.err.print("")
    Stats.median(per)
  }

  private def mightContain(fs: Array[SeenDelta], h: Long): Boolean = {
    var i = 0
    var hit = false
    while (i < fs.length && !hit) { hit = fs(i).mightContain(h); i += 1 }
    hit
  }

  def run(w: Workload, spans: Spans, seed: Long): Seq[(String, Double, String)] = spans("kernels", "kernel") {
    val pages = w.samplePages(200).toIndexedSeq
    val urls = w.sampleUrls(2000).toIndexedSeq
    val canon = urls.map(Urls.canonicalizeDeep(_, ""))
    // the rules Synth gives host 1, as the crawl loop passes them per row
    val rules = Synth.robots(Synth.SiteCfg(nHosts = 2)).head.rules
    val groups = Robots.parse(rules)
    val (filters, keys) = w.probeFilters()
    val fs = filters.toArray
    val rnd = new scala.util.Random(seed)
    val probeKeys = canon.map(Urls.urlHash) ++ IndexedSeq.fill(canon.size)(rnd.nextLong())
    val filterBytes = filters.collect { case b: BloomDelta => b.bloom.bitSize() / 8.0 }.sum
    Seq(
      ("scrape.scrape_us_per_page",
        spans("Scrape.scrape", "kernel.scrape") {
          nsPerItem(pages)(p => Scrape.scrape(p.url, p.html).spans.size.toLong) } / 1e3, "us"),
      ("scrape.markdown_us_per_page",
        spans("Markdown.fromHtml", "kernel.scrape") {
          nsPerItem(pages)(p => Markdown.fromHtml(p.html, p.url).raw_markdown.length.toLong) } / 1e3, "us"),
      ("scrape.spans_per_page", Stats.mean(pages.map(p => Scrape.scrape(p.url, p.html).spans.size.toDouble)), "count"),
      ("scrape.html_bytes_per_page", Stats.mean(pages.map(_.html.getBytes("UTF-8").length.toDouble)), "B"),
      ("core.canonicalize_ns_per_url",
        spans("Urls.canonicalizeDeep", "kernel.core") {
          nsPerItem(urls)(u => Urls.canonicalizeDeep(u, "").length.toLong) }, "ns"),
      ("core.xxh64_ns_per_url",
        spans("Xxh64.hashString", "kernel.core") { nsPerItem(canon)(u => Xxh64.hashString(u)) }, "ns"),
      ("politeness.can_fetch_ns_per_url",
        spans("Robots.canFetch", "kernel.politeness") {
          nsPerItem(canon)(u => if (Robots.canFetch(rules, u)) 1L else 0L) }, "ns"),
      ("politeness.can_fetch_parsed_ns_per_url",
        spans("Robots.canFetchParsed", "kernel.politeness") {
          nsPerItem(canon)(u => if (Robots.canFetchParsed(groups, "*", u)) 1L else 0L) }, "ns"),
      ("frontier.seen.probe_ns",
        spans("SeenDelta.mightContain", "kernel.seen") {
          nsPerItem(probeKeys)(h => if (mightContain(fs, h)) 1L else 0L) }, "ns"),
      ("frontier.seen.filter_bytes_per_key", filterBytes / math.max(keys, 1L), "B"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
