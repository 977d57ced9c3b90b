package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.scrape.{ContentFilter, CssExtract, Dom}
import graft.scrape.CssExtract._

class ExtractSpec extends AnyFunSuite {

  val html =
    """<html><body>
      |<div id="main">
      |  <div class="product featured" id="p1">
      |    <h2 class="name">Widget <b>Pro</b></h2>
      |    <span class="price">$19.99</span>
      |    <a href="/p/1" class="buy">Buy now</a>
      |    <ul class="tags"><li>red</li><li>large</li></ul>
      |  </div>
      |  <div class="product" id="p2">
      |    <h2 class="name">Gadget</h2>
      |    <span class="price">$5.00</span>
      |    <a href="/p/2" class="buy">Buy</a>
      |    <ul class="tags"><li>blue</li></ul>
      |  </div>
      |  <div class="ad">Buy stuff!</div>
      |</div>
      |</body></html>""".stripMargin

  test("dom: parse, text, selectors") {
    val root = Dom.parse(html)
    assert(CssExtract.select(root, ".product").length == 2)
    assert(CssExtract.select(root, "div.product.featured").length == 1)
    assert(CssExtract.select(root, "#p2 .price").head.allText == "$5.00")
    assert(CssExtract.select(root, "div > h2").length == 2)
    assert(CssExtract.select(root, "ul > li").length == 3)
    assert(CssExtract.select(root, ".name, .price").length == 4)
    // child combinator is strict: li is not a direct child of .product
    assert(CssExtract.select(root, ".product > li").isEmpty)
    assert(CssExtract.select(root, ".product li").length == 3)
  }

  test("schema extraction: text/attr/regex/list fields") {
    val schema = Schema(".product", Seq(
      Field("name", ".name", TextF),
      Field("price", ".price", TextF),
      Field("price_value", ".price", RegexF("\\$([0-9.]+)")),
      Field("link", "a.buy", AttrF("href")),
      Field("tags", ".tags li", ListF(Seq(Field("tag", "", TextF))))))
    val items = CssExtract.extract(html, schema)
    assert(items.length == 2)
    assert(items(0)("name") == SV("Widget Pro"))
    assert(items(0)("price_value") == SV("19.99"))
    assert(items(0)("link") == SV("/p/1"))
    assert(items(0)("tags") == LV(Seq(MV(Map("tag" -> SV("red"))), MV(Map("tag" -> SV("large"))))))
    assert(items(1)("name") == SV("Gadget"))
    assert(items(1)("link") == SV("/p/2"))
    val json = CssExtract.toJson(items)
    assert(json.startsWith("[{"))
    assert(json.contains("\"name\":\"Widget Pro\""))
  }

  test("xpath selection: axes + predicates (lxml semantics)") {
    import graft.scrape.XPathExtract
    val root = Dom.parse(html)
    assert(XPathExtract.select(root, "//div[@class='product featured']").length == 1)
    assert(XPathExtract.select(root, "//div[contains(@class,'product')]").length == 2)
    assert(XPathExtract.select(root, "//ul/li").length == 3)
    assert(XPathExtract.select(root, "//a[@href]").length == 2)
    assert(XPathExtract.select(root, "//div[@id='p2']//span").head.allText == "$5.00")
    // positional predicate: 2nd li CHILD of its parent (per-parent position)
    val li2 = XPathExtract.select(root, "//li[2]")
    assert(li2.length == 1 && li2.head.allText == "large")
    assert(XPathExtract.select(root, "//h2[text()='Gadget']").length == 1)
    assert(XPathExtract.select(root, "/html/body//div[@class='ad']").length == 1)
    assert(XPathExtract.select(root, "//*[@id='p1']").length == 1)
  }

  test("xpath schema extraction: the reference's crypto-rows doc example") {
    import graft.scrape.XPathExtract
    // docs/md_v2/extraction/no-llm-strategies.md:107-150 (dummy crypto HTML)
    val page =
      """<html><body>
        |<div class='crypto-row'>
        |  <h2 class='coin-name'>Bitcoin</h2>
        |  <span class='coin-price'>$28,000</span>
        |</div>
        |<div class='crypto-row'>
        |  <h2 class='coin-name'>Ethereum</h2>
        |  <span class='coin-price'>$1,800</span>
        |</div>
        |</body></html>""".stripMargin
    val schema = Schema("//div[@class='crypto-row']", Seq(
      Field("coin_name", ".//h2[@class='coin-name']", TextF),
      Field("price", ".//span[@class='coin-price']", TextF)))
    val items = XPathExtract.extract(page, schema)
    assert(items == Seq(
      Map("coin_name" -> SV("Bitcoin"), "price" -> SV("$28,000")),
      Map("coin_name" -> SV("Ethereum"), "price" -> SV("$1,800"))))
  }

  test("xpath schema extraction: nested/list/attr/regex fields + css fallback") {
    import graft.scrape.XPathExtract
    val schema = Schema("//div[contains(@class,'product')]", Seq(
      Field("name", ".//h2", TextF),
      Field("price_value", ".//span", RegexF("\\$([0-9.]+)")),
      Field("link", ".//a", AttrF("href")),
      Field("first_tag", ".//ul/li[1]", TextF),
      Field("tags", ".//ul/li", ListF(Seq(Field("tag", "", TextF)))),
      Field("seller", ".//ul", NestedF(Seq(Field("n", "li", TextF))))))
    val items = XPathExtract.extract(html, schema)
    assert(items.length == 2)
    assert(items(0)("name") == SV("Widget Pro"))
    assert(items(0)("price_value") == SV("19.99"))
    assert(items(0)("link") == SV("/p/1"))
    assert(items(0)("first_tag") == SV("red"))
    assert(items(0)("tags") == LV(Seq(MV(Map("tag" -> SV("red"))), MV(Map("tag" -> SV("large"))))))
    // css-ish field selector "li" goes through _basic_css_to_xpath → .//li
    assert(items(0)("seller") == MV(Map("n" -> SV("red"))))
    assert(items(1)("tags") == LV(Seq(MV(Map("tag" -> SV("blue"))))))
    // same field model, same JSON rendering as the CSS strategy
    assert(XPathExtract.toJson(items).contains("\"name\":\"Widget Pro\""))
  }

  test("cosine strategy: single-linkage cut equals threshold-graph components") {
    import graft.scrape.CosineExtract
    // independent oracle: single linkage at cut t == connected components of
    // the graph with edges {d(i,j) <= t} (classic equivalence) — union-find
    val texts = (0 until 12).map(i => s"topic${i / 3} word${i / 3} shared${i % 3} t$i")
    val embs = texts.map(graft.ops.Embed.stub(_, 64))
    val dist = CosineExtract.cosineDistances(embs)
    val t = 0.8
    val parent = Array.tabulate(texts.length)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (i <- texts.indices; j <- i + 1 until texts.length if dist(i)(j) <= t)
      parent(find(i)) = find(j)
    val expected = texts.indices.groupBy(find).values.map(_.toSet).toSet
    val labels = CosineExtract.agglomerate(dist, "single", t)
    val got = texts.indices.groupBy(labels(_)).values.map(_.toSet).toSet
    assert(got == expected)
  }

  test("cosine strategy: ward cut properties (singletons, one-cluster, separation)") {
    import graft.scrape.CosineExtract
    val groupA = Seq.fill(3)("alpha beta gamma delta epsilon")
    val groupB = Seq.fill(3)("zeta eta theta iota kappa")
    val dist = CosineExtract.cosineDistances((groupA ++ groupB).map(graft.ops.Embed.stub(_, 64)))
    // identical texts → distance ~0 (float epsilon); disjoint vocab → ~1
    assert(CosineExtract.agglomerate(dist, "ward", 1e-6).distinct.length == 2) // ~0-merges only
    assert(CosineExtract.agglomerate(dist, "ward", 10.0).distinct.length == 1)
    val labels = CosineExtract.agglomerate(dist, "ward", 0.5)
    assert(labels.take(3).distinct.length == 1 && labels.drop(3).distinct.length == 1)
    assert(labels.head != labels.last)
    // labels numbered by first appearance
    assert(labels.head == 1 && labels.last == 2)
  }

  test("cosine strategy: semantic pre-filter with at-least-k backfill") {
    import graft.scrape.CosineExtract
    val cfg = CosineExtract.Config(simThreshold = 0.3)
    val relevant = (0 until 2).map(i => s"spark shuffle partition executor $i")
    val noise = (0 until 8).map(i => s"cooking pasta tomato basil recipe n$i")
    val out = CosineExtract.filterBySimilarity(relevant ++ noise,
      "spark shuffle executor", cfg)
    // n=10 < 20 → at_least_k = 5: both relevant chunks survive the threshold,
    // 3 more backfilled by similarity
    assert(out.length == 5)
    assert(relevant.forall(out.contains))
    assert(out.take(2) == relevant) // threshold-passers first, input order
  }

  test("cosine strategy: end-to-end clusters, word-count filter, tags") {
    import graft.scrape.CosineExtract
    val sections = Seq(
      "spark executes distributed queries with partitioned shuffle stages",
      "spark queries shuffle data across partitioned executors in stages",
      "pasta recipes simmer tomatoes garlic basil into rich fragrant sauces",
      "tomato basil pasta sauces simmer with garlic in fragrant kitchens",
      "tiny")
    val out = CosineExtract.extract(sections,
      CosineExtract.Config(wordCountThreshold = 5, maxDist = 0.9))
    assert(out.length == 2)
    assert(out(0).content.startsWith("spark") && out(0).content.contains("stages"))
    assert(out(1).content.contains("pasta"))
    assert(out(0).index < out(1).index)
    // tags = top cluster tokens (count desc, then alpha — "spark" ties at 2
    // with several others and may lose the alphabetical tie-break)
    val sparkTokens = graft.ops.Embed.tokens(out(0).content).toSet
    assert(out(0).tags.nonEmpty && out(0).tags.forall(sparkTokens))
    assert(out(1).tags.nonEmpty)
    // "tiny" cluster dropped by the word-count filter
    assert(!out.exists(_.content.contains("tiny")))
  }

  test("pruning filter: boilerplate dropped, content kept") {
    val page =
      """<html><body>
        |<nav class="nav"><a href="/">Home</a><a href="/x">X</a></nav>
        |<article>
        |  <h1>A Long Informative Title About Things</h1>
        |  <p>This is a long paragraph with plenty of meaningful text content that
        |  goes on and on about the topic at hand giving lots of information to the
        |  reader in complete sentences with real substance and many many words.</p>
        |</article>
        |<div class="sidebar-ads"><a href="/ad">ad</a></div>
        |</body></html>""".stripMargin
    val kept = ContentFilter.pruneHtml(page)
    val keptText = kept.mkString(" ")
    assert(keptText.contains("long paragraph"))
    assert(!keptText.contains("sidebar-ads") || !keptText.contains(">ad<"))
    // nav is excluded structurally before scoring
    assert(!kept.exists(_.contains("<nav")))
  }

  test("bm25 chunk filter: query-relevant chunks survive, others pruned") {
    val page =
      """<body>
        |<p>spark query engines process data with spark executors and spark tasks</p>
        |<p>cooking recipes for pasta involve tomatoes basil and olive oil dishes</p>
        |<h2>spark performance tuning</h2>
        |</body>""".stripMargin
    val chunks = ContentFilter.bm25Chunks(page, Seq("spark"), threshold = 0.1)
    val texts = chunks.map(_.text)
    assert(texts.exists(_.contains("spark query engines")))
    assert(texts.exists(_.contains("performance tuning")))
    assert(!texts.exists(_.contains("cooking recipes")))
    // heading priority boost: h2 score > p score per occurrence count
    val h2 = chunks.find(_.tag == "h2").get
    assert(h2.score > 0)
  }

  test("bm25 chunk pipeline (relational form)") {
    import SparkTestSession.spark
    val df = spark.createDataFrame(Seq(
      (1L, Seq("spark is fast", "cooking pasta", "more spark tuning")),
      (2L, Seq("nothing relevant here", "just cooking")))).toDF("doc_id", "chunks")
    val out = ContentFilter.bm25ChunkPipeline(df, "doc_id", "chunks", Seq("spark"), 1.0)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L)
    assert(r.getAs[scala.collection.Seq[String]]("fit_chunks").toSeq ==
      Seq("spark is fast", "more spark tuning"))
  }
}
