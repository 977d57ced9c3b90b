package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.scrape.Html2Md

/** Behavioral pin for the markdown generator: every golden in
  * markdown_goldens.json was captured from the REFERENCE converter (the
  * vendored html2text driven with DefaultMarkdownGenerator's exact options —
  * tools/gen_markdown_goldens.py) and must be reproduced byte-for-byte,
  * including every synthetic site page.
  */
class MarkdownSpec extends AnyFunSuite {
  import MarkdownSpec.Golden

  lazy val goldens: Seq[Golden] = {
    val is = getClass.getResourceAsStream("/markdown_goldens.json")
    require(is != null, "markdown_goldens.json missing from test resources")
    val raw = scala.io.Source.fromInputStream(is, "UTF-8").mkString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(raw)
    (0 until root.size()).map { i =>
      val n = root.get(i)
      Golden(n.get("name").asText(), n.get("html").asText(),
        n.get("base").asText(), n.get("md").asText())
    }
  }

  test("goldens loaded (snippets + synthetic pages)") {
    assert(goldens.size >= 35)
  }

  test("html2text fidelity: every golden reproduced byte-for-byte") {
    val failures = goldens.flatMap { g =>
      val got = Html2Md.convert(g.html, g.base)
      if (got == g.md) None
      else Some(s"=== ${g.name} ===\n--- expected ---\n${g.md}\n--- got ---\n$got\n")
    }
    assert(failures.isEmpty,
      s"${failures.size}/${goldens.size} golden mismatches:\n${failures.take(5).mkString}")
  }
}

object MarkdownSpec {
  final case class Golden(name: String, html: String, base: String, md: String)
}
