package graft

import graft.core.Synth
import java.nio.file.{Files, Paths}

/** Fixture dumper for golden generation (driver-side tooling, not part of the
  * query surface). `runMain graft.FixtureGen pages <out.json>` writes every
  * synthetic page of the test-site configs as {url: html} JSON; tools/
  * gen_markdown_goldens.py feeds them through the reference converter to
  * produce src/test/resources/markdown_goldens.json.
  */
object FixtureGen {

  /** The two site configs used by the test/driver surfaces. */
  val siteCfgs: Seq[Synth.SiteCfg] = Seq(
    Synth.SiteCfg(seed = 42L, nHosts = 3, cats = 2, subs = 2, prods = 2), // CrawlSpec
    Synth.SiteCfg(seed = 42L, nHosts = 3, cats = 2, subs = 2, prods = 3)) // SparkEntry

  def main(args: Array[String]): Unit = args.toList match {
    case "pages" :: out :: Nil =>
      // list format: the same URL carries DIFFERENT html across site configs
      // (more product links at prods=3), so records are keyed url#prods=N
      val recs = Seq.newBuilder[String]
      var n = 0
      siteCfgs.foreach { cfg =>
        (0L until Synth.pageCount(cfg)).foreach { i =>
          val p = Synth.pageAt(cfg, i)
          recs += s"""{"name":${Verify.jsonStr(s"${p.url}#prods=${cfg.prods}")},""" +
            s""""url":${Verify.jsonStr(p.url)},"html":${Verify.jsonStr(p.html)}}"""
          n += 1
        }
      }
      Files.writeString(Paths.get(out), recs.result().mkString("[", ",", "]"))
      println(s"wrote $n pages to $out")
    case other =>
      sys.error(s"usage: FixtureGen pages <out.json> (got: $other)")
  }
}
