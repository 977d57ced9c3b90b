package graft

import org.apache.spark.sql.SparkSession

/** Full-surface scale sweep (VERDICT r4 #9): run every dir-parameterized
  * driver query (`SparkEntry.queries` — the same surface the correctness
  * gate oracles) at sf0.1 and at SfSweep's deterministic 10× replica
  * (≈sf1), and report per-query wall ratios. SfSweep covers 14 uncapped
  * operator pipelines; this covers the rest of the surface — notably the
  * curation, dedup, ANN, and sampling families — at 10× scale.
  *
  * The `crawl_*` queries are EXCLUDED by name: they crawl a fixed synthetic
  * site and ignore the dir argument entirely, so a "ratio" for them would
  * read ~1.0 by construction and bias the sweep median toward 1 while
  * claiming scale coverage the run does not have. The crawl loop's scale
  * evidence is perfbench's `crawl_wide` workload (`perfbench/run.py
  * --workload crawl_wide`; the historical CrawlBench table is in BENCH.md).
  *
  * The replica (SfSweep.buildReplica) spans all ten tables with per-replica
  * key offsets that keep joins replica-local, so a 10× run measures data
  * scale, not artificial join fan-out. Queries with internal caps (top-k,
  * LIMIT, `c_custkey < 300`-style driver-query filters) are EXPECTED to
  * ratio below 10×: their output is fixed and only the scan side grows —
  * the interesting signal is the ops whose ratio rises ABOVE the data
  * factor.
  *
  * Timing: one warm pass at sf0.1 (JIT + parquet footer cache), then
  * [[SfSweep.min2]] (two timed passes, min) per scale — the min-of-2
  * discards one-off hypervisor stalls; the RATIO is the robust statistic
  * (see BENCH.md's credit-state notes; run exclusively).
  *
  * `runMain graft.QuerySweep [replicaDir] [onlyCsv]` — one JSON line per
  * query plus a final summary line.
  */
object QuerySweep {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = args.headOption.getOrElse("/tmp/graft_sf10x")
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val s = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SfSweep.buildReplica(s, src, dst)
    val skipped = SparkEntry.queries.keys.filter(_.startsWith("crawl_")).toSeq.sorted
    println(s"""{"skipped_dir_independent":${skipped.map(Verify.jsonStr).mkString("[", ",", "]")},"why":"fixed synthetic-site crawl, ignores the sf dir; scale evidence = perfbench crawl_wide"}""")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => name.startsWith("crawl_") }
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          def run(dir: String): Long = fn(s, dir).count()
          run(src) // warm
          val (s1, _) = SfSweep.min2(run(src))
          val (w1, n10) = SfSweep.min2(run(dst))
          println(f"""{"q":"$name","sec_sf01":$s1%.2f,"sec_10x":$w1%.2f,"ratio":${w1 / s1}%.2f,"rows_10x":$n10}""")
          Some((name, s1, w1, w1 / s1))
        } catch {
          case e: Throwable =>
            // a query that cannot run at 10x is a finding, not a skip —
            // surface it in the output stream the sweep table is built from
            println(s"""{"q":"$name","err":${Verify.jsonStr(
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")}}""")
            None
        }
      }
    if (rows.nonEmpty) {
      val ratios = rows.map(_._4).sorted
      val med = ratios(ratios.size / 2)
      println(f"""{"sweep":"full query surface, sf0.1 vs 10x replica","queries":${rows.size},"median_ratio":$med%.2f,"total_sf01_sec":${rows.map(_._2).sum}%.1f,"total_10x_sec":${rows.map(_._3).sum}%.1f}""")
    }
    s.stop()
  }
}
