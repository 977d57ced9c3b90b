package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run: set up, warm up, measure for `--seconds`, check, and
  * print the result as the last line of standard output.
  *
  *   perfbench.Main --workload crawl_deep --seed 1 --seconds 5 --trace 0
  *                  --work <scratch dir> --trace-dir <dir for span files>
  */
object Main {

  /** A timed window of whole passes. The rates are medians over its passes,
    * so from three passes on, one pass slowed by the host does not move
    * them. Stored bytes and the resident-set high-water mark are taken at
    * the end of the first pass, a fixed amount of work, because how many
    * passes fit into the window depends on the speed of the host.
    */
  final case class Window(items: Long, wallS: Double, epochMs: Seq[Double],
                          commitsMs: Seq[Long], outputs: Seq[String], passMs: Seq[Double],
                          passItems: Seq[Long], passCpuMs: Seq[Double],
                          firstOutputs: Seq[String], firstRssMb: Double,
                          epochs: Int, load: Host.Load, startMs: Long, endMs: Long) {
    def itemsPerS: Double = Stats.median(passItems.zip(passMs).map { case (n, ms) => n * 1000.0 / ms })
    def cpuMsPerItem: Double = Stats.median(passCpuMs.zip(passItems).map { case (c, n) => c / n })
  }

  private val setupReps = 3

  def makeWorkload(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "crawl_deep" =>
        new CrawlWorkload(name, spark, work, seed, hosts = 8, hostBudget = 8, maxEpochs = 2, warmPasses = 2)
      case "crawl_wide" =>
        new CrawlWorkload(name, spark, work, seed, hosts = 60, hostBudget = 150, maxEpochs = 64, warmPasses = 1)
      case "extract" =>
        new ExtractWorkload(spark, work, seed, hosts = 200, batches = 2, warmPasses = 4)
      case "frontier_dedup" =>
        new DedupWorkload(spark, work, seed, base = 1000000L, cands = 200000L, fresh = 100000L,
          epochsPerPass = 5)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val n = Host.cpus

    val s0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - s0) / 1e9

    val w = makeWorkload(workload, spark, work, seed)
    val setupS = (0 until setupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(s"$work/input-$r")
      (System.nanoTime() - t0) / 1e9
    }
    val spans = new Spans(false, s"$workload-seed$seed")
    var nextPass = 0
    val warmMs = (0 until w.warmPasses).map { _ =>
      val t0 = System.nanoTime(); w.pass(nextPass, spans); nextPass += 1
      (System.nanoTime() - t0) / 1e6
    }

    def window(): Window = {
      w.startWindow()
      val sampler = new Host.LoadSampler()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val passes = ArrayBuffer.empty[PassOut]
      val passMs, passCpuMs = ArrayBuffer.empty[Double]
      var firstRssMb = 0.0
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        val (p0, c0) = (System.nanoTime(), Host.processCpuMs)
        passes += w.pass(nextPass, spans)
        passMs += (System.nanoTime() - p0) / 1e6
        passCpuMs += Host.processCpuMs - c0
        if (passes.size == 1) firstRssMb = Host.peakRssMb
        nextPass += 1
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      Window(passes.map(_.items).sum, wallS, passes.flatMap(_.epochMs).toSeq,
        passes.flatMap(_.commitsMs).toSeq, passes.flatMap(_.outputs).toSeq, passMs.toSeq,
        passes.map(_.items).toSeq, passCpuMs.toSeq, passes.head.outputs, firstRssMb,
        passes.map(_.epochMs.size).sum, sampler.stop(), startMs, System.currentTimeMillis())
    }

    val plain = window()
    val tracedRun = if (!traced) None else {
      val listener = new BenchListener
      spark.sparkContext.addSparkListener(listener)
      spans.enabled = true
      val win = spans(s"workload $workload", "workload")(window())
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val kernels = Kernels.run(w, spans, seed)
      val seenLayer = w.seenLayer()
      spans.enabled = false
      // the overhead compares against an untraced window run right after the
      // traced one; the first window is colder than both (warm-up drift)
      val after = window()
      val overhead = 1.0 - win.itemsPerS / after.itemsPerS
      Some((win, listener, kernels :+ (("trace.overhead_frac", overhead, "fraction")), seenLayer))
    }

    val chk = w.check()
    val storedBytes = plain.firstOutputs.map(Workloads.usage(_)._2).sum.toDouble
    val load = tracedRun.map(_._1.load).getOrElse(plain.load)
    val busyHost = load.otherMean > 0.5 || load.stealMean > 0.5
    val jvm = System.getProperty("java.version")
    val correct = chk.failed == 0 && chk.selfTestCaught

    println(s"host cpus=$n affinity=${Host.affinity} cgroup_quota=${Host.cgroupQuota.map(_.toString).getOrElse("none")} " +
      f"other_busy_cores_mean=${load.otherMean}%.2f other_busy_cores_max=${load.otherMax}%.2f " +
      f"steal_cores_mean=${load.stealMean}%.2f steal_cores_max=${load.stealMax}%.2f busy_host=$busyHost " +
      s"jvm=$jvm spark=${spark.version} workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
    if (busyHost)
      System.err.println(f"perfbench: busy host during the timed window: other processes ${load.otherMean}%.2f cores, " +
        f"hypervisor steal ${load.stealMean}%.2f cores")
    println(f"setup session_s=$sessionS%.3f materialize_s=${setupS.map(x => f"$x%.3f").mkString("[", ",", "]")}")
    println(s"warmup pass_ms=${warmMs.map(x => f"$x%.0f").mkString("[", ",", "]")} " +
      s"timed pass_ms=${plain.passMs.map(x => f"$x%.0f").mkString("[", ",", "]")} " +
      s"pass_cpu_ms=${plain.passCpuMs.map(x => f"$x%.0f").mkString("[", ",", "]")} " +
      s"timed epoch_ms=${plain.epochMs.map(x => f"$x%.0f").mkString("[", ",", "]")}")
    println(s"check attempted=${chk.attempted} failed=${chk.failed} self_test_caught=${chk.selfTestCaught} " +
      f"error_frac=${chk.failed.toDouble / math.max(chk.attempted, 1L)}%.6f")

    val metrics: Seq[(String, Double, String)] = tracedRun match {
      case None => Seq(
        ("items_per_s", plain.itemsPerS, "1/s"),
        ("epoch_ms_p50", Stats.median(plain.epochMs), "ms"),
        ("cpu_ms_per_item", plain.cpuMsPerItem, "ms"),
        ("stored_bytes_per_item", storedBytes / plain.passItems.head, "B"),
        ("peak_rss_mb", plain.firstRssMb, "MiB"),
        ("setup_s", sessionS + Stats.median(setupS), "s"))
      case Some((win, l, kernels, seenLayer)) =>
        layerMetrics(win, l, kernels, seenLayer, n, spans, opts("trace-dir"), workload, seed)
    }
    metrics.foreach { case (k, v, u) => println(s"metric $k = ${Json.num(v)} $u") }
    val body = metrics.map { case (k, v, u) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${math.max(chk.attempted, 1L)}, "failed": ${chk.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  private def layerMetrics(win: Window, l: BenchListener, kernels: Seq[(String, Double, String)],
                           seen: SeenLayer, n: Int, spans: Spans, traceDir: String,
                           workload: String, seed: Long): Seq[(String, Double, String)] = {
    val wallMs = win.wallS * 1000
    val epochs = math.max(win.epochs, 1).toDouble
    val items = win.items.toDouble
    val written = win.outputs.map(Workloads.usage)
    val frontier = l.execs.values.filter(_.file == "Crawl.scala").toSeq
    def execMs(action: String) = frontier.filter(_.action == action).map(x => (x.end - x.start).toDouble).sum
    def execN(action: String) = frontier.count(_.action == action).toDouble
    // jobs per epoch interval, from the commit times
    val perEpochJobs = win.commitsMs.sliding(2).collect { case Seq(a, b) if b > a =>
      l.jobs.values.count(j => j.start > a && j.start <= b).toDouble
    }.toSeq
    val all = spans.all ++ l.spans(spans.all, spans.trace, () => spans.nextId())
    Files.createDirectories(Paths.get(traceDir))
    Files.write(Paths.get(s"$traceDir/$workload-seed$seed.spans.jsonl"),
      all.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"trace spans=${all.size} file=$traceDir/$workload-seed$seed.spans.jsonl")
    SelfTime.byLayer(all).foreach { case (layer, ms) => println(s"self_ms layer=$layer ms=$ms") }
    println(f"jobs_per_epoch_interval min=${perEpochJobs.minOption.getOrElse(0.0)}%.0f " +
      f"p50=${Stats.median(perEpochJobs)}%.1f max=${perEpochJobs.maxOption.getOrElse(0.0)}%.0f " +
      s"intervals=${perEpochJobs.size}")
    println("exec_labels " + l.execs.values.groupBy(_.label).view.mapValues(_.size).toSeq.sortBy(-_._2)
      .map { case (k, v) => s"$k:$v" }.mkString(", "))
    Seq(
      ("spark.jobs_per_epoch", l.jobs.size / epochs, "count"),
      ("spark.sql_execs_per_epoch", l.execs.size / epochs, "count"),
      ("spark.tasks_per_epoch", l.tasks / epochs, "count"),
      ("spark.busy_frac", l.runMs / (wallMs * n), "fraction"),
      ("spark.idle_frac", 1.0 - l.coveredMs(win.startMs, win.endMs) / wallMs, "fraction"),
      ("spark.plan_ms", l.planMs / epochs, "ms"),
      ("spark.task_cpu_s", l.cpuNs / 1e9, "s"),
      ("spark.gc_s", l.gcMs / 1e3, "s"),
      ("spark.shuffle_write_bytes_per_item", l.shuffleWrite / items, "B"),
      ("spark.shuffle_read_bytes_per_item", l.shuffleRead / items, "B"),
      ("spark.input_rows_per_item", l.inputRows / items, "rows"),
      ("spark.output_bytes_per_item", l.outputBytes / items, "B"),
      ("spark.spill_bytes", l.spill.toDouble, "B"),
      ("spark.failed_tasks", l.failedTasks.toDouble, "count"),
      ("frontier.write_exec_ms", execMs("parquet") / epochs, "ms"),
      ("frontier.count_exec_ms", execMs("count") / epochs, "ms"),
      ("frontier.collect_exec_ms", execMs("collect") / epochs, "ms"),
      ("frontier.write_execs_per_epoch", execN("parquet") / epochs, "count"),
      ("frontier.count_execs_per_epoch", execN("count") / epochs, "count"),
      ("frontier.collect_execs_per_epoch", execN("collect") / epochs, "count"),
      ("frontier.snapshot_files_per_epoch", written.map(_._1).sum / epochs, "count"),
      ("frontier.snapshot_bytes_per_epoch", written.map(_._2).sum / epochs, "B"),
      ("frontier.seen.antijoin_ms_p50", Stats.median(seen.antijoinMs), "ms"),
      ("frontier.seen.build_ms_p50", Stats.median(seen.buildMs), "ms"),
      ("frontier.seen.compact_ms", seen.compactMs, "ms"),
      ("frontier.seen.fastpath_frac", seen.fastpathFrac, "fraction"),
      ("frontier.seen.filter_fp_frac", seen.filterFpFrac, "fraction"),
    ) ++ kernels
  }
}
