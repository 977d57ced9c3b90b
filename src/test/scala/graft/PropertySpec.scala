package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.core.{Urls, Xxh64}
import graft.frontier.{BloomDelta, BloomStore, SeenFilters}

/** ScalaCheck properties (SURVEY.md §5 rebuild test plan #4). */
class PropertySpec extends AnyFunSuite {

  /** Manual property driver (the scalatest-scalacheck bridge jar is not in
    * the offline cache): deterministic seeded sampling of a Gen.
    */
  private def forAll[A](gen: Gen[A], trials: Int = 200)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    var seed = seed0
    var done = 0
    var attempts = 0
    while (done < trials && attempts < trials * 5) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => body(a); done += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(done > trials / 2, s"generator produced too few samples: $done")
  }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  val pathSeg: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(8))
  val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https")
    host <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(10))
    tld <- Gen.oneOf("com", "org", "io")
    segs <- Gen.listOfN(3, pathSeg)
    nq <- Gen.choose(0, 3)
    qk <- Gen.listOfN(nq, pathSeg)
    qv <- Gen.listOfN(nq, pathSeg)
    frag <- Gen.option(pathSeg)
    slash <- Gen.oneOf("", "/")
  } yield {
    val q = qk.zip(qv).map { case (k, v) => s"$k=$v" }.mkString("&")
    s"$scheme://$host.$tld/" + segs.mkString("/") + slash +
      (if (q.nonEmpty) "?" + q else "") + frag.map("#" + _).getOrElse("")
  }

  test("canonicalize is idempotent") {
    forAll(urlGen) { u =>
      val once = Urls.canonicalize(u, "")
      assert(once == Urls.canonicalize(once, ""))
      val deep = Urls.canonicalizeDeep(u, "")
      assert(deep == Urls.canonicalizeDeep(deep, ""))
    }
  }

  test("canonical output never carries fragments or tracking params") {
    forAll(urlGen) { u =>
      val base = u.takeWhile(_ != '#')
      val sep = if (base.contains("?")) "&" else "?"
      val c = Urls.canonicalizeDeep(base + sep + "utm_source=x", "")
      assert(!c.contains("#"))
      assert(!c.contains("utm_source"))
    }
  }

  test("jvm Xxh64 matches Spark's xxhash64 column function") {
    import SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    forAll(Gen.listOfN(20, Gen.asciiPrintableStr.map(_.take(40)))) { strs =>
      whenever(strs.nonEmpty) {
        val rows = strs.toDF("s")
          .select(col("s"), xxhash64(col("s")).as("h"))
          .collect()
        rows.foreach { r =>
          assert(r.getLong(1) == Xxh64.hashString(r.getString(0)))
        }
      }
    }
  }

  test("bloom pre-filter: no false negatives; FP rate within bound") {
    import SparkTestSession.spark
    import spark.implicits._
    val seen = (0L until 2000L).toDF("url_hash")
    val store = new BloomStore(0.03)
    val bloom = store.build(spark, seen, "url_hash", 2000).bloom
    // no false negatives: every seen hash is maybe-seen
    (0L until 2000L).foreach(h => assert(bloom.mightContainLong(h)))
    // false-positive rate on 10k unseen hashes stays near fpp (≤ 3x slack)
    val fps = (100000L until 110000L).count(bloom.mightContainLong)
    assert(fps <= 10000 * 0.03 * 3, s"fp count $fps")
    // antiJoin equivalence with exact left_anti
    val candidates = (1500L until 2500L).toDF("url_hash")
    val viaBloom = SeenFilters.antiJoinTracked(spark, candidates, seen, "url_hash",
      Seq(new BloomDelta(bloom)))._1.as[Long].collect().toSet
    val exact = candidates.join(seen, Seq("url_hash"), "left_anti")
      .as[Long].collect().toSet
    assert(viaBloom == exact)
    // MULTI-bloom vector (the epoch-loop hot path: one delta bloom per
    // epoch) is equivalent too, regardless of how the set splits into deltas
    val delta1 = (0L until 700L).toDF("url_hash")
    val delta2 = (700L until 1600L).toDF("url_hash")
    val delta3 = (1600L until 2000L).toDF("url_hash")
    val blooms = Seq(
      store.build(spark, delta1, "url_hash", 700).bloom,
      store.build(spark, delta2, "url_hash", 900).bloom,
      store.build(spark, delta3, "url_hash", 400).bloom)
    val viaVector = SeenFilters.antiJoinTracked(spark, candidates, seen, "url_hash",
      blooms.map(new BloomDelta(_)))._1.as[Long].collect().toSet
    assert(viaVector == exact)
  }

  test("seen store save then load: every key still maybe-seen; the file is the filter's own serialization") {
    import SparkTestSession.spark
    import spark.implicits._
    def key(i: Long): Long = Xxh64.hashString(s"http://h${i % 53}.net/s/$i")
    val keys = (0L until 3000L).map(key)
    val dir = java.nio.file.Files.createTempDirectory("seen-store").toString
    val store = new BloomStore(0.03)
    val built = store.build(spark, keys.toDF("url_hash"), "url_hash", keys.size)
    val p = store.path(dir, 1)
    store.save(built, p)
    // the bytes old run dirs resume from
    val out = new java.io.ByteArrayOutputStream
    built.bloom.writeTo(out)
    assert(java.nio.file.Files.readAllBytes(p).sameElements(out.toByteArray))
    val loaded = store.load(p)
    keys.foreach(k => assert(loaded.mightContain(k), s"$k not maybe-seen after load"))
  }

  test("seen probe over a parquet seen set above the broadcast threshold: equals left_anti, seen never exchanged") {
    import SparkTestSession.spark
    import spark.implicits._
    import graft.frontier.SeenDelta
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    def key(i: Long): Long = Xxh64.hashString(s"http://h${i % 89}.org/q/$i")
    val tmp = java.nio.file.Files.createTempDirectory("seen-probe")
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevThreshold = spark.conf.getOption(thresholdKey)
    try {
      // the seen set as the crawl loop reads it: two delta dirs of ~120 KB of
      // parquet each, both over the lowered threshold; candidate batches of a
      // few thousand rows stay under it
      spark.conf.set(thresholdKey, "65536")
      val dirs = Seq(0L until 15000L, 15000L until 30000L).zipWithIndex.map { case (ids, d) =>
        val out = tmp.resolve(s"seen_$d").toString
        ids.map(key).toDF("url_hash").coalesce(1).write.parquet(out)
        out
      }
      val emptyDir = tmp.resolve("seen_empty").toString
      Seq.empty[Long].toDF("url_hash").write.parquet(emptyDir)
      val seen = spark.read.schema("url_hash BIGINT").parquet(dirs: _*)
      val emptySeen = spark.read.schema("url_hash BIGINT").parquet(emptyDir)
      assert(seen.queryExecution.optimizedPlan.stats.sizeInBytes > 65536)
      val seenKeys = (0L until 30000L).map(key).toSet
      // keys the filters also admit without being seen: false positives by
      // construction (the no-false-negative contract holds)
      val fpKeys = (40000L until 41000L).map(key)
      def filtersOf(ks: Seq[Long]): Seq[SeenDelta] = ks.grouped(16000).map(g =>
        new BloomStore(0.03).build(spark, g.toDF("url_hash"), "url_hash", g.size)
          : SeenDelta).toSeq
      def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      def candidatesOf(ks: Seq[Long]) = ks.map(k => (k, s"u$k")).toDF("url_hash", "url")
      // counts every evaluation of a candidate row, wherever it runs
      val evals = spark.sparkContext.longAccumulator("candidate row evaluations")
      val evaluated = org.apache.spark.sql.functions.udf { (h: Long) => evals.add(1); h }
        .asNondeterministic()
      // a local batch is evaluated where the optimizer folds it (on the
      // driver); behind a repartition it is evaluated in executor tasks
      def countedCandidatesOf(ks: Seq[Long], inTasks: Boolean) =
        (if (inTasks) candidatesOf(ks).repartition(3) else candidatesOf(ks))
          .withColumn("url_hash", evaluated(org.apache.spark.sql.functions.col("url_hash")))

      object Plans extends AdaptiveSparkPlanHelper {
        def scansSeen(p: SparkPlan): Boolean = p match {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(r => dirs.exists(d => r.toString.endsWith(d)))
          case _ => false
        }
        /** Shuffle exchanges whose subtree reads a seen file not first reduced
          * by a broadcast semi-join (seen rows themselves exchanged). */
        def seenExchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
          case e: ShuffleExchangeLike if unreducedSeen(e.child) => e: SparkPlan
        }
        private def unreducedSeen(p: SparkPlan): Boolean = p match {
          case j: BroadcastHashJoinExec if j.joinType == LeftSemi => false
          case _ => scansSeen(p) || allChildren(p).exists(unreducedSeen)
        }
        def probesSeenMapSide(plan: SparkPlan): Boolean = find(plan) {
          case j: BroadcastHashJoinExec => j.joinType == LeftSemi && find(j.left)(scansSeen).isDefined
          case _ => false
        }.isDefined
      }

      val newKeys = (30000L until 33000L).map(key)
      val rediscovered = (20000L until 23000L).map(key)
      val filters = filtersOf(seenKeys.toSeq.sorted ++ fpKeys)
      val cleared = newKeys.filterNot(k => filters.exists(_.mightContain(k)))
      assert(cleared.nonEmpty)
      // rediscovered + new + false positives, with duplicate hashes
      val mixed = rediscovered ++ newKeys.take(1000) ++ fpKeys.take(500) ++
        rediscovered.take(300) ++ newKeys.take(200) ++ fpKeys.take(50)
      val cases = Seq(
        ("mixed", seen, mixed, filters),
        ("mixed, evaluated in tasks", seen, mixed, filters),
        ("all new", seen, newKeys ++ fpKeys.take(300), filters),
        ("empty maybe-seen side", seen, cleared, filters),
        ("empty seen set", emptySeen, newKeys.take(500) ++ fpKeys.take(200), filtersOf(fpKeys)))
      for ((label, seenDf, ks, fs) <- cases) {
        evals.reset()
        val counted = label.startsWith("mixed")
        val candidates =
          if (counted) countedCandidatesOf(ks, inTasks = label != "mixed") else candidatesOf(ks)
        val (probed, bc) = SeenFilters.antiJoinTracked(spark, candidates, seenDf, "url_hash", fs)
        // the maybe-seen broadcast and the anti-join's probe side share one
        // evaluation of the candidate plan
        if (counted) {
          probed.collect()
          assert(evals.sum == ks.size, s"$label: ${evals.sum} evaluations of ${ks.size} candidate rows")
        }
        val exact = candidates.join(seenDf, Seq("url_hash"), "left_anti")
        assert(probed.columns.toSeq == exact.columns.toSeq, label)
        assert(rows(probed) == rows(exact), label)
        // the final adaptive plan (`rows` ran it); with no hits at all,
        // AQE prunes the probe, so the plan is checked where hits exist
        if (label == "mixed") {
          val plan = probed.queryExecution.executedPlan
          assert(Plans.seenExchanges(plan).isEmpty, s"$label: seen rows exchanged\n$plan")
          assert(Plans.probesSeenMapSide(plan), s"$label: no map-side probe\n$plan")
        }
        bc.destroy()
      }
    } finally {
      prevThreshold match {
        case Some(v) => spark.conf.set(thresholdKey, v)
        case None => spark.conf.unset(thresholdKey)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("Dom re-serialization round-trips: scrape(outerHtml(parse(h))) == scrape(h)") {
    import graft.scrape.{Dom, Scrape}
    // generated pages mix entity-bearing text ('&lt;b&gt;', '&amp;'),
    // attribute values with quotes/'>'/'&', nesting, and void elements —
    // the selector-path reparse must be a semantic no-op on all of them
    val word: Gen[String] = Gen.oneOf(
      "alpha", "a&amp;b", "&lt;b&gt;bold&lt;/b&gt;", "x&gt;y", "q&quot;q",
      "plain", "fish", "&#65;num")
    val attrVal: Gen[String] = Gen.oneOf(
      "v1", "say &quot;hi&quot;", "a&amp;b", "x&gt;y", "path/z")
    val elem: Gen[String] = for {
      tag <- Gen.oneOf("p", "div", "span", "li", "h2")
      words <- Gen.listOfN(4, word)
      av <- attrVal
      withAttr <- Gen.oneOf(true, false)
    } yield {
      val attr = if (withAttr) s""" title="$av" class="c1"""" else ""
      s"<$tag$attr>${words.mkString(" ")}</$tag>"
    }
    val pageGen: Gen[String] = for {
      es <- Gen.listOfN(5, elem)
      img <- Gen.oneOf(true, false)
    } yield {
      val media = if (img) """<img src="/i.jpg" width="300" alt="pic">""" else ""
      s"<html><body>${es.mkString("\n")}$media</body></html>"
    }
    forAll(pageGen, trials = 120) { html =>
      val direct = Scrape.scrape("http://x.com/a", html)
      val rt = Scrape.scrape("http://x.com/a", Dom.parse(html).outerHtml)
      assert(rt.spans == direct.spans, s"spans diverge after reparse on:\n$html")
      assert(rt.links == direct.links)
    }
  }

  test("path-encoded discovery order sorts parents before children (DFS preorder)") {
    forAll(Gen.listOfN(6, Gen.choose(0, 0xffff))) { idxs =>
      whenever(idxs.nonEmpty) {
        // a parent path is a strict prefix of its child's path → sorts first
        val parent = idxs.take(3).map(i => f"$i%04x").mkString
        val child = parent + f"${idxs.last}%04x"
        assert(parent < child)
        // and any sibling with a larger index sorts after the whole subtree
        val sibling = idxs.take(2).map(i => f"$i%04x").mkString +
          f"${(idxs(2) + 1) & 0xffff}%04x"
        whenever(idxs(2) + 1 <= 0xffff) {
          assert(child < sibling == (parent < sibling))
        }
      }
    }
  }

  test("window chunkers match a direct transcription of the reference loops") {
    import SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.TextAnalysis
    // reference SlidingWindowChunking.chunk (chunking_strategy.py:175-213)
    def refSliding(text: String, w: Int, t: Int): Seq[String] = {
      val words = text.split("\\s+").filter(_.nonEmpty)
      if (words.length <= w) Seq(text)
      else {
        val out = scala.collection.mutable.Buffer.empty[String]
        var i = 0; var last = 0
        while (i < words.length - w + 1) {
          out += words.slice(i, i + w).mkString(" "); last = i; i += t
        }
        if (last + w < words.length) out += words.takeRight(w).mkString(" ")
        out.toSeq
      }
    }
    // reference OverlappingWindowChunking.chunk (:216-256)
    def refOverlap(text: String, w: Int, o: Int): Seq[String] = {
      val words = text.split("\\s+").filter(_.nonEmpty)
      if (words.length <= w) Seq(text)
      else {
        val out = scala.collection.mutable.Buffer.empty[String]
        var start = 0; var done = false
        while (!done) {
          val end = start + w
          out += words.slice(start, math.min(end, words.length)).mkString(" ")
          if (end >= words.length) done = true else start = end - o
        }
        out.toSeq
      }
    }
    val gen = for {
      n <- Gen.choose(0, 40)
      words <- Gen.listOfN(n, Gen.alphaLowerStr.map(s => "w" + s.take(3)))
      w <- Gen.choose(1, 12)
      t <- Gen.choose(1, 15)
      o <- Gen.choose(0, w - 1)
    } yield (words.mkString(" "), w, t, o)
    forAll(gen, trials = 30) { case (text, w, t, o) =>
      val df = Seq(text).toDF("text")
      val sw = df.select(TextAnalysis.slidingWindowChunks(col("text"), w, t).as("c"))
        .as[Seq[String]].head()
      assert(sw == refSliding(text, w, t), s"sliding w=$w t=$t text='$text'")
      val ow = df.select(TextAnalysis.overlappingWindowChunks(col("text"), w, o).as("c"))
        .as[Seq[String]].head()
      assert(ow == refOverlap(text, w, o), s"overlap w=$w o=$o text='$text'")
    }
  }
}
