package graft.frontier

import graft.core._
import graft.functions.Scorers
import graft.politeness.Robots
import graft.scrape.Scrape
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The crawl engine: an epoch-batch frontier loop, each epoch one Catalyst
  * plan (SURVEY.md §3.3 — the reference's BFS/DFS/BestFirst strategies,
  * /root/reference/crawl4ai/deep_crawling/{bfs,dfs,bff}_strategy.py,
  * re-expressed as joins + windows over a typed Dataset[FrontierEntry]).
  *
  * Per-epoch plan:
  *   frontier(QUEUED)
  *     → per-host admission window (politeness budget; fairness aging)
  *     → robots broadcast-join + canFetch predicate (fail-open)
  *     → salted repartition (hot-host skew defused BEFORE the scrape map)
  *     → fetch-join against the page store on url_hash
  *     → scrape map (HTML → spans + links)           [docs written]
  *     → explode(links) → validity/nonsense filters → score
  *     → bloom pre-filter + left_anti(seen)          [dedup]
  *     → first-wins per url_hash → frontier(t+1)     [snapshot committed]
  *
  * Snapshot protocol (Iceberg-style semantics on plain parquet — SURVEY.md
  * §7.3): every epoch writes frontier/seen/docs/visits/metrics dirs, then an
  * atomically-renamed `manifest_<epoch>.json` carrying per-partition lineage
  * (rows and words per scraped partition) + fetch metrics. A killed job
  * resumes from `max(committed epoch)` with an identical URL-seen set:
  * nothing below a manifest is ever visible to a reader (commit-then-advance,
  * §7.4.6).
  *
  * Ordering spec (deterministic; reference stream-mode completion order is
  * nondeterministic so equality is defined on batch semantics, SURVEY.md
  * §7.4.2): visit order within an epoch is the admission sort
  *   bfs        → (depth, path)            — level order, discovery tiebreak
  *   dfs        → (path)                   — string order on the hex path IS
  *                                           DFS preorder (see FrontierEntry)
  *   best_first → (-score, depth, path)    — bff_strategy.py:141-143 tuple
  */
final case class CrawlConfig(
    strategy: String = "bfs",
    maxDepth: Int = 5,
    maxPages: Long = Long.MaxValue,
    hostBudget: Int = 100,
    globalBatch: Long = Long.MaxValue,
    scoreThreshold: Double = Double.NegativeInfinity,
    keywords: Seq[String] = Nil,
    includeExternal: Boolean = false,
    saltBuckets: Int = 8,
    fairnessEpochs: Int = 3,
    maxEpochs: Int = 64,
    userAgent: String = "*",
    bloomFpp: Double = 0.03,
    scrapeMinWords: Int = 1,
    /** When set, per-host budgets evolve with fetch outcomes: throttling
      * hosts (429/503) get exponentially shrinking budgets and abort after
      * repeated failures (DomainState semantics); the static `hostBudget`
      * becomes the cap. */
    dynamicPoliteness: Boolean = false,
    epochSeconds: Double = 60.0,
    /** Every this-many epochs the per-epoch seen DELTAS (and their filters)
      * are compacted into one full set — bounds the number of delta dirs a
      * reader unions and the per-epoch filter vector length. */
    seenCompactEvery: Int = 16,
    /** Pre-filter family for the seen set: "bloom" (append-only, smallest) or
      * "cuckoo" (deletable — TTL expiry evicts the expired delta's hashes from
      * the persisted filters instead of leaving them to age out, see
      * [[Crawl.expireEpoch]]). Either way the exact anti-join gates
      * correctness; this only chooses the pre-filter. */
    seenFilter: String = "bloom",
    /** Shards per cuckoo delta filter (each built inside one executor task;
      * auto-scaled up for large deltas). */
    cuckooShards: Int = 32,
    /** Optional custom frontier-candidate scorer over (url, anchorText) —
      * e.g. [[graft.ops.AdaptiveEmbedding.linkScorerFor]]'s gap-reduction
      * kernel. Overrides keyword scoring; runs inside the expansion plan as
      * one compiled UDF over the exploded links (driver-held state such as a
      * knowledge base must ride inside the closure, which Spark broadcasts
      * with the task). */
    linkScorer: Option[(String, String) => Double] = None,
    /** When set, every epoch's extracted links are enriched with head data +
      * contextual/total scores (the reference stamps head_data/total_score on
      * links.internal when link_preview is configured —
      * link_preview.py:276-394): enriched rows land in the epoch snapshot
      * under `links/`, and the TTL head store persists across epochs like the
      * politeness state (read at epoch k, updated store written at k+1).
      * `nowMs` is overridden per epoch with the crawl's logical clock
      * (epoch · epochSeconds); head fetches for cache misses are served from
      * the crawl's own page store (head of the linked page's HTML) — the
      * in-sandbox stand-in for the reference's network head fetch. */
    linkPreview: Option[graft.sources.LinkPreview.Config] = None)

final case class CrawlSummary(
    epochs: Int, fetched: Long, failed: Long, skippedRobots: Long, seen: Long)

object Crawl {

  /** Executor for the epoch loop's concurrent snapshot jobs (daemon threads;
    * Spark job submission is thread-safe and local/cluster schedulers both
    * interleave concurrent jobs). */
  private lazy val epochEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
        val t = new Thread(r, "graft-epoch-io"); t.setDaemon(true); t
      }))

  // ---- snapshot layout ------------------------------------------------------

  private def dir(runDir: String, epoch: Int, what: String) =
    f"$runDir/$what/epoch=$epoch%04d"

  private def manifestPath(runDir: String, epoch: Int) =
    Paths.get(f"$runDir/manifest_$epoch%04d.json")

  /** The admission/visit sort key per traversal strategy (the ONLY ordering
    * spec in the engine; `Crawl.visits` re-derives ranks from it at read
    * time, so no global-order window ever runs inside the epoch loop).
    */
  private def strategyOrder(strategy: String): Seq[Column] = strategy match {
    case "dfs"        => Seq(col("priority"), col("path"))
    case "best_first" => Seq(col("priority"), col("score").desc, col("depth"), col("path"))
    case _            => Seq(col("priority"), col("depth"), col("path"))
  }

  /** Highest epoch with a committed manifest, -1 if none. */
  def lastCommittedEpoch(runDir: String): Int = {
    val d = Paths.get(runDir)
    if (!Files.isDirectory(d)) return -1
    val it = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.map(_.getFileName.toString)
        .collect { case s if s.startsWith("manifest_") && s.endsWith(".json") =>
          s.stripPrefix("manifest_").stripSuffix(".json").toInt }
        .foldLeft(-1)(math.max)
    } finally it.close()
  }

  /** Atomic manifest commit: write temp, fsync-free rename (same dir). */
  private def commitManifest(runDir: String, epoch: Int, json: String): Unit = {
    val tmp = Paths.get(s"$runDir/.manifest_tmp_$epoch.json")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(runDir, epoch), StandardCopyOption.ATOMIC_MOVE)
  }

  private def jsonEsc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  // ---- seed bootstrap -------------------------------------------------------

  /** Seeds → epoch-0 frontier: canonicalize (deep), drop invalid + nonsense,
    * first-wins dedup per url_hash (source order: sitemap < cc, then url —
    * the seeder's sequential-union-with-shared-set, async_url_seeder.py:
    * 328-359). Seed path = 4-hex rank in the deduped, url-sorted list.
    */
  def seedFrontier(spark: SparkSession, seeds: DataFrame): Dataset[FrontierEntry] = {
    import spark.implicits._
    val canon = udf((u: String) => Urls.canonicalizeDeep(u, ""))
    val valid = udf((u: String) => u != null && Urls.isValidCrawlUrl(u) && !Urls.isNonsense(u))
    val srcRank = when(col("source") === "sitemap", 0).otherwise(1)
    val base = seeds
      .withColumn("curl", canon(col("url")))
      .where(valid(col("curl")))
      .withColumn("url_hash", xxhash64(col("curl")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("url_hash").orderBy(srcRank, col("url"))))
      .where(col("rk") === 1)
    // seed ordering: dense url-sorted rank via the two-pass scheme (range
    // partition on the sort key, then per-partition index + partition-offset
    // prefix sum = `zipWithIndex` over a sorted RDD) — a global dense rank
    // with NO single-partition window, deterministic because the sort key is
    // unique after the first-wins dedup.
    base.select(col("url_hash"), col("curl")).orderBy("curl")
      .as[(Long, String)].rdd.zipWithIndex()
      .map { case ((h, u), i) =>
        FrontierEntry(h, u, Urls.host(u), 0, 0.5, 0.0, "", f"$i%04x",
          0, 0, 0, CrawlStatus.Queued)
      }
      .toDS()
  }

  // ---- the epoch loop -------------------------------------------------------

  /** Run (or resume) a crawl. `pages` is the synthetic page store standing in
    * for network fetch (url_hash, html, status_code); `robots` the rules
    * dimension table. Returns the final summary; all state lives under
    * `runDir` snapshots.
    */
  def run(spark: SparkSession, seeds: DataFrame, pages: DataFrame,
          robots: DataFrame, runDir: String, cfg: CrawlConfig = CrawlConfig())
      : CrawlSummary = {
    import spark.implicits._
    Files.createDirectories(Paths.get(runDir))
    val store = SeenStore.forConfig(cfg.seenFilter, cfg.bloomFpp, cfg.cuckooShards)

    val start = lastCommittedEpoch(runDir)
    if (start < 0) {
      // one seedFrontier pass, cached: the frontier write observes the seed
      // count, and seen/epoch=0 and its filter read the same cache
      val f0 = seedFrontier(spark, seeds).cache()
      val seedObs = Observation()
      f0.observe(seedObs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(dir(runDir, 0, "frontier"))
      val seedCount = seedObs.get("n").asInstanceOf[Long]
      // seen is a DELTA log: seen/epoch=k holds only the hashes first seen at
      // epoch k (epoch 0 = the seeds — delta AND full set at once). Readers
      // union deltas from the last compaction point; nothing ever rewrites
      // history (O(delta) commit I/O per epoch, not O(seen)). No distinct:
      // url_hash is unique after seedFrontier's first-wins dedup.
      val s0 = f0.select("url_hash")
      s0.write.mode(SaveMode.Overwrite).parquet(dir(runDir, 0, "seen"))
      store.save(store.build(spark, s0, "url_hash", seedCount), store.path(runDir, 0))
      f0.unpersist()
      commitManifest(runDir, 0,
        s"""{"epoch":0,"kind":"bootstrap","strategy":"${jsonEsc(cfg.strategy)}",""" +
        s""""seen_base":0,"seen_total":$seedCount,"frontier_queued":$seedCount,""" +
        s""""frontier":"${jsonEsc(dir(runDir, 0, "frontier"))}"}""")
    }

    var epoch = math.max(lastCommittedEpoch(runDir), 0)
    var totalFetched = sumManifests(runDir, "fetched")
    var totals = (0L, 0L, 0L) // failed, skippedRobots, placeholder
    var done = false
    // incremental counters (avoid a count job per epoch; read from the last
    // manifest, counted only for a bootstrap manifest without frontier_queued)
    var queuedCount = manifestField(runDir, epoch, "frontier_queued").getOrElse(-1L)
    var seenCount = manifestField(runDir, epoch, "seen_total").getOrElse(-1L)
    // compaction base: first epoch of the current delta run (deltas base..k
    // union to the full seen set; their blooms form the pre-filter vector)
    var seenBase = manifestField(runDir, epoch, "seen_base").map(_.toInt).getOrElse(0)
    // explicit schemas for the per-epoch readbacks: skips footer-based schema
    // inference in the planning phase of every epoch
    val frontierSchema = org.apache.spark.sql.Encoders.product[FrontierEntry].schema
    val seenSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url_hash", org.apache.spark.sql.types.LongType)))
    def readSeen(upTo: Int): DataFrame = {
      val dirs = (seenBase to upTo).map(e => dir(runDir, e, "seen"))
        .filter(d => Files.isDirectory(Paths.get(d)))
      spark.read.schema(seenSchema).parquet(dirs: _*)
    }
    // per-epoch delta filters, loaded from persisted files (rebuilt from the
    // delta dir — delta-sized, cheap — if a file is missing or the run is
    // resumed under the other filter family)
    var filters: Vector[SeenDelta] = (seenBase to epoch).toVector.map { e =>
      val p = store.path(runDir, e)
      if (Files.exists(p)) store.load(p)
      else scala.util.Try {
        val delta = spark.read.parquet(dir(runDir, e, "seen"))
        store.build(spark, delta, "url_hash", delta.count())
      }.getOrElse(store.empty())
    }
    // cuckoo HEAL (soundness): TTL expiry evicts hashes from the persisted
    // filters while the exact seen ledger stays monotone — a filter false
    // negative would let a REDISCOVERED requeued URL ride the definitely-new
    // fast path past the exact anti-join and enter the frontier twice. The
    // evicted set is exactly the re-queued set, so one extra filter over the
    // current queued frontier restores the no-false-negative contract for
    // the whole run (fetched requeues are covered from the next epoch on by
    // the admitted-inclusive delta filters below).
    if (store.name == "cuckoo") {
      val headDir = dir(runDir, epoch, "frontier")
      if (Files.isDirectory(Paths.get(headDir))) {
        val queued0 = spark.read.schema(frontierSchema).parquet(headDir)
          .where(col("status") === CrawlStatus.Queued).select("url_hash")
        val nQueued = if (queuedCount >= 0) queuedCount else queued0.count()
        if (nQueued > 0)
          filters = filters :+ store.build(spark, queued0, "url_hash", nQueued)
      }
    }
    while (!done && epoch < cfg.maxEpochs) {
      val t0 = System.currentTimeMillis()
      val frontier = spark.read.schema(frontierSchema).parquet(dir(runDir, epoch, "frontier"))
      val seen = readSeen(epoch)
      val domainStatePath = dir(runDir, epoch, "domain_state")
      val domainState: Option[DataFrame] =
        if (cfg.dynamicPoliteness && Files.isDirectory(Paths.get(domainStatePath)))
          Some(spark.read.parquet(domainStatePath))
        else None
      val queued = frontier.where(col("status") === CrawlStatus.Queued)
      if (queuedCount < 0) queuedCount = queued.count()
      if (seenCount < 0) seenCount = seen.count()

      if (queuedCount == 0 || totalFetched >= cfg.maxPages) { done = true }
      else {
        // ---- admission: politeness budget + fairness aging + strategy order
        val aged = queued.withColumn("wait", lit(epoch) - col("enqueue_epoch"))
          .withColumn("priority",
            when(col("wait") > cfg.fairnessEpochs, -col("wait").cast("double"))
              .otherwise(col("retry_count").cast("double")))
        val ord = strategyOrder(cfg.strategy)
        val ranked = aged.withColumn("host_rank",
          row_number().over(Window.partitionBy("host").orderBy(ord: _*)))
        // effective budget: static cap, tightened per host by evolved
        // politeness state (throttled hosts shrink, aborted hosts go to 0)
        // cached: the window runs once, and both the admitted and the
        // deferred rows are filters over it
        val budgeted = (domainState match {
          case Some(st) =>
            val perHost = graft.politeness.DomainState
              .hostBudget(st, cfg.epochSeconds)
              .withColumnRenamed("budget", "state_budget")
            ranked.join(broadcast(perHost), Seq("host"), "left")
              .withColumn("eff_budget",
                least(lit(cfg.hostBudget), coalesce(col("state_budget"), lit(cfg.hostBudget))))
              .drop("state_budget")
          case None => ranked.withColumn("eff_budget", lit(cfg.hostBudget))
        }).cache()
        val rankCols = Seq("host_rank", "wait", "eff_budget")
        val inBudget = budgeted.where(col("host_rank") <= col("eff_budget")).drop(rankCols: _*)
        // global capacity cut ONLY when a cap is configured AND binding this
        // epoch: with the default (uncapped) config every epoch must stay a
        // partitioned plan — no global TakeOrdered over the admitted set. A
        // remaining capacity ≥ Int.MaxValue cannot bind (no epoch admits that
        // many rows through per-host budgets), so it is skipped, never
        // silently clamped.
        val capConfigured = cfg.maxPages != Long.MaxValue || cfg.globalBatch != Long.MaxValue
        val capacity = math.min(cfg.globalBatch, cfg.maxPages - totalFetched)
        val capped = capConfigured && capacity < Int.MaxValue
        val admitted =
          if (capped) inBudget.orderBy(ord: _*).limit(capacity.toInt).cache() else inBudget

        // deferred = everything queued but not admitted. Uncapped, that is the
        // over-budget side of the window; a binding cap also cuts in-budget
        // rows, which only the anti-join against the admitted set recovers
        // (neither kind may be lost)
        val deferred =
          if (capped) budgeted.drop(rankCols: _*)
            .join(admitted.select("url_hash"), Seq("url_hash"), "left_anti")
          else budgeted.where(col("host_rank") > col("eff_budget")).drop(rankCols: _*)

        // ---- robots gate: tiny dimension → broadcast join, fail-open
        val canFetchU = udf((rules: String, u: String) =>
          Robots.canFetch(rules, u, cfg.userAgent))
        val gated = admitted.join(
            broadcast(robots.select(col("host"), col("rules"))), Seq("host"), "left")
          .withColumn("robots_ok", coalesce(canFetchU(col("rules"), col("url")), lit(true)))
        val allowed = gated.where(col("robots_ok")).drop("rules", "robots_ok")

        // ---- fetch: salted repartition defuses hot-host skew BEFORE the
        // (CPU-heavy) scrape map; the join key stays url_hash so the page
        // store join itself is a plain shuffled hash join.
        val salted = allowed.repartition(
          spark.sessionState.conf.numShufflePartitions,
          col("host"), pmod(col("url_hash"), lit(cfg.saltBuckets)))
        val fetched = salted.join(
          pages.select(col("url_hash"), col("html"), col("status_code")),
          Seq("url_hash"), "left")

        val scrapeCfg = Scrape.Config(minWords = cfg.scrapeMinWords)
        val scraped = fetched
          .select("url_hash", "url", "host", "depth", "score", "path", "html", "status_code")
          .as[(Long, String, String, Int, Double, String, String, Option[Int])]
          .map { case (h, u, host, d, sc, p, html, status) =>
            val code = status.getOrElse(404)
            val ok = html != null && code == 200
            val doc = if (ok) Scrape.scrape(u, html, scrapeCfg)
                      else ScrapedDoc(u, u, Nil, Nil, "", 0)
            (h, u, host, d, sc, p, ok, code, doc.spans, doc.links, doc.title, doc.nWords)
          }
          .toDF("url_hash", "url", "host", "depth", "score", "path",
            "fetch_ok", "status_code", "spans", "links", "title", "n_words")
          .cache()

        // ---- phase A: ALL consumers of the scraped cache — the lineage
        // pass, docs write, visits write, politeness evolution — launch as
        // CONCURRENT Spark jobs. The BlockManager's per-partition cache locks
        // make the concurrent jobs co-materialize the cache (different
        // partitions in parallel, each computed exactly once); they write
        // disjoint outputs, so overlapping hides the fixed per-job latency
        // that dominates small epochs and costs nothing on a real cluster
        // (concurrent jobs share the scheduler). No count job runs: the
        // fetched/failed counts are the lineage rows summed, and the
        // robots-blocked count is observed on the visits write.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext = Crawl.epochEc
        // lineage: (pid, fetch_ok, rows, words) per scraped-cache partition,
        // one partition-local pass (no shuffle)
        val fLineage = Future {
          scraped.select("fetch_ok", "n_words").as[(Boolean, Int)].mapPartitions { it =>
            val rows, words = new Array[Long](2) // index 1 = fetch_ok
            it.foreach { case (ok, w) => val i = if (ok) 1 else 0; rows(i) += 1; words(i) += w }
            val pid = org.apache.spark.TaskContext.getPartitionId()
            Iterator(1, 0).filter(rows(_) > 0).map(i => (pid, i == 1, rows(i), words(i)))
          }.collect()
        }

        val fDocs = Future {
          scraped.where(col("fetch_ok"))
            .select(col("url").as("doc_id"), col("spans"), col("links"),
              col("title"), col("n_words"), lit(epoch).as("epoch"))
            .write.mode(SaveMode.Overwrite).parquet(dir(runDir, epoch, "docs"))
        }
        // visits carry the full sort key (priority, score, depth, path) but
        // NO materialized rank: visit order is fully determined by the key,
        // so `Crawl.visits` derives ranks at read time — the epoch loop never
        // runs a partitionless global-order window.
        val blockedObs = Observation()
        val fVisits = Future {
          gated.observe(blockedObs, count(when(!col("robots_ok"), true)).as("n"))
            .where(col("robots_ok"))
            .select(col("url"), col("depth"), col("score"), col("priority"),
              col("path"), lit(epoch).as("epoch"))
            .write.mode(SaveMode.Overwrite).parquet(dir(runDir, epoch, "visits"))
          blockedObs.get("n").asInstanceOf[Long]
        }
        // politeness state evolution (deterministic backoff per epoch)
        val fState = if (!cfg.dynamicPoliteness) Future.successful(()) else Future {
          val st0 = domainState.getOrElse(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("host", org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("current_delay", org.apache.spark.sql.types.DoubleType),
                org.apache.spark.sql.types.StructField("fail_count", org.apache.spark.sql.types.IntegerType)))))
          graft.politeness.DomainState
            .evolve(st0.select("host", "current_delay", "fail_count"),
              scraped.select(col("host"), col("status_code")))
            .write.mode(SaveMode.Overwrite).parquet(dir(runDir, epoch + 1, "domain_state"))
        }

        // ---- link-head enrichment (config-gated; a phase-A consumer of the
        // scraped cache writing disjoint outputs). All joins inside
        // LinkPreview.enrich are url-keyed equi-joins; the head store
        // commit is O(delta) (only stale/missing rows rewrite).
        val fPreview = cfg.linkPreview match {
          case None => Future.successful(())
          case Some(lp0) => Future {
            val lp = lp0.copy(nowMs = (epoch * cfg.epochSeconds * 1000).toLong)
            val lrows = scraped.where(col("fetch_ok"))
              .select(col("url").as("page_url"),
                posexplode_outer(col("links")).as(Seq("pos", "link")))
              .where(col("link").isNotNull)
              .select(col("page_url"), col("link.href").as("href"),
                col("link.linkIndex").as("link_pos"),
                col("link.internal").as("is_internal"),
                // LinkOut keeps no title/class/rel attrs — intrinsic scores
                // from anchor text + href shape, like a bare <a> in the ref
                graft.functions.LinkScore.intrinsic(col("link.text"),
                  col("link.href"), lit(""), lit(""), lit(""),
                  typedLit(Seq.empty[String]), lit(false)).as("intrinsic_score"))
            val storeSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("head", org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("fetched_at", org.apache.spark.sql.types.LongType)))
            val headStorePath = dir(runDir, epoch, "head_store")
            val store0 =
              if (Files.isDirectory(Paths.get(headStorePath)))
                spark.read.schema(storeSchema).parquet(headStorePath)
              else spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchema)
            // head "fetch" seam: the crawl's page store, keyed by the same
            // xxhash64(deep-canonical href) the expansion uses. Head data is
            // built ONLY for the urls enrich will actually consult the seam
            // for — the config-filtered request set minus TTL-fresh store
            // hits; parsing heads for filtered-out or cached links is
            // O(all extracted links) of discarded work per epoch.
            val headU = udf((html: String) => graft.scrape.Meta.headPeek(html))
            val reqs = graft.sources.LinkPreview.requests(lrows, lp)
            val fetchHeads = reqs
              .join(graft.sources.LinkPreview.freshHits(reqs, store0, lp),
                Seq("url"), "left_anti")
              .withColumn("url_hash", xxhash64(col("url")))
              .join(pages.select(col("url_hash"), col("html"), col("status_code")),
                Seq("url_hash"), "left")
              .select(col("url"),
                when(col("status_code") === 200 && col("html").isNotNull, "valid")
                  .otherwise("not_valid").as("status"),
                when(col("html").isNotNull, headU(col("html")))
                  .otherwise(lit("")).as("head"))
            val (enriched, newStore) =
              graft.sources.LinkPreview.enrich(lrows, store0, fetchHeads, lp)
            enriched.withColumn("epoch", lit(epoch))
              .write.mode(SaveMode.Overwrite).parquet(dir(runDir, epoch, "links"))
            newStore.write.mode(SaveMode.Overwrite)
              .parquet(dir(runDir, epoch + 1, "head_store"))
          }
        }

        // ---- expansion: links are already deep-canonical (scrape map)
        val linkRows = scraped.where(col("fetch_ok"))
          .select(col("url").as("parent"), col("path").as("parent_path"),
            col("depth"), posexplode_outer(col("links")).as(Seq("pos", "link")))
          .where(col("link").isNotNull)
          .select(col("parent"), col("parent_path"), col("depth"),
            col("link.href").as("url"), col("link.internal").as("internal"),
            col("link.linkIndex").as("link_index"),
            col("link.text").as("anchor_text"))
        val validU = udf((u: String) => u != null && Urls.isValidCrawlUrl(u) && !Urls.isNonsense(u))
        val hostU = udf((u: String) => Urls.host(u))
        val candidates = linkRows
          .where(validU(col("url")))
          .where(if (cfg.includeExternal) lit(true) else col("internal"))
          .where(col("depth") + 1 <= cfg.maxDepth)
          .withColumn("url_hash", xxhash64(col("url")))

        // dedup: incremental filter vector pre-filter + exact anti-join, then
        // first-wins per hash (no full-history filter rebuild — the vector
        // holds one delta-sized filter per epoch since the last compaction)
        val (fresh, filterBc) =
          SeenFilters.antiJoinTracked(spark, candidates, seen, "url_hash", filters)
        val firstWins = fresh.withColumn("rk", row_number().over(
            Window.partitionBy("url_hash")
              .orderBy(col("parent_path"), col("link_index"))))
          .where(col("rk") === 1).drop("rk")

        // scoring: custom scorer > keyword relevance > neutral 0.5
        val scoreCol = cfg.linkScorer match {
          case Some(f) =>
            val scoreU = udf((u: String, t: String) => f(u, t))
            scoreU(col("url"), col("anchor_text"))
          case None if cfg.keywords.nonEmpty =>
            Scorers.keywordRelevance(col("url"), cfg.keywords)
          case None => lit(0.5)
        }
        val newEntries = firstWins
          .withColumn("score", scoreCol)
          .where(col("score") >= cfg.scoreThreshold)
          .select(
            col("url_hash"), col("url"), hostU(col("url")).as("host"),
            (col("depth") + 1).as("depth"), col("score"),
            lit(0.0).as("priority"), col("parent"),
            concat(col("parent_path"), format_string("%04x", col("link_index"))).as("path"),
            lit(epoch + 1).as("enqueue_epoch"), lit(0).as("retry_count"),
            lit(epoch + 1).as("epoch"), lit(CrawlStatus.Queued).as("status"))
          .cache() // reused by frontier write, seen delta, delta filter

        // ---- phase B: the frontier(t+1) write and the seen commit launch
        // CONCURRENTLY (with phase A still in flight). Both consume the same
        // cached newEntries plan; the BlockManager's per-partition cache locks
        // serialize materialization, so the plan is computed once no matter
        // which job wins — no duplicated expansion work at any scale. The
        // new-entry count is observed on the seen write. Reference adds to
        // seen on DISCOVERY, bfs_strategy.py:153.
        val nextEpoch = epoch + 1
        val fFrontier = Future {
          deferred
            .select(newEntries.columns.map(col): _*)
            .withColumn("epoch", lit(nextEpoch))
            .unionByName(newEntries)
            .write.mode(SaveMode.Overwrite).parquet(dir(runDir, nextEpoch, "frontier"))
        }
        // seen commit is a DELTA: only this epoch's first-seen hashes are
        // written (disjoint from history by construction — exact anti-join
        // upstream; bloom has no false negatives). O(delta) I/O per epoch.
        // Every seenCompactEvery epochs the delta run is compacted into one
        // full set + one right-sized bloom, bounding reader fan-in and the
        // bloom vector (the ONLY full-set pass, amortized 1/K per epoch).
        val compacting = nextEpoch - seenBase >= cfg.seenCompactEvery
        val newObs = Observation()
        val fNew = Future {
          val delta = newEntries.select("url_hash").observe(newObs, count(lit(1)).as("n"))
          val out = if (compacting) seen.unionByName(delta) else delta
          out.write.mode(SaveMode.Overwrite).parquet(dir(runDir, nextEpoch, "seen"))
          newObs.get("n").asInstanceOf[Long]
        }
        // the filter needs the exact delta count for sizing → chains on the
        // seen write that observes it (and, when compacting, re-reads it)
        val fSeen: Future[(Int, Vector[SeenDelta])] =
          fNew.map { nNew =>
            if (compacting) {
              val full = spark.read.schema(seenSchema).parquet(dir(runDir, nextEpoch, "seen"))
              val compactFilter = store.build(spark, full, "url_hash", seenCount + nNew)
              store.save(compactFilter, store.path(runDir, nextEpoch))
              (nextEpoch, Vector(compactFilter))
            } else {
              // the PARQUET delta stays exactly the first-seen set (ledger
              // semantics); the cuckoo FILTER additionally covers this
              // epoch's admitted hashes so a refetched (previously evicted)
              // URL is filter-covered from the next epoch on even across a
              // crash/resume — always sound (admitted ⊆ seen; extra filter
              // membership only costs exact-join traffic)
              val filterInput =
                if (store.name == "cuckoo")
                  newEntries.select("url_hash")
                    .unionByName(admitted.select("url_hash"))
                else newEntries.select("url_hash")
              val deltaFilter =
                if (nNew == 0 && store.name != "cuckoo") store.empty()
                else store.build(spark, filterInput, "url_hash",
                  nNew + (if (store.name == "cuckoo") math.max(queuedCount, 0L) else 0L))
              store.save(deltaFilter, store.path(runDir, nextEpoch))
              (seenBase, filters :+ deltaFilter)
            }
          }

        // ---- join all concurrent jobs, then the atomic commit
        val lineageRows = Await.result(fLineage, Duration.Inf)
        val nNew = Await.result(fNew, Duration.Inf)
        val nBlocked = Await.result(fVisits, Duration.Inf)
        val (newSeenBase, newFilters) = Await.result(fSeen, Duration.Inf)
        Await.result(fDocs, Duration.Inf)
        Await.result(fState, Duration.Inf)
        Await.result(fPreview, Duration.Inf)
        Await.result(fFrontier, Duration.Inf)
        seenBase = newSeenBase
        filters = newFilters
        val nFetched = lineageRows.filter(_._2).map(_._3).sum
        val nFailed = lineageRows.filterNot(_._2).map(_._3).sum
        // derived, no extra jobs: admitted = allowed + blocked; deferred =
        // queued − admitted; seen grows only by the (disjoint) new entries
        val admittedCount = nFetched + nFailed + nBlocked
        val deferredCount = queuedCount - admittedCount
        seenCount += nNew
        queuedCount = deferredCount + nNew
        val partLineage = lineageRows.sortBy(_._1)
          .map { case (pid, ok, rows, words) =>
            s"""{"pid":$pid,"fetch_ok":$ok,"rows":$rows,"words":$words}""" }
          .mkString("[", ",", "]")
        totalFetched += nFetched
        totals = (totals._1 + nFailed, totals._2 + nBlocked, 0L)
        val wall = System.currentTimeMillis() - t0
        commitManifest(runDir, epoch + 1,
          s"""{"epoch":${epoch + 1},"fetched":$nFetched,"failed":$nFailed,""" +
          s""""skipped_robots":$nBlocked,"new_frontier":$nNew,"seen_total":$seenCount,""" +
          s""""frontier_queued":$queuedCount,"seen_base":$seenBase,""" +
          s""""strategy":"${jsonEsc(cfg.strategy)}","wall_ms":$wall,"partitions":$partLineage}""")

        scraped.unpersist(); budgeted.unpersist(); admitted.unpersist(); newEntries.unpersist()
        // all consumers of this epoch's filter broadcast have completed and
        // their outputs are on disk — free it (one vector per epoch would
        // otherwise accumulate for the crawl's lifetime)
        filterBc.destroy()
        if (queuedCount == 0) done = true
        epoch += 1
      }
    }
    // seenCount is the exact seen_total of the head manifest
    val seenFinal = if (seenCount >= 0) seenCount else seenSet(spark, runDir).count()
    CrawlSummary(epoch, totalFetched, totals._1, totals._2, seenFinal)
  }

  /** TTL-expire epoch `expired`: every URL FIRST ENQUEUED at that epoch is
    * re-queued for refetch in a new frontier snapshot (the refresh-crawl /
    * result-cache-TTL semantics — reference cache TTL invalidates stored
    * results so the next visit refetches). No inner-loop change is needed:
    * the seen set gates DISCOVERY, not the queued frontier, so re-enqueued
    * entries are re-admitted while their hashes stay in seen (they cannot be
    * re-discovered as duplicates). The old docs for those URLs remain in
    * earlier snapshots (time travel still sees them); the re-crawl emits
    * fresh docs at the new epochs. O(expired-delta) work.
    *
    * The EXACT seen parquet is a monotone ledger and never shrinks — the
    * exact anti-join is what keeps a re-queued URL rediscovered via links
    * from entering the frontier twice (the reference keeps the same split —
    * the per-crawl visited set is monotone, only the TTL'd result CACHE is
    * deletable). Under `seenFilter = "cuckoo"` the deletable half is real:
    * the expired delta's hashes are EVICTED from the persisted sharded
    * filter (executor-side, [[CuckooSeen.evictSharded]] — per-shard
    * `mapGroups` deletes, only compact filters cross the driver), so the
    * filter tracks the still-cached set. Because eviction deliberately
    * creates filter false negatives against the monotone ledger,
    * [[Crawl.run]] HEALS the fast path at load (one extra filter over the
    * queued frontier — the evicted set is exactly the requeued set) and
    * covers admitted hashes in each epoch's delta filter; eviction itself is
    * idempotent via an on-disk marker (repeating a cuckoo delete for an
    * already-evicted key could strip a colliding live fingerprint). Under
    * bloom the filter is append-only and the stale bits simply age out at
    * the next compaction.
    *
    * Returns the number of re-queued URLs; `Crawl.run` on the same runDir
    * then resumes from the new snapshot and refetches them.
    */
  def expireEpoch(spark: SparkSession, runDir: String, expired: Int): Long = {
    val last = lastCommittedEpoch(runDir)
    require(last >= 0, s"no committed crawl under $runDir")
    require(Files.exists(manifestPath(runDir, expired)),
      s"epoch $expired was never committed")
    val frontierSchema = org.apache.spark.sql.Encoders.product[FrontierEntry].schema
    val fdir = dir(runDir, expired, "frontier")
    require(Files.isDirectory(Paths.get(fdir)), s"no frontier snapshot at epoch $expired")
    val nextEpoch = last + 1
    val requeue = spark.read.schema(frontierSchema).parquet(fdir)
      .where(col("enqueue_epoch") === expired && col("status") === CrawlStatus.Queued)
      .withColumn("epoch", lit(nextEpoch))
      .withColumn("retry_count", lit(0))
    // merge with whatever is still queued at the head snapshot (normally
    // empty after a completed run); first-wins per url_hash, oldest enqueue
    val headDir = dir(runDir, last, "frontier")
    val headQueued =
      if (Files.isDirectory(Paths.get(headDir)))
        spark.read.schema(frontierSchema).parquet(headDir)
          .where(col("status") === CrawlStatus.Queued)
          .withColumn("epoch", lit(nextEpoch))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], frontierSchema)
    // tiebreak after enqueue_epoch: when a requeued URL is also still queued
    // in the head snapshot at the SAME enqueue_epoch (expiring an epoch of an
    // incomplete run), prefer the requeued copy (retry_count reset to 0) and
    // break any residual tie on path — the merged snapshot must be
    // reproducible run to run
    val merged = requeue.unionByName(headQueued)
      .withColumn("rk", row_number().over(
        Window.partitionBy("url_hash")
          .orderBy(col("enqueue_epoch"), col("retry_count"), col("path"))))
      .where(col("rk") === 1).drop("rk")
    merged.write.mode(SaveMode.Overwrite).parquet(dir(runDir, nextEpoch, "frontier"))
    val n = spark.read.schema(frontierSchema)
      .parquet(dir(runDir, nextEpoch, "frontier")).count()
    val base = manifestField(runDir, last, "seen_base").getOrElse(0L)
    // empty seen delta for the new epoch (nothing newly seen by expiry)
    requeue.limit(0).select("url_hash")
      .write.mode(SaveMode.Overwrite).parquet(dir(runDir, nextEpoch, "seen"))
    val store = SeenStore.detect(runDir, last)
    store.save(store.empty(), store.path(runDir, nextEpoch))
    // deletable-filter path: evict the expired delta's hashes from the
    // persisted cuckoo filter that contains them — the delta's own filter
    // when it is still in the live vector, else the compacted full-set
    // filter at the base epoch. Safe for cuckoo delete semantics: those
    // hashes are in that filter by construction (the delta parquet IS the
    // insert set), so no absent-key delete can strip a collider.
    store match {
      case _: CuckooStore =>
        val target = if (expired >= base) expired else base.toInt
        val p = store.path(runDir, target)
        // idempotency marker: the expired keys are in the target filter by
        // construction on the FIRST eviction only — a repeat delete of an
        // absent key can strip a colliding live fingerprint (cuckoo delete
        // contract), so each (filter, expired-epoch) pair evicts once. A
        // later compaction writes a fresh filter at a new epoch, moving
        // `target`, so the new filter is evictable again.
        val marker = Paths.get(f"$runDir/.evicted_$target%04d_$expired%04d")
        if (Files.exists(p) && !Files.exists(marker)) {
          val expiredHashes = spark.read.parquet(dir(runDir, expired, "seen"))
          val (evicted, _) = CuckooSeen.evictSharded(
            store.load(p).asInstanceOf[ShardedCuckoo], expiredHashes, "url_hash")
          store.save(evicted, p)
          Files.createFile(marker)
        }
      case _ => // bloom: append-only; stale bits age out at compaction
    }
    val seenTotal = manifestField(runDir, last, "seen_total").getOrElse(-1L)
    val strategy = manifestStringField(runDir, last, "strategy").getOrElse("bfs")
    commitManifest(runDir, nextEpoch,
      s"""{"epoch":$nextEpoch,"kind":"recrawl","expired_epoch":$expired,""" +
      s""""fetched":0,"failed":0,"skipped_robots":0,"new_frontier":0,""" +
      s""""frontier_queued":$n,"seen_total":$seenTotal,"seen_base":$base,""" +
      s""""strategy":"${jsonEsc(strategy)}"}""")
    n
  }

  /** Numeric field of the manifest at `epoch`, if committed. */
  private def manifestField(runDir: String, epoch: Int, field: String): Option[Long] = {
    val p = manifestPath(runDir, epoch)
    if (!Files.exists(p)) None
    else ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toLong)
  }

  /** String field of the manifest at `epoch`, if committed. */
  private def manifestStringField(runDir: String, epoch: Int, field: String): Option[String] = {
    val p = manifestPath(runDir, epoch)
    if (!Files.exists(p)) None
    else ("\"" + field + "\":\"([^\"]*)\"").r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1))
  }

  private def sumManifests(runDir: String, field: String): Long =
    (1 to lastCommittedEpoch(runDir)).flatMap(manifestField(runDir, _, field)).sum

  /** All docs produced by a run (doc_id, spans, links, title, n_words, epoch).
    * `asOf` (an epoch with a committed manifest) time-travels the read to
    * that snapshot — Iceberg-style: a reader pinned to manifest k sees
    * exactly the state the epoch-k commit published, regardless of how far
    * the crawl has advanced since.
    */
  def docs(spark: SparkSession, runDir: String, asOf: Int = Int.MaxValue): DataFrame = {
    val last = snapshotEpoch(runDir, asOf)
    val dirs = (0 until math.max(last, 0)).map(e => dir(runDir, e, "docs"))
      .filter(d => Files.isDirectory(Paths.get(d)))
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*)
  }

  /** Enriched link rows (page_url, href, link_pos, is_internal,
    * intrinsic_score, head_status, head, contextual_score, total_score,
    * epoch) across committed epochs — written only when
    * [[CrawlConfig.linkPreview]] is configured. */
  def links(spark: SparkSession, runDir: String, asOf: Int = Int.MaxValue): DataFrame = {
    val last = snapshotEpoch(runDir, asOf)
    val dirs = (0 until math.max(last, 0)).map(e => dir(runDir, e, "links"))
      .filter(d => Files.isDirectory(Paths.get(d)))
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*)
  }

  /** Resolve an as-of epoch against the committed manifests: the newest
    * committed epoch ≤ `asOf` (so a reader can never observe uncommitted
    * directories, even mid-crash). */
  private def snapshotEpoch(runDir: String, asOf: Int): Int = {
    val last = lastCommittedEpoch(runDir)
    if (asOf >= last) last
    else {
      require(Files.exists(manifestPath(runDir, asOf)),
        s"no committed snapshot at epoch $asOf under $runDir")
      asOf
    }
  }

  /** Deterministic visit order across epochs (epoch, visit_rank, url, ...).
    * `visit_rank` is DERIVED here, not stored: the per-epoch visit order is
    * fully determined by the persisted sort key (priority, score, depth,
    * path), so ranking is a consumer-side window partitioned by epoch — the
    * epoch loop itself never runs a global-order window.
    */
  def visits(spark: SparkSession, runDir: String, asOf: Int = Int.MaxValue): DataFrame = {
    val last = snapshotEpoch(runDir, asOf)
    val epochs = (0 until math.max(last, 0))
      .filter(e => Files.isDirectory(Paths.get(dir(runDir, e, "visits"))))
    if (epochs.isEmpty) return spark.emptyDataFrame
    // rank each epoch under ITS OWN strategy (manifest e+1 records epoch e's
    // crawl): a run resumed under a different strategy keeps the earlier
    // epochs' historical visit order intact
    val perEpochStrategy = epochs.map { e =>
      e -> manifestStringField(runDir, e + 1, "strategy")
        .orElse(manifestStringField(runDir, math.max(last, 0), "strategy"))
        .getOrElse("bfs")
    }
    perEpochStrategy.groupBy(_._2).map { case (strategy, es) =>
      spark.read.parquet(es.map(x => dir(runDir, x._1, "visits")): _*)
        .withColumn("visit_rank", row_number().over(
          Window.partitionBy("epoch").orderBy(strategyOrder(strategy): _*)))
    }.reduce(_ unionByName _)
      .select("url", "depth", "score", "path", "visit_rank", "epoch")
      .orderBy("epoch", "visit_rank")
  }

  /** URL-seen set of the last committed snapshot (the resume-identity set):
    * the union of the seen DELTAS from the last compaction base onward.
    */
  def seenSet(spark: SparkSession, runDir: String, asOf: Int = Int.MaxValue): DataFrame = {
    val last = math.max(snapshotEpoch(runDir, asOf), 0)
    val base = manifestField(runDir, last, "seen_base").map(_.toInt).getOrElse(0)
    val dirs = (base to last).map(e => dir(runDir, e, "seen"))
      .filter(d => Files.isDirectory(Paths.get(d)))
    spark.read.parquet(dirs: _*)
  }

  /** Per-epoch metrics from the committed manifests: (epoch, fetched,
    * failed, skipped_robots, new_frontier, seen_total, wall_ms) — the
    * TraversalStats/dispatch-telemetry surface (models.py:100-109).
    */
  def metrics(spark: SparkSession, runDir: String): DataFrame = {
    import spark.implicits._
    (1 to lastCommittedEpoch(runDir)).filter(e => Files.exists(manifestPath(runDir, e))).map { e =>
      def f(k: String): Long = manifestField(runDir, e, k).getOrElse(-1L)
      (e, f("fetched"), f("failed"), f("skipped_robots"), f("new_frontier"), f("seen_total"),
        f("wall_ms"))
    }.toDF("epoch", "fetched", "failed", "skipped_robots",
      "new_frontier", "seen_total", "wall_ms")
  }

  /** Per-partition lineage entries of one epoch's manifest:
    * (pid, fetch_ok, rows, words).
    */
  def lineage(spark: SparkSession, runDir: String, epoch: Int): DataFrame = {
    import spark.implicits._
    val p = manifestPath(runDir, epoch)
    val entries =
      if (!Files.exists(p)) Seq.empty
      else "\\{\"pid\":(\\d+),\"fetch_ok\":(true|false),\"rows\":(\\d+),\"words\":(\\d+)\\}".r
        .findAllMatchIn(Files.readString(p))
        .map(m => (m.group(1).toInt, m.group(2).toBoolean,
          m.group(3).toLong, m.group(4).toLong))
        .toSeq
    entries.toDF("pid", "fetch_ok", "rows", "words")
  }
}
