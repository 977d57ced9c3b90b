package graft.frontier

import graft.core._
import graft.functions.Scorers
import graft.politeness.Robots
import graft.scrape.Scrape
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

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
  *     → candidates evaluated once → bloom pre-filter → seen ⋉ maybe-seen
  *       (broadcast while the maybe-seen estimate is under the threshold:
  *       seen scanned, not exchanged) → left_anti(hits)  [dedup]
  *     → first-wins per url_hash → frontier(t+1)     [snapshot committed]
  *
  * Snapshot protocol (Iceberg-style semantics on plain parquet — SURVEY.md
  * §7.3): every epoch writes frontier/seen/docs/visits dirs, then an
  * atomically-renamed `manifest_<epoch>.json` carrying per-partition lineage
  * (rows and words per scraped partition) + fetch metrics. The manifest is
  * the only commit record: snapshot tables are written without Hadoop's
  * `_SUCCESS` marker, each as a data-sized number of files (one per
  * [[Crawl.RowsPerFile]] queued rows, so a small epoch writes one file per
  * table), and the lineage is an `Observation` on the docs write. A killed
  * job resumes from `max(committed epoch)` with an identical URL-seen set:
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
    scoreThreshold: Double = Double.NegativeInfinity,
    keywords: Seq[String] = Nil,
    includeExternal: Boolean = false,
    fairnessEpochs: Int = 3,
    maxEpochs: Int = 64,
    userAgent: String = "*",
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

  /** Epochs `from..to` whose `what` snapshot dir exists. */
  private def epochsWith(runDir: String, what: String, from: Int, to: Int): Seq[Int] =
    (from to to).filter(e => Files.isDirectory(Paths.get(dir(runDir, e, what))))

  // explicit schemas for the snapshot readbacks: skips footer-based schema
  // inference in the planning phase of every epoch
  private val frontierSchema = org.apache.spark.sql.Encoders.product[FrontierEntry].schema
  private val seenSchema = org.apache.spark.sql.types.StructType.fromDDL("url_hash BIGINT")

  /** Queued rows per snapshot file. A docs row (spans, links, title) is
    * ~0.1-0.6 KB of snappy parquet on the synthetic sites, so ~10,000 rows
    * keep a docs file at a few MB: one file per table for a small epoch, and
    * a large one still writes in parallel. */
  private[graft] val RowsPerFile = 10000L

  /** Salt values per host in the pre-scrape repartition: a hot host's pages
    * spread over up to this many partitions. */
  private val SaltBuckets = 8

  /** Files per snapshot table for an epoch of `queued` rows:
    * `ceil(queued / RowsPerFile)`, clamped to `1..maxParts`. */
  private[graft] def snapshotParts(queued: Long, maxParts: Int): Int =
    if (queued <= RowsPerFile) 1
    else math.min((queued - 1) / RowsPerFile + 1, maxParts.toLong).toInt

  /** The one snapshot writer: `parts` files, overwriting `path`, and no
    * `_SUCCESS` marker (the manifest is the commit record; nothing reads the
    * markers). The coalesce merges the write's tasks only: a cached plan
    * upstream keeps its own partitioning, whichever job computes it. */
  private def writeSnapshot(df: Dataset[_], parts: Int, path: String): Unit =
    df.coalesce(parts).write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(path)

  /** Per-partition lineage as one aggregate an `Observation` can carry, over
    * (pid, fetch_ok, n_words): partition `pid` owns slots `4 * pid` (rows,
    * words of fetched pages) and `4 * pid + 2` (rows, words of failed ones). */
  private object LineageAgg extends Aggregator[(Int, Boolean, Int), Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    private def grow(a: Array[Long], n: Int) =
      if (a.length >= n) a else java.util.Arrays.copyOf(a, n)
    def reduce(b: Array[Long], in: (Int, Boolean, Int)): Array[Long] = {
      val (pid, ok, words) = in
      val a = grow(b, 4 * (pid + 1))
      val i = 4 * pid + (if (ok) 0 else 2)
      a(i) += 1; a(i + 1) += words; a
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      val a = grow(x, y.length)
      y.indices.foreach(i => a(i) += y(i)); a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

    val column: Column = udaf(this, Encoders.tuple(Encoders.scalaInt, Encoders.scalaBoolean,
      Encoders.scalaInt))(col("pid"), col("fetch_ok"), col("n_words"))

    /** The observed slots as manifest rows: by pid, fetched before failed,
      * empty sides omitted. */
    def rows(slots: scala.collection.Seq[Long]): Seq[PartitionLineage] =
      for {
        pid <- 0 until slots.length / 4
        ok <- Seq(true, false)
        i = 4 * pid + (if (ok) 0 else 2) if slots(i) > 0
      } yield PartitionLineage(pid, ok, slots(i), slots(i + 1))
  }

  /** The URL-seen set as the union of the seen deltas `base..upTo`. */
  private def readSeen(spark: SparkSession, runDir: String, base: Int, upTo: Int): DataFrame =
    spark.read.schema(seenSchema)
      .parquet(epochsWith(runDir, "seen", base, upTo).map(dir(runDir, _, "seen")): _*)

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

  // ---- seed bootstrap -------------------------------------------------------

  /** Seeds → epoch-0 frontier: canonicalize (deep), drop invalid + nonsense,
    * first-wins dedup per url_hash (source order: sitemap < cc, then url —
    * the seeder's sequential-union-with-shared-set, async_url_seeder.py:
    * 328-359). Seed path = 4-hex rank in the deduped, url-sorted list.
    * Returns the entries and their count.
    */
  def seedFrontier(spark: SparkSession, seeds: DataFrame): (Dataset[FrontierEntry], Long) = {
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
    // prefix sum, as `zipWithIndex` over a sorted RDD does) — a global dense
    // rank with NO single-partition window, deterministic because the sort
    // key is unique after the first-wins dedup. The size pass also yields the
    // seed count.
    val sorted = base.select(col("url_hash"), col("curl")).orderBy("curl").as[(Long, String)].rdd
    val offsets = sorted.mapPartitions(it => Iterator(it.size.toLong)).collect().scanLeft(0L)(_ + _)
    val entries = sorted.mapPartitionsWithIndex { (p, it) =>
      it.zipWithIndex.map { case ((h, u), i) =>
        FrontierEntry(h, u, Urls.host(u), 0, 0.5, 0.0, "", f"${offsets(p) + i}%04x",
          0, 0, 0, CrawlStatus.Queued)
      }
    }.toDS()
    (entries, offsets.last)
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
    val store = SeenStore.forConfig(cfg.seenFilter, cfg.cuckooShards)
    val maxParts = spark.sessionState.conf.numShufflePartitions

    val start = lastCommittedEpoch(runDir)
    if (start < 0) {
      // one seedFrontier pass, cached: the frontier write, seen/epoch=0 and
      // its filter read the same cache, sized by the seed count it returns
      val (seeded, seedCount) = seedFrontier(spark, seeds)
      val f0 = seeded.cache()
      val parts = snapshotParts(seedCount, maxParts)
      writeSnapshot(f0, parts, dir(runDir, 0, "frontier"))
      // seen is a DELTA log: seen/epoch=k holds only the hashes first seen at
      // epoch k (epoch 0 = the seeds — delta AND full set at once). Readers
      // union deltas from the last compaction point; nothing ever rewrites
      // history (O(delta) commit I/O per epoch, not O(seen)). No distinct:
      // url_hash is unique after seedFrontier's first-wins dedup.
      val s0 = f0.select("url_hash")
      writeSnapshot(s0, parts, dir(runDir, 0, "seen"))
      store.save(store.build(spark, s0, "url_hash", seedCount), store.path(runDir, 0))
      f0.unpersist()
      EpochManifest.commit(runDir, EpochManifest(0, cfg.strategy, seenBase = 0,
        seenTotal = seedCount, frontierQueued = Some(seedCount), kind = Some("bootstrap"),
        frontier = Some(dir(runDir, 0, "frontier"))))
    }

    // every committed manifest, oldest first (each epoch appends the one it
    // commits): the run's totals and the head's counters come from here
    var manifests =
      (0 to lastCommittedEpoch(runDir)).flatMap(EpochManifest.read(runDir, _)).toVector
    def total(count: EpochManifest => Option[Long]): Long = manifests.flatMap(count).sum
    var epoch = manifests.last.epoch
    var done = false
    // incremental counters (avoid a count job per epoch; read from the last
    // manifest, counted only for a bootstrap manifest without frontier_queued)
    var queuedCount = manifests.last.frontierQueued.getOrElse(-1L)
    var seenCount = manifests.last.seenTotal
    // compaction base: first epoch of the current delta run (deltas base..k
    // union to the full seen set; their blooms form the pre-filter vector)
    var seenBase = manifests.last.seenBase
    // per-epoch delta filters, loaded from persisted files (rebuilt from the
    // delta dir — delta-sized, cheap — if a file is missing or the run is
    // resumed under the other filter family). Only an absent delta dir means
    // an empty filter: an empty filter over a delta that has rows would let
    // its URLs past the exact probe as new, so a delta that cannot be read
    // fails the run instead.
    var filters: Vector[SeenDelta] = (seenBase to epoch).toVector.map { e =>
      val p = store.path(runDir, e)
      val deltaDir = dir(runDir, e, "seen")
      if (Files.exists(p)) store.load(p)
      else if (!Files.isDirectory(Paths.get(deltaDir))) store.empty()
      else {
        val delta = spark.read.schema(seenSchema).parquet(deltaDir)
        store.build(spark, delta, "url_hash", delta.count())
      }
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
      val seen = readSeen(spark, runDir, seenBase, epoch)
      val domainStatePath = dir(runDir, epoch, "domain_state")
      val domainState: Option[DataFrame] =
        if (cfg.dynamicPoliteness && Files.isDirectory(Paths.get(domainStatePath)))
          Some(spark.read.parquet(domainStatePath))
        else None
      val queued = frontier.where(col("status") === CrawlStatus.Queued)
      if (queuedCount < 0) queuedCount = queued.count()

      if (queuedCount == 0 || total(_.fetched) >= cfg.maxPages) { done = true }
      else {
        // every snapshot table this epoch writes: one file per RowsPerFile
        // queued rows
        val parts = snapshotParts(queuedCount, maxParts)
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
        // global capacity cut ONLY when `maxPages` binds this epoch: with the
        // default (uncapped) config every epoch must stay a partitioned plan —
        // no global TakeOrdered over the admitted set. A remaining capacity
        // ≥ Int.MaxValue (always so when `maxPages` is unset) cannot bind (no
        // epoch admits that many rows through per-host budgets), so it is
        // skipped, never silently clamped.
        val capacity = cfg.maxPages - total(_.fetched)
        val capped = capacity < Int.MaxValue
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
          maxParts, col("host"), pmod(col("url_hash"), lit(SaltBuckets)))
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
          // the lineage pid: the index of the scrape map's own partition,
          // fixed in the cache whichever job (a coalesced write included)
          // computes it
          .withColumn("pid", spark_partition_id())
          .cache()

        // ---- phase A: ALL consumers of the scraped cache — docs write,
        // visits write, politeness evolution — launch as CONCURRENT Spark
        // jobs. The BlockManager's per-partition cache locks make the
        // concurrent jobs co-materialize the cache (different partitions in
        // parallel, each computed exactly once); they write disjoint outputs,
        // so overlapping hides the fixed per-job latency that dominates small
        // epochs and costs nothing on a real cluster (concurrent jobs share
        // the scheduler). No count or collect job runs: the lineage is
        // observed on the docs write (before its fetch_ok filter, so failed
        // pages count too), fetched/failed are its rows summed, and the
        // robots-blocked count is observed on the visits write.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext = Crawl.epochEc
        val lineageObs = Observation()
        val fDocs = Future {
          writeSnapshot(scraped.observe(lineageObs, LineageAgg.column.as("slots"))
            .where(col("fetch_ok"))
            .select(col("url").as("doc_id"), col("spans"), col("links"),
              col("title"), col("n_words"), lit(epoch).as("epoch")),
            parts, dir(runDir, epoch, "docs"))
          LineageAgg.rows(lineageObs.get("slots").asInstanceOf[scala.collection.Seq[Long]])
        }
        // visits carry the full sort key (priority, score, depth, path) but
        // NO materialized rank: visit order is fully determined by the key,
        // so `Crawl.visits` derives ranks at read time — the epoch loop never
        // runs a partitionless global-order window.
        val blockedObs = Observation()
        val fVisits = Future {
          writeSnapshot(gated.observe(blockedObs, count(when(!col("robots_ok"), true)).as("n"))
            .where(col("robots_ok"))
            .select(col("url"), col("depth"), col("score"), col("priority"),
              col("path"), lit(epoch).as("epoch")),
            parts, dir(runDir, epoch, "visits"))
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
          writeSnapshot(graft.politeness.DomainState
            .evolve(st0.select("host", "current_delay", "fail_count"),
              scraped.select(col("host"), col("status_code"))),
            parts, dir(runDir, epoch + 1, "domain_state"))
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
            writeSnapshot(enriched.withColumn("epoch", lit(epoch)), parts,
              dir(runDir, epoch, "links"))
            writeSnapshot(newStore, parts, dir(runDir, epoch + 1, "head_store"))
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
        val seenProbe = SeenFilters.probe(spark, candidates, seen, "url_hash", filters)
        val firstWins = seenProbe.fresh.withColumn("rk", row_number().over(
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
          writeSnapshot(deferred
            .select(newEntries.columns.map(col): _*)
            .withColumn("epoch", lit(nextEpoch))
            .unionByName(newEntries),
            parts, dir(runDir, nextEpoch, "frontier"))
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
          writeSnapshot(out, parts, dir(runDir, nextEpoch, "seen"))
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
        val lineageRows = Await.result(fDocs, Duration.Inf)
        val nNew = Await.result(fNew, Duration.Inf)
        val nBlocked = Await.result(fVisits, Duration.Inf)
        val (newSeenBase, newFilters) = Await.result(fSeen, Duration.Inf)
        Await.result(fState, Duration.Inf)
        Await.result(fPreview, Duration.Inf)
        Await.result(fFrontier, Duration.Inf)
        seenBase = newSeenBase
        filters = newFilters
        val nFetched = lineageRows.filter(_.fetchOk).map(_.rows).sum
        val nFailed = lineageRows.filterNot(_.fetchOk).map(_.rows).sum
        // derived, no extra jobs: admitted = allowed + blocked; deferred =
        // queued − admitted; seen grows only by the (disjoint) new entries
        val admittedCount = nFetched + nFailed + nBlocked
        val deferredCount = queuedCount - admittedCount
        seenCount += nNew
        queuedCount = deferredCount + nNew
        val m = EpochManifest(nextEpoch, cfg.strategy, seenBase, seenCount, Some(queuedCount),
          fetched = Some(nFetched), failed = Some(nFailed), skippedRobots = Some(nBlocked),
          newFrontier = Some(nNew), wallMs = Some(System.currentTimeMillis() - t0),
          partitions = Some(lineageRows))
        EpochManifest.commit(runDir, m)
        manifests :+= m

        scraped.unpersist(); budgeted.unpersist(); admitted.unpersist(); newEntries.unpersist()
        // all consumers of this epoch's probe have completed and their
        // outputs are on disk — free its filter broadcast and candidate rows
        // (one of each per epoch would otherwise accumulate for the crawl's
        // lifetime)
        seenProbe.release()
        if (queuedCount == 0) done = true
        epoch += 1
      }
    }
    CrawlSummary(epoch, total(_.fetched), total(_.failed), total(_.skippedRobots), seenCount)
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
    val expiredManifest = EpochManifest.read(runDir, expired)
    require(expiredManifest.nonEmpty, s"epoch $expired was never committed")
    val head = EpochManifest.read(runDir, last).get
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
    // sized by the rows the two frontier snapshots hold (every row of a
    // frontier snapshot is queued; a bootstrap manifest without
    // frontier_queued holds seen_total seeds)
    def queuedAt(m: EpochManifest) = m.frontierQueued.getOrElse(m.seenTotal)
    val parts = snapshotParts(queuedAt(expiredManifest.get) + queuedAt(head),
      spark.sessionState.conf.numShufflePartitions)
    val requeuedObs = Observation()
    writeSnapshot(merged.observe(requeuedObs, count(lit(1)).as("n")), parts,
      dir(runDir, nextEpoch, "frontier"))
    val n = requeuedObs.get("n").asInstanceOf[Long]
    // empty seen delta for the new epoch (nothing newly seen by expiry)
    writeSnapshot(requeue.limit(0).select("url_hash"), 1, dir(runDir, nextEpoch, "seen"))
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
        val target = if (expired >= head.seenBase) expired else head.seenBase
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
    // strategy, seen_total and seen_base carry over from the head
    EpochManifest.commit(runDir, head.copy(epoch = nextEpoch, frontierQueued = Some(n),
      kind = Some("recrawl"), frontier = None, expiredEpoch = Some(expired),
      fetched = Some(0), failed = Some(0), skippedRobots = Some(0), newFrontier = Some(0),
      wallMs = None, partitions = None))
    n
  }

  /** All docs produced by a run (doc_id, spans, links, title, n_words, epoch).
    * `asOf` (an epoch with a committed manifest) time-travels the read to
    * that snapshot — Iceberg-style: a reader pinned to manifest k sees
    * exactly the state the epoch-k commit published, regardless of how far
    * the crawl has advanced since.
    */
  def docs(spark: SparkSession, runDir: String, asOf: Int = Int.MaxValue): DataFrame =
    epochRows(spark, runDir, "docs", asOf)

  /** Enriched link rows (page_url, href, link_pos, is_internal,
    * intrinsic_score, head_status, head, contextual_score, total_score,
    * epoch) across committed epochs — written only when
    * [[CrawlConfig.linkPreview]] is configured. */
  def links(spark: SparkSession, runDir: String, asOf: Int = Int.MaxValue): DataFrame =
    epochRows(spark, runDir, "links", asOf)

  /** The rows of table `what` written by the epochs crawled before `asOf`. */
  private def epochRows(spark: SparkSession, runDir: String, what: String, asOf: Int): DataFrame = {
    val dirs = epochsWith(runDir, what, 0, snapshotEpoch(runDir, asOf) - 1).map(dir(runDir, _, what))
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
      require(Files.exists(EpochManifest.path(runDir, asOf)),
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
    val epochs = epochsWith(runDir, "visits", 0, last - 1)
    if (epochs.isEmpty) return spark.emptyDataFrame
    // rank each epoch under ITS OWN strategy (manifest e+1 records epoch e's
    // crawl): a run resumed under a different strategy keeps the earlier
    // epochs' historical visit order intact
    val strategies = (1 to last).flatMap(EpochManifest.read(runDir, _))
      .map(m => m.epoch -> m.strategy).toMap
    epochs.groupBy(e => strategies.getOrElse(e + 1, strategies.getOrElse(last, "bfs"))).map {
      case (strategy, es) =>
        spark.read.parquet(es.map(dir(runDir, _, "visits")): _*)
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
    readSeen(spark, runDir, EpochManifest.read(runDir, last).map(_.seenBase).getOrElse(0), last)
  }

  /** Per-epoch metrics from the committed manifests: (epoch, fetched,
    * failed, skipped_robots, new_frontier, seen_total, wall_ms) — the
    * TraversalStats/dispatch-telemetry surface (models.py:100-109).
    */
  def metrics(spark: SparkSession, runDir: String): DataFrame = {
    import spark.implicits._
    (1 to lastCommittedEpoch(runDir)).flatMap(EpochManifest.read(runDir, _)).map { m =>
      def f(count: Option[Long]): Long = count.getOrElse(-1L)
      (m.epoch, f(m.fetched), f(m.failed), f(m.skippedRobots), f(m.newFrontier), m.seenTotal,
        f(m.wallMs))
    }.toDF("epoch", "fetched", "failed", "skipped_robots",
      "new_frontier", "seen_total", "wall_ms")
  }

  /** Per-partition lineage entries of one epoch's manifest:
    * (pid, fetch_ok, rows, words).
    */
  def lineage(spark: SparkSession, runDir: String, epoch: Int): DataFrame = {
    import spark.implicits._
    EpochManifest.read(runDir, epoch).flatMap(_.partitions).getOrElse(Nil)
      .toDF("pid", "fetch_ok", "rows", "words")
  }
}
