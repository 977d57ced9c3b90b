package graft.frontier

import graft.core._
import graft.functions.Scorers
import graft.politeness.Robots
import graft.scrape.Scrape
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

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
  *     → explode(links) → validity/nonsense filters
  *     → candidates evaluated once → bloom pre-filter → seen ⋉ maybe-seen
  *       (broadcast while the maybe-seen estimate is under the threshold:
  *       seen scanned, not exchanged) → left_anti(hits)  [dedup]
  *     → first-wins per url_hash → score → frontier(t+1) [snapshot committed]
  *     → seen-delta filter (t+1)                     [built after the commit]
  *
  * The driver launches each write as soon as its plan is built: the visits
  * write right after the robots gate, so admission runs while the scrape is
  * planned, and epoch t's seen filter while epoch t+1 plans its admission.
  * The loop keeps no counter of its own: the head manifest gives each epoch
  * its number, queued count, seen total and seen base, and the one other
  * state is the filter vector the last filter build yields. Everything an
  * epoch starts (its jobs, its evaluated frames, the filter vector's
  * broadcast) belongs to one scope. The scope closes when the epoch's filter
  * build ends, just after the commit, or before a failure propagates;
  * closing waits for every job first, so no job runs on into the dirs a
  * resumed run rewrites.
  *
  * Spark keeps compiled generated classes in a bounded cache keyed by the
  * compiling thread's class loader and the source, so a warm crawl compiles
  * nothing only if its plans are the same source every epoch and run under
  * the same loaders. So no per-epoch value is a literal in a plan
  * ([[Crawl.param]]), and a frame that several jobs read (the admission
  * window, the scrape, the candidates, the new entries) is evaluated
  * once ([[Once]]) rather than cached: a `Dataset.cache` plans in a clone of
  * the session, and when its stages run outside an SQL execution of the
  * crawl's session, their tasks get the clone's class loader.
  *
  * Snapshot protocol (Iceberg-style semantics on plain parquet — SURVEY.md
  * §7.3): every epoch writes frontier/seen/docs/visits dirs, then an
  * atomically-renamed `manifest_<epoch>.json` carrying per-partition lineage
  * (rows and words per scraped partition) + fetch metrics. The manifest is
  * the only commit record: snapshot tables are written without Hadoop's
  * `_SUCCESS` marker, each as a data-sized number of files (one per
  * [[Crawl.RowsPerFile]] queued rows, so a small epoch writes one file per
  * table), and the lineage is taken by the job that evaluates the scraped
  * rows, the counts by the jobs that evaluate the frames they count. The seen
  * filter file (`bloom_<epoch>.bin`) is no part of the commit: it is a
  * derived cache of the committed snapshots, may land after the manifest,
  * and is rebuilt on resume when it did not ([[BloomStore.resume]]). A
  * killed job resumes from `max(committed epoch)` with an identical URL-seen
  * set: nothing below a manifest is ever visible to a reader
  * (commit-then-advance, §7.4.6).
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
    maxEpochs: Int = 64,
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
  private lazy val epochEc: ExecutionContext =
    ExecutionContext.fromExecutorService(
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
  private val frontierSchema = Encoders.product[FrontierEntry].schema
  private val seenSchema = StructType.fromDDL("url_hash BIGINT")
  private val domainStateSchema =
    StructType.fromDDL("host STRING, current_delay DOUBLE, fail_count INT, aborted BOOLEAN")
  private val headStoreSchema =
    StructType.fromDDL("url STRING, status STRING, head STRING, fetched_at BIGINT")

  /** Queued rows per snapshot file. A docs row (spans, links, title) is
    * ~0.1-0.6 KB of snappy parquet on the synthetic sites, so ~10,000 rows
    * keep a docs file at a few MB: one file per table for a small epoch, and
    * a large one still writes in parallel. */
  private[graft] val RowsPerFile = 10000L

  /** Salt values per host in the pre-scrape repartition: a hot host's pages
    * spread over up to this many partitions. */
  private val SaltBuckets = 8

  /** Epochs a queued entry waits before fairness aging puts it ahead of
    * every entry that has waited less (priority = -wait). */
  private[graft] val FairnessEpochs = 3

  /** Files per snapshot table for an epoch of `queued` rows:
    * `ceil(queued / RowsPerFile)`, clamped to `1..maxParts`. */
  private[graft] def snapshotParts(queued: Long, maxParts: Int): Int =
    if (queued <= RowsPerFile) 1
    else math.min((queued - 1) / RowsPerFile + 1, maxParts.toLong).toInt

  /** The one snapshot writer: `parts` files, overwriting `path`, and no
    * `_SUCCESS` marker (the manifest is the commit record; nothing reads the
    * markers). The coalesce merges the write's tasks only: an evaluated
    * frame upstream keeps its own partitioning, whichever job computes it. */
  private def writeSnapshot(df: Dataset[_], parts: Int, path: String): Unit =
    df.coalesce(parts).write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(path)

  /** The lineage of one scrape partition `pid`, from its rows (`ok` and
    * `words` the ordinals of fetch_ok and n_words): the rows and words of
    * fetched pages, then of failed ones, empty sides omitted. */
  private object Lineage {
    def of(pid: Int, rows: Iterator[InternalRow], ok: Int, words: Int): Seq[PartitionLineage] = {
      val slots = new Array[Long](4) // rows, words: fetched, then failed
      rows.foreach { r =>
        val i = if (r.getBoolean(ok)) 0 else 2
        slots(i) += 1; slots(i + 1) += r.getInt(words)
      }
      Seq(true -> 0, false -> 2).collect {
        case (fetchOk, i) if slots(i) > 0 => PartitionLineage(pid, fetchOk, slots(i), slots(i + 1))
      }
    }
  }

  /** Rows of `once` for which `p` holds, counted by the job that evaluates
    * it. */
  private def countRows(once: Once)(p: InternalRow => Boolean): Long =
    once.evaluate((_, rows) => rows.count(p).toLong)._2.sum

  // ---- the epoch plan's invariants, built once, not once per epoch ------------

  private val canFetchU = udf((rules: String, u: String) => Robots.canFetch(rules, u))
  private def validUrl(u: String): Boolean =
    u != null && Urls.isValidCrawlUrl(u) && !Urls.isNonsense(u)
  private val validU = udf(validUrl _)
  private val hostU = udf((u: String) => Urls.host(u))

  /** `v` as a column whose generated code does not spell the value out: an
    * int literal is inlined into the generated source, so every epoch
    * number would compile its own copy of each stage that carries one. */
  private def param(v: Int): Column = udf(() => v).apply()

  /** The scrape map's rows: (url_hash, url, host, depth, score, path, html,
    * status_code) in, and the same keys with (fetch_ok, status_code, spans,
    * links, title, n_words) out. Their encoders are derived once: deriving
    * them is most of the cost of planning the map. */
  private type ScrapeIn = (Long, String, String, Int, Double, String, String, Option[Int])
  private type ScrapeOut =
    (Long, String, String, Int, Double, String, Boolean, Int, Seq[Span], Seq[LinkOut], String, Int)
  private lazy val scrapeInEnc: Encoder[ScrapeIn] = Encoders.product[ScrapeIn]
  private lazy val scrapeOutEnc: Encoder[ScrapeOut] = Encoders.product[ScrapeOut]

  /** The default scrape config (spans of at least one word), as the
    * sequential oracle's. */
  private val scrapeCfg = Scrape.Config()

  /** One page through [[scrapeCfg]]; a missing or non-200 page scrapes to
    * nothing. */
  private def scrapeRow(in: ScrapeIn): ScrapeOut = {
    val (h, u, host, d, sc, p, html, status) = in
    val code = status.getOrElse(404)
    val ok = html != null && code == 200
    val doc = if (ok) Scrape.scrape(u, html, scrapeCfg)
              else ScrapedDoc(u, u, Nil, Nil, "", 0)
    (h, u, host, d, sc, p, ok, code, doc.spans, doc.links, doc.title, doc.nWords)
  }

  /** Everything a bootstrap or an epoch starts: the jobs it launches and
    * what it holds until they end (evaluated frames, broadcasts). `close()`
    * waits for every job launched, failed or not, then frees everything
    * once, so that a failure propagates only once no job runs on into the
    * dirs a resumed run rewrites, and nothing it holds outlives it. It
    * may be called from any thread, and more than once. */
  private final class Scope(implicit ec: ExecutionContext) {
    private val started = ArrayBuffer.empty[Future[_]]
    private val frees = ArrayBuffer.empty[() => Unit]
    def launch[T](body: => T): Future[T] = synchronized {
      val f = Future(body); started += f; f
    }
    def once(df: DataFrame): Once = { val o = Once.later(df); onClose(o.release()); o }
    def onClose(free: => Unit): Unit = synchronized { frees += (() => free) }
    def close(): Unit = {
      synchronized(started.toList).foreach(Await.ready(_, Duration.Inf))
      synchronized { frees.foreach(_()); frees.clear() }
    }
  }

  /** Snapshot table `what` of `epoch` under `schema`, if its dir exists. */
  private def readIfPresent(spark: SparkSession, runDir: String, epoch: Int, what: String,
                            schema: StructType): Option[DataFrame] =
    Some(dir(runDir, epoch, what)).filter(d => Files.isDirectory(Paths.get(d)))
      .map(spark.read.schema(schema).parquet(_))

  /** A snapshot table of no rows, for one that is absent. */
  private def noRows(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

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

  /** The name of a committed manifest, `manifest_<k>.json`. */
  private val ManifestName = """manifest_(\d+)\.json""".r

  /** Highest epoch with a committed manifest, -1 if none: a regular file
    * named [[ManifestName]] (a directory of that name is no commit). */
  def lastCommittedEpoch(runDir: String): Int = {
    val d = Paths.get(runDir)
    if (!Files.isDirectory(d)) return -1
    val it = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString)
        .collect { case ManifestName(k) => k.toInt }
        .foldLeft(-1)(math.max)
    } finally it.close()
  }

  // ---- seed bootstrap -------------------------------------------------------

  /** Seeds → epoch-0 frontier: canonicalize (deep), drop invalid + nonsense,
    * first-wins dedup per url_hash (source order: sitemap < cc, then url —
    * the seeder's sequential-union-with-shared-set, async_url_seeder.py:
    * 328-359). Seed path = 4-hex rank in the deduped, url-sorted list.
    * Returns the entries and their count.
    *
    * Past reading the seeds, the pass is plain RDD operations (a reduce by
    * key, a range-partitioned sort), which generate no code: the SQL form
    * of the same pass (a window, a range sort and its sampling job, the
    * tuple deserializer) compiled about twenty classes for every crawl.
    * Strings compare as Spark's do, by their UTF-8 bytes.
    */
  def seedFrontier(spark: SparkSession, seeds: DataFrame): (Dataset[FrontierEntry], Long) = {
    import spark.implicits._
    // (url_hash, (canonical url, source rank, raw url)) of every valid seed
    val valid = seeds.select(col("url"), col("source")).as[(String, String)].rdd.flatMap {
      case (url, source) =>
        val curl = Urls.canonicalizeDeep(url, "")
        if (!validUrl(curl)) None
        else Some(Urls.urlHash(curl) -> ((curl, if (source == "sitemap") 0 else 1, url)))
    }
    val firstWins = valid.reduceByKey { (a, b) =>
      val c = Integer.compare(a._2, b._2)
      if (c < 0 || (c == 0 && Utf8Order.compare(a._3, b._3) <= 0)) a else b
    }
    // seed ordering: dense url-sorted rank via the two-pass scheme (range
    // partition on the sort key, then per-partition index + partition-offset
    // prefix sum, as `zipWithIndex` over a sorted RDD does) — a global dense
    // rank with NO single-partition pass, deterministic because the sort key
    // is unique after the first-wins dedup. The size pass also yields the
    // seed count.
    val sorted = firstWins.map { case (h, (curl, _, _)) => (curl, h) }
      .sortBy(_._1)(Utf8Order, scala.reflect.classTag[String])
    val offsets = sorted.mapPartitions(it => Iterator(it.size.toLong)).collect().scanLeft(0L)(_ + _)
    val entries = sorted.mapPartitionsWithIndex { (p, it) =>
      it.zipWithIndex.map { case ((u, h), i) =>
        FrontierEntry(h, u, Urls.host(u), 0, 0.5, 0.0, "", f"${offsets(p) + i}%04x",
          0, 0, 0, CrawlStatus.Queued)
      }
    }.toDS()
    (entries, offsets.last)
  }

  /** Strings in the order Spark SQL sorts them: by their UTF-8 bytes. */
  private object Utf8Order extends Ordering[String] {
    def compare(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
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
    Files.createDirectories(Paths.get(runDir))
    val store = BloomStore.crawl
    val maxParts = spark.sessionState.conf.numShufflePartitions
    implicit val ec: ExecutionContext = Crawl.epochEc

    val start = lastCommittedEpoch(runDir)
    if (start < 0) {
      // one seedFrontier pass, evaluated once: the frontier write,
      // seen/epoch=0 and its filter read the same rows as concurrent jobs,
      // each sized by the seed count it returns. Whether they succeed or not,
      // the scope joins all three and frees the rows before the manifest or
      // the error.
      val (seeded, seedCount) = seedFrontier(spark, seeds)
      val scope = new Scope
      try {
        val f0 = scope.once(seeded.toDF())
        val parts = snapshotParts(seedCount, maxParts)
        // seen is a DELTA log: seen/epoch=k holds only the hashes first seen
        // at epoch k (epoch 0 = the seeds — delta AND full set at once).
        // Readers union deltas from the last compaction point; nothing ever
        // rewrites history (O(delta) commit I/O per epoch, not O(seen)). No
        // distinct: url_hash is unique after seedFrontier's first-wins dedup.
        val s0 = f0.frame.select("url_hash")
        Seq(
          scope.launch(writeSnapshot(f0.frame, parts, dir(runDir, 0, "frontier"))),
          scope.launch(writeSnapshot(s0, parts, dir(runDir, 0, "seen"))),
          scope.launch(store.save(store.over(spark, s0, seedCount), store.path(runDir, 0)))
        ).foreach(Await.result(_, Duration.Inf))
      } finally scope.close()
      EpochManifest.commit(runDir, EpochManifest(0, cfg.strategy, seenBase = 0,
        seenTotal = seedCount, frontierQueued = Some(seedCount), kind = Some("bootstrap"),
        frontier = Some(dir(runDir, 0, "frontier"))))
    }

    // every committed manifest, oldest first (each epoch appends the one it
    // commits): the run's totals come from here, and the head's epoch,
    // queued count, seen total and seen base are the loop's state
    var manifests =
      (0 to lastCommittedEpoch(runDir)).flatMap(EpochManifest.read(runDir, _)).toVector
    def total(count: EpochManifest => Option[Long]): Long = manifests.flatMap(count).sum
    // the filter vector as of the head: each delta's filter, loaded or
    // rebuilt from its seen delta (BloomStore.resume). An epoch's own filter
    // builds and saves after its commit: the next probe waits for it, and so
    // does the run before it returns or rethrows
    var filters: Future[Vector[SeenDelta]] = {
      val head = manifests.last
      Future.successful((head.seenBase to head.epoch).toVector.map { e =>
        store.resume(spark, runDir, e, readIfPresent(spark, runDir, e, "seen", seenSchema))
      })
    }

    try {
      while (manifests.last.epoch < cfg.maxEpochs && manifests.last.frontierQueued.forall(_ > 0) &&
             total(_.fetched) < cfg.maxPages) {
        val head = manifests.last
        val epoch = head.epoch
        val t0 = System.currentTimeMillis()
        val frontier = spark.read.schema(frontierSchema).parquet(dir(runDir, epoch, "frontier"))
        // compaction base: first epoch of the current delta run (deltas
        // base..k union to the full seen set; their filters form the vector)
        val seen = readSeen(spark, runDir, head.seenBase, epoch)
        val domainState: Option[DataFrame] =
          if (cfg.dynamicPoliteness)
            readIfPresent(spark, runDir, epoch, "domain_state", domainStateSchema)
          else None
        val queued = frontier.where(col("status") === CrawlStatus.Queued)
        // counted only for a bootstrap manifest without frontier_queued
        val queuedCount = head.frontierQueued.getOrElse(queued.count())

        // such a manifest over no queued row ends the loop once its count is known
        if (queuedCount == 0) manifests = manifests.init :+ head.copy(frontierQueued = Some(0L))
        else {
          // every snapshot table this epoch writes: one file per RowsPerFile
          // queued rows
          val parts = snapshotParts(queuedCount, maxParts)
          // every future the epoch launches and every frame and broadcast it
          // holds (one of each per epoch would otherwise accumulate for the
          // crawl's lifetime). On success all futures but the seen filter's
          // are joined before the commit, and the scope closes when the
          // filter build ends. On a failure the scope closes before the first
          // error propagates: no sibling write runs on into the dirs a resumed
          // run rewrites.
          val scope = new Scope
          try {
            // ---- admission: politeness budget + fairness aging + strategy order
            val epochCol = param(epoch)
            val nextEpochCol = param(epoch + 1)
            val aged = queued.withColumn("wait", epochCol - col("enqueue_epoch"))
              .withColumn("priority",
                when(col("wait") > FairnessEpochs, -col("wait").cast("double"))
                  .otherwise(col("retry_count").cast("double")))
            val ord = strategyOrder(cfg.strategy)
            // partitioned by hand: AQE may merge the partitions of an
            // exchange it plans itself, and every table this epoch writes
            // takes its file count from the partitions of what it reads
            val ranked = aged.repartition(maxParts, col("host")).withColumn("host_rank",
              row_number().over(Window.partitionBy("host").orderBy(ord: _*)))
            // effective budget: static cap, tightened per host by evolved
            // politeness state (throttled hosts shrink, aborted hosts go to 0)
            val withBudget = domainState match {
              case Some(st) =>
                val perHost = graft.politeness.DomainState
                  .hostBudget(st, cfg.epochSeconds)
                  .withColumnRenamed("budget", "state_budget")
                ranked.join(broadcast(perHost), Seq("host"), "left")
                  .withColumn("eff_budget",
                    least(lit(cfg.hostBudget), coalesce(col("state_budget"), lit(cfg.hostBudget))))
                  .drop("state_budget")
              case None => ranked.withColumn("eff_budget", lit(cfg.hostBudget))
            }
            // ---- robots gate: tiny dimension → broadcast join, fail-open; the
            // crawler is robots.txt's `*` agent (canFetch's default). Only an
            // in-budget row is checked; the rest pass and are deferred.
            // Evaluated once: both the admitted and the deferred rows are
            // filters over it
            val inBudgetCol = col("host_rank") <= col("eff_budget")
            val budgetedOnce = scope.once(withBudget
              .join(broadcast(robots.select(col("host"), col("rules"))), Seq("host"), "left")
              .withColumn("robots_ok",
                !inBudgetCol || coalesce(canFetchU(col("rules"), col("url")), lit(true)))
              .drop("rules"))
            val budgeted = budgetedOnce.frame
            val rankCols = Seq("host_rank", "wait", "eff_budget")
            val inBudget = budgeted.where(inBudgetCol).drop(rankCols: _*)
            // global capacity cut ONLY when `maxPages` binds this epoch: with the
            // default (uncapped) config every epoch must stay a partitioned plan —
            // no global TakeOrdered over the admitted set. A remaining capacity
            // ≥ Int.MaxValue (always so when `maxPages` is unset) cannot bind (no
            // epoch admits that many rows through per-host budgets), so it is
            // skipped, never silently clamped.
            val capacity = cfg.maxPages - total(_.fetched)
            val capped = capacity < Int.MaxValue
            val cappedOnce =
              Option.when(capped)(scope.once(inBudget.orderBy(ord: _*).limit(capacity.toInt)))
            val admitted = cappedOnce.fold(inBudget)(_.frame)

            // deferred = everything queued but not admitted. Uncapped, that is the
            // over-budget side of the window; a binding cap also cuts in-budget
            // rows, which only the anti-join against the admitted set recovers
            // (neither kind may be lost)
            val deferred =
              if (capped) budgeted.drop(rankCols :+ "robots_ok": _*)
                .join(admitted.select("url_hash"), Seq("url_hash"), "left_anti")
              else budgeted.where(!inBudgetCol).drop(rankCols :+ "robots_ok": _*)

            // ---- the visits write launches as soon as the gate is planned: its
            // future evaluates the admission window, the robots broadcast and
            // the gate while this thread plans the scrape, and counts the
            // robots-blocked rows there. Visits carry the full sort key
            // (priority, score, depth, path) but NO materialized rank: visit
            // order is fully determined by the key, so `Crawl.visits` derives
            // ranks at read time — the epoch loop never runs a partitionless
            // global-order window.
            val fVisits = scope.launch {
              val blocked = cappedOnce match {
                case Some(once) =>
                  val ok = admitted.schema.fieldIndex("robots_ok")
                  countRows(once)(!_.getBoolean(ok))
                case None =>
                  val Seq(rank, budget, ok) =
                    Seq("host_rank", "eff_budget", "robots_ok").map(budgeted.schema.fieldIndex)
                  countRows(budgetedOnce)(r => r.getInt(rank) <= r.getInt(budget) && !r.getBoolean(ok))
              }
              writeSnapshot(admitted.where(col("robots_ok"))
                .select(col("url"), col("depth"), col("score"), col("priority"),
                  col("path"), epochCol.as("epoch")),
                parts, dir(runDir, epoch, "visits"))
              blocked
            }
            val allowed = admitted.where(col("robots_ok")).drop("robots_ok")

            // ---- fetch: salted repartition defuses hot-host skew BEFORE the
            // (CPU-heavy) scrape map; the join key stays url_hash so the page
            // store join itself is a plain shuffled hash join.
            val salted = allowed.repartition(
              maxParts, col("host"), pmod(col("url_hash"), lit(SaltBuckets)))
            val fetched = salted.join(
              pages.select(col("url_hash"), col("html"), col("status_code")),
              Seq("url_hash"), "left")

            val scrapedOnce = scope.once(fetched
              .select("url_hash", "url", "host", "depth", "score", "path", "html", "status_code")
              .as(scrapeInEnc)
              .map(scrapeRow)(scrapeOutEnc)
              .toDF("url_hash", "url", "host", "depth", "score", "path",
                "fetch_ok", "status_code", "spans", "links", "title", "n_words"))
            val scraped = scrapedOnce.frame

            // ---- phase A: ALL consumers of the scraped rows — docs write,
            // politeness evolution, link enrichment — launch as CONCURRENT Spark
            // jobs, beside the visits write. The BlockManager's per-partition
            // block locks make the concurrent jobs co-materialize the rows
            // (different partitions in parallel, each computed exactly once);
            // they write disjoint outputs, so overlapping hides the fixed
            // per-job latency that dominates small epochs and costs nothing on
            // a real cluster (concurrent jobs share the scheduler).
            // The docs write's future takes the lineage as it evaluates the
            // scraped rows: each scrape partition's rows and words, fetched
            // and failed.
            val fDocs = scope.launch {
              val Seq(ok, words) = Seq("fetch_ok", "n_words").map(scraped.schema.fieldIndex)
              val lineage = scrapedOnce.evaluate((pid, rows) => Lineage.of(pid, rows, ok, words))._2
              writeSnapshot(scraped.where(col("fetch_ok"))
                .select(col("url").as("doc_id"), col("spans"), col("links"),
                  col("title"), col("n_words"), epochCol.as("epoch")),
                parts, dir(runDir, epoch, "docs"))
              lineage.flatten
            }
            // politeness state evolution (deterministic backoff per epoch)
            val fState = if (!cfg.dynamicPoliteness) Future.successful(()) else scope.launch {
              val st0 = domainState.getOrElse(noRows(spark, domainStateSchema))
              writeSnapshot(graft.politeness.DomainState
                .evolve(st0.select("host", "current_delay", "fail_count"),
                  scraped.select(col("host"), col("status_code"))),
                parts, dir(runDir, epoch + 1, "domain_state"))
            }

            // ---- link-head enrichment (config-gated; a phase-A consumer of the
            // scraped rows writing disjoint outputs). All joins inside
            // LinkPreview.enrich are url-keyed equi-joins; the head store
            // commit is O(delta) (only stale/missing rows rewrite).
            val fPreview = cfg.linkPreview match {
              case None => Future.successful(())
              case Some(lp0) => scope.launch {
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
                val store0 = readIfPresent(spark, runDir, epoch, "head_store", headStoreSchema)
                  .getOrElse(noRows(spark, headStoreSchema))
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
            val candidates = linkRows
              .where(validU(col("url")))
              .where(if (cfg.includeExternal) lit(true) else col("internal"))
              .where(col("depth") + 1 <= cfg.maxDepth)
              .withColumn("url_hash", xxhash64(col("url")))

            // dedup: incremental filter vector pre-filter + exact anti-join, then
            // first-wins per hash (no full-history filter rebuild — the vector
            // holds one delta-sized filter per epoch since the last compaction).
            // The candidates are evaluated now, as the probe's own rows: it
            // plans its seen semi-join by their size. The previous epoch's
            // filter, built after its commit, is awaited here. The filter
            // vector's broadcast lives until the filter build ends: its tasks
            // serialize the probe's plan.
            val (evaluated, _) = scope.once(candidates).evaluate((_, _) => ())
            val filterVector = Await.result(filters, Duration.Inf)
            val (fresh, filterBc) =
              SeenFilters.antiJoinTracked(spark, evaluated, seen, "url_hash", filterVector)
            scope.onClose(filterBc.destroy())
            // partitioned by hand, as the admission window is, so that the new
            // entries keep the shuffle partitions a snapshot file count needs
            val firstWins = fresh.repartition(maxParts, col("url_hash"))
              .withColumn("rk", row_number().over(
                Window.partitionBy("url_hash").orderBy(col("parent_path"), col("link_index"))))
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
            // evaluated once: read by the frontier write, the seen delta and
            // the delta filter
            val newOnce = scope.once(firstWins
              .withColumn("score", scoreCol)
              .where(col("score") >= cfg.scoreThreshold)
              .select(
                col("url_hash"), col("url"), hostU(col("url")).as("host"),
                (col("depth") + 1).as("depth"), col("score"),
                lit(0.0).as("priority"), col("parent"),
                concat(col("parent_path"), format_string("%04x", col("link_index"))).as("path"),
                nextEpochCol.as("enqueue_epoch"), lit(0).as("retry_count"),
                nextEpochCol.as("epoch"), lit(CrawlStatus.Queued).as("status")))
            val newEntries = newOnce.frame

            // ---- phase B: the frontier(t+1) write and the seen commit launch
            // CONCURRENTLY (with phase A still in flight). Both consume the same
            // evaluated newEntries; the BlockManager's per-partition block locks
            // serialize its computation, so the plan is computed once no matter
            // which job wins — no duplicated expansion work at any scale. The
            // seen commit's future counts the new entries as it evaluates them.
            // Reference adds to seen on DISCOVERY, bfs_strategy.py:153.
            val nextEpoch = epoch + 1
            val fFrontier = scope.launch {
              writeSnapshot(deferred
                .select(newEntries.columns.toSeq.map(col): _*)
                .withColumn("epoch", nextEpochCol)
                .unionByName(newEntries),
                parts, dir(runDir, nextEpoch, "frontier"))
            }
            // seen commit is a DELTA: only this epoch's first-seen hashes are
            // written (disjoint from history by construction — exact anti-join
            // upstream; bloom has no false negatives). O(delta) I/O per epoch.
            // Every seenCompactEvery epochs the delta run is compacted into one
            // full set + one right-sized bloom, bounding reader fan-in and the
            // bloom vector (the ONLY full-set pass, amortized 1/K per epoch).
            val compacting = nextEpoch - head.seenBase >= cfg.seenCompactEvery
            val fNew = scope.launch {
              val n = countRows(newOnce)(_ => true)
              val delta = newEntries.select("url_hash")
              val out = if (compacting) seen.unionByName(delta) else delta
              writeSnapshot(out, parts, dir(runDir, nextEpoch, "seen"))
              n
            }
            // the filter needs the exact delta count for sizing → chains on the
            // seen write that counts it (and, when compacting, re-reads it).
            // It is not part of the commit: the manifest below does not wait
            // for it, and a missing filter file is rebuilt on resume. The
            // epoch's scope closes when it ends
            val fFilter = scope.launch {
              val nNew = Await.result(fNew, Duration.Inf)
              val filter =
                if (compacting) store.over(spark,
                  spark.read.schema(seenSchema).parquet(dir(runDir, nextEpoch, "seen")),
                  head.seenTotal + nNew)
                else store.over(spark, newEntries.select("url_hash"), nNew)
              store.save(filter, store.path(runDir, nextEpoch))
              if (compacting) Vector(filter) else filterVector :+ filter
            }.andThen { case _ => scope.close() }

            // ---- join the snapshot jobs, then the atomic commit
            val lineageRows = Await.result(fDocs, Duration.Inf)
            val nNew = Await.result(fNew, Duration.Inf)
            val nBlocked = Await.result(fVisits, Duration.Inf)
            Await.result(fState, Duration.Inf)
            Await.result(fPreview, Duration.Inf)
            Await.result(fFrontier, Duration.Inf)
            val nFetched = lineageRows.filter(_.fetchOk).map(_.rows).sum
            val nFailed = lineageRows.filterNot(_.fetchOk).map(_.rows).sum
            // derived, no extra jobs: admitted = allowed + blocked; deferred =
            // queued − admitted; seen grows only by the (disjoint) new entries
            val deferredCount = queuedCount - (nFetched + nFailed + nBlocked)
            val m = EpochManifest(nextEpoch, cfg.strategy,
              seenBase = if (compacting) nextEpoch else head.seenBase,
              seenTotal = head.seenTotal + nNew, frontierQueued = Some(deferredCount + nNew),
              fetched = Some(nFetched), failed = Some(nFailed), skippedRobots = Some(nBlocked),
              newFrontier = Some(nNew), wallMs = Some(System.currentTimeMillis() - t0),
              partitions = Some(lineageRows))
            EpochManifest.commit(runDir, m)
            manifests :+= m
            filters = fFilter
          } catch { case e: Throwable => scope.close(); throw e }
        }
      }
    } finally Await.ready(filters, Duration.Inf)
    // a failed filter build of the last epoch fails the run
    Await.result(filters, Duration.Inf)
    CrawlSummary(manifests.last.epoch, total(_.fetched), total(_.failed), total(_.skippedRobots),
      manifests.last.seenTotal)
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
    * deletable). So expiry touches no filter: each still covers the keys it
    * covered, and the pre-filter keeps its one contract, no false negative
    * against the ledger.
    *
    * Only the two snapshot dirs of the new epoch are written before its
    * manifest commits; its (empty) filter file lands after the commit, as
    * `Crawl.run`'s do, so a failed expiry leaves no file that a later
    * commit of that epoch could load.
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
    val headQueued = readIfPresent(spark, runDir, last, "frontier", frontierSchema)
      .getOrElse(noRows(spark, frontierSchema))
      .where(col("status") === CrawlStatus.Queued)
      .withColumn("epoch", lit(nextEpoch))
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
    // strategy, seen_total and seen_base carry over from the head
    EpochManifest.commit(runDir, head.copy(epoch = nextEpoch, frontierQueued = Some(n),
      kind = Some("recrawl"), frontier = None, expiredEpoch = Some(expired),
      fetched = Some(0), failed = Some(0), skippedRobots = Some(0), newFrontier = Some(0),
      wallMs = None, partitions = None))
    val store = BloomStore.crawl
    store.save(store.empty(), store.path(runDir, nextEpoch))
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
      require(Files.isRegularFile(EpochManifest.path(runDir, asOf)),
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
