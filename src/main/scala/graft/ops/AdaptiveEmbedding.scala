package graft.ops

/** Embedding-based adaptive crawling — semantic-space coverage, the
  * re-expression of the reference EmbeddingStrategy
  * (/root/reference/crawl4ai/adaptive_crawler.py:593-1259):
  *
  *  - query semantic space: the query plus expansion variations, split into
  *    train/validation (val = max(2, 20%), :666-737). The reference generates
  *    variations with an LLM call (external service, out of scope like
  *    LLMContentFilter); callers supply them — [[expandQuery]] offers a
  *    deterministic token-recombination stand-in;
  *  - coverage gaps: per train-query min cosine distance to the knowledge
  *    base, 1.0 when the KB is empty (:774-803);
  *  - link selection: gap-reduction scoring — for every gap outside
  *    `coverageRadius` that the link's embedding would tighten, accumulate
  *    2×(gap − newDist), average over gaps needing help, then scale by
  *    (1 − overlapPenalty) where overlapPenalty = 2×(maxKbSim −
  *    `overlapThreshold`) when positive (:804-922);
  *  - confidence: mean over train queries of best cosine to the KB
  *    (:924-951);
  *  - validation: mean (1 − min distance) of held-out queries (:1055-1089);
  *  - stopping: irrelevant below `minConfidenceThreshold`; converged when the
  *    average |Δconfidence| over history < `minRelImprovement`×confidence AND
  *    validation > `validationMinScore` (:1091-1140);
  *  - KB update: near-duplicate embeddings (cosine ≥ `kbSimThreshold`) are
  *    never added (:1169-1230).
  *
  * All vectors come from the [[Embedder]] seam (deterministic hashed-BoW
  * stub by default; a real model drops in via `Config.embedder`); every
  * step is pure driver-side math over bounded per-epoch batches — the
  * per-epoch candidate scoring runs inside the crawl plan as a map over the
  * frontier when used at scale.
  */
object AdaptiveEmbedding {

  final case class Config(
      coverageRadius: Double = 0.2,
      overlapThreshold: Double = 0.85,
      minRelImprovement: Double = 0.1,
      validationMinScore: Double = 0.3,
      minConfidenceThreshold: Double = 0.1,
      kbSimThreshold: Double = 0.95,
      maxPages: Int = 20,
      /** The embedding kernel ([[Embedder]] seam); a real model drops in
        * here without touching the strategy. */
      embedder: Embedder = Embedder.default)

  final class State(
      val queryEmb: Vector[Array[Float]],
      val valEmb: Vector[Array[Float]],
      var kb: Vector[Array[Float]] = Vector.empty,
      var crawled: Set[String] = Set.empty,
      var crawlOrder: Vector[String] = Vector.empty,
      var confidenceHistory: Vector[Double] = Vector.empty,
      var stoppedReason: Option[String] = None)

  /** Deterministic stand-in for the reference's LLM query expansion: rotate
    * and subset the query tokens plus append context terms. */
  def expandQuery(query: String, contextTerms: Seq[String] = Nil, n: Int = 8): Seq[String] = {
    val toks = Embed.tokens(query)
    val rotations = toks.indices.map(i => (toks.drop(i) ++ toks.take(i)).mkString(" "))
    val subsets = toks.indices.map(i => toks.patch(i, Nil, 1).mkString(" ")).filter(_.nonEmpty)
    val ctx = contextTerms.map(t => (toks :+ t).mkString(" "))
    (rotations ++ subsets ++ ctx).distinct.filterNot(_ == query).take(n)
  }

  /** Train/validation split of the semantic space (query always trains;
    * val = max(2, 20% of variations) — deterministic tail split, the
    * reference shuffles first, a documented divergence for reproducibility). */
  def mapQuerySemanticSpace(query: String, variations: Seq[String],
                            embedder: Embedder = Embedder.default): State = {
    val nVal = math.max(2, (variations.length * 0.2).toInt)
    val (train, valQ) = variations.splitAt(math.max(variations.length - nVal, 0))
    new State(
      queryEmb = (query +: train).map(embedder.embed).toVector,
      valEmb = valQ.map(embedder.embed).toVector)
  }

  /** Per-query-point (embedding, min cosine distance to KB); 1.0 on empty KB. */
  def coverageGaps(kb: Vector[Array[Float]], queryEmb: Vector[Array[Float]])
      : Vector[(Array[Float], Double)] =
    queryEmb.map { q =>
      if (kb.isEmpty) (q, 1.0)
      else (q, kb.map(d => 1.0 - Embed.cosine(q, d)).min)
    }

  /** Per-candidate gap-reduction score — the scalar kernel shared by the
    * sequential [[selectLinks]] loop and the in-plan [[scoreLinksPlan]] form
    * (one spec, two execution shapes; OpsSpec asserts their equality). */
  def scoreCandidate(text: String, gaps: Vector[(Array[Float], Double)],
                     kb: Vector[Array[Float]], cfg: Config): Double = {
    val e = cfg.embedder.embed(text)
    if (gaps.isEmpty) 0.0
    else {
      val needingHelp = gaps.count(_._2 > cfg.coverageRadius)
      var total = 0.0
      gaps.foreach { case (g, gd) =>
        if (gd > cfg.coverageRadius) {
          val nd = 1.0 - Embed.cosine(e, g)
          if (nd < gd) total += (gd - nd) * 2
        }
      }
      val gapReduction = if (needingHelp > 0) total / needingHelp else 0.0
      val overlapPenalty =
        if (kb.nonEmpty) {
          val maxSim = kb.map(Embed.cosine(_, e)).max
          if (maxSim > cfg.overlapThreshold) (maxSim - cfg.overlapThreshold) * 2 else 0.0
        } else 0.0
      gapReduction * (1 - overlapPenalty)
    }
  }

  /** Gap-reduction link scoring, sorted score-desc (stable for ties). */
  def selectLinks(candidates: Seq[(String, String)], gaps: Vector[(Array[Float], Double)],
                  kb: Vector[Array[Float]], cfg: Config): Seq[(String, Double)] =
    candidates.flatMap { case (href, text) =>
      if (text.trim.isEmpty) None
      else Some((href, scoreCandidate(text, gaps, kb, cfg)))
    }.sortBy { case (h, s) => (-s, h) }

  /** The IN-PLAN form of [[selectLinks]]: score an exploded-frontier
    * candidates DataFrame inside one Spark stage — gaps + KB ride to
    * executors as a single broadcast (bounded: |queryEmb| + |kb| vectors),
    * the kernel is the same [[scoreCandidate]] scalar, empty-anchor rows are
    * dropped exactly like the loop. This is how `digest` runs epoch-batched
    * through `Crawl.run`: pass the closure as `CrawlConfig.linkScorer` (the
    * engine then orders admission by this score under best_first), run ONE
    * epoch per digest iteration via resume (maxEpochs = current + 1), update
    * the KB from that epoch's docs, and repeat with a fresh broadcast —
    * per-epoch state, per-epoch plan, no sequential per-link driver loop.
    */
  def scoreLinksPlan(links: org.apache.spark.sql.DataFrame, hrefCol: String,
                     textCol: String, gaps: Vector[(Array[Float], Double)],
                     kb: Vector[Array[Float]], cfg: Config): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val bc = links.sparkSession.sparkContext.broadcast((gaps, kb, cfg))
    val scoreU = udf { (text: String) =>
      if (text == null || text.trim.isEmpty) null.asInstanceOf[java.lang.Double]
      else {
        val (g, k, c) = bc.value
        java.lang.Double.valueOf(scoreCandidate(text, g, k, c))
      }
    }
    links.withColumn("gap_score", scoreU(col(textCol)))
      .where(col("gap_score").isNotNull)
      .select(col(hrefCol).as("href"), col("gap_score"))
  }

  /** [[scoreCandidate]] as a crawl-loop hook: returns the (url, anchorText)
    * ⇒ score closure `CrawlConfig.linkScorer` expects, capturing the current
    * gaps/KB snapshot. Empty/whitespace anchors score −∞ — the hook cannot
    * drop rows, so pair it with any finite `CrawlConfig.scoreThreshold`
    * (e.g. 0.0) to reproduce [[selectLinks]]/[[scoreLinksPlan]]'s
    * empty-anchor drop exactly; with the default −∞ threshold they are
    * enqueued last instead of dropped. */
  def linkScorerFor(gaps: Vector[(Array[Float], Double)],
                    kb: Vector[Array[Float]], cfg: Config): (String, String) => Double =
    (_, text) =>
      if (text == null || text.trim.isEmpty) Double.NegativeInfinity
      else scoreCandidate(text, gaps, kb, cfg)

  /** Learning score: mean best cosine per train query (0 on empty KB). */
  def confidence(state: State): Double =
    if (state.kb.isEmpty || state.queryEmb.isEmpty) 0.0
    else state.queryEmb.map(q => state.kb.map(Embed.cosine(q, _)).max).sum / state.queryEmb.length

  /** Held-out validation: mean (1 − min distance) over validation queries. */
  def validateCoverage(state: State): Double =
    if (state.valEmb.isEmpty || state.kb.isEmpty) 0.0
    else state.valEmb.map { v =>
      1.0 - state.kb.map(d => 1.0 - Embed.cosine(v, d)).min
    }.sum / state.valEmb.length

  /** Stopping decision; records the reason on the state. */
  def shouldStop(state: State, pendingLinks: Int, cfg: Config): Boolean = {
    val conf = state.confidenceHistory.lastOption.getOrElse(0.0)
    if (conf < cfg.minConfidenceThreshold && state.crawled.nonEmpty) {
      state.stoppedReason = Some("below_minimum_relevance_threshold"); return true
    }
    if (state.crawled.size >= cfg.maxPages) { state.stoppedReason = Some("max_pages"); return true }
    if (pendingLinks == 0) { state.stoppedReason = Some("exhausted"); return true }
    if (state.confidenceHistory.length < 2) return false
    val h = state.confidenceHistory
    val diffs = h.zip(h.tail).map { case (a, b) => math.abs(b - a) }
    val avgImprovement = diffs.sum / diffs.length
    if (avgImprovement < cfg.minRelImprovement * conf) {
      val valScore = validateCoverage(state)
      if (valScore > cfg.validationMinScore) {
        state.stoppedReason = Some("converged_validated"); true
      } else false // low validation: keep crawling despite convergence
    } else false
  }

  /** One fetched page for [[digest]]: extracted text + outlinks with anchor
    * text (what the link embedding scores against). */
  final case class PageData(text: String, links: Seq[(String, String)])

  /** `AdaptiveCrawler.digest` parity (adaptive_crawler.py:1266-1412): start
    * from a URL, rank pending links by gap reduction, crawl the top batch
    * through `fetch`, update the KB, repeat until [[shouldStop]]. Sequential
    * driver loop like the reference; at corpus scale the same per-epoch
    * steps run through `Crawl.run` with rank-ordered admission.
    */
  def digest(startUrl: String, query: String,
             fetch: String => Option[PageData],
             variations: Seq[String] = Nil,
             cfg: Config = Config(),
             batchSize: Int = 3, maxIters: Int = 100): State = {
    val vars = if (variations.nonEmpty) variations else expandQuery(query)
    val state = mapQuerySemanticSpace(query, vars, cfg.embedder)
    var pending = Map(startUrl -> startUrl) // url → anchor/context text
    var iters = 0
    var stopped = false
    while (!stopped && iters < maxIters && pending.nonEmpty) {
      val gaps = coverageGaps(state.kb, state.queryEmb)
      val ranked = selectLinks(pending.toSeq.sortBy(_._1), gaps, state.kb, cfg)
      val batch =
        (if (ranked.isEmpty || ranked.forall(_._2 == 0.0)) pending.keys.toSeq.sorted
         else ranked.map(_._1)).take(batchSize)
      val docs = batch.flatMap(u => fetch(u).map(u -> _))
      updateState(state, docs.map { case (u, p) => (u, p.text) }, cfg)
      state.crawled ++= batch // un-fetchable URLs must not re-enter the queue
      pending = (pending -- batch) ++
        docs.flatMap(_._2.links).filterNot { case (u, _) => state.crawled(u) }
      state.confidenceHistory :+= confidence(state)
      stopped = shouldStop(state, pending.size, cfg)
      iters += 1
    }
    if (!stopped && state.stoppedReason.isEmpty)
      state.stoppedReason = Some(if (pending.isEmpty) "exhausted" else "max_iters")
    state
  }

  /** Add new documents to the KB, skipping near-duplicates (max cosine to the
    * existing KB ≥ kbSimThreshold). Returns the number actually added. */
  def updateState(state: State, newDocs: Seq[(String, String)], cfg: Config): Int = {
    var added = 0
    newDocs.foreach { case (url, text) =>
      if (text.nonEmpty) {
        val e = cfg.embedder.embed(text.take(5000))
        val dup = state.kb.nonEmpty && state.kb.map(Embed.cosine(_, e)).max >= cfg.kbSimThreshold
        if (!dup) {
          state.kb = state.kb :+ e
          state.crawlOrder = state.crawlOrder :+ url
          added += 1
        }
      }
      state.crawled += url
    }
    added
  }
}
