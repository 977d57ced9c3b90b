package graft.oracle

import graft.core.{Synth, Urls}
import graft.frontier.{Crawl, CrawlConfig}
import graft.politeness.Robots
import graft.scrape.Scrape

/** Single-threaded SEQUENTIAL oracles for the driver-checkable fixtures:
  * independent re-implementations of the engine's specs as plain loops (no
  * Spark), used by Verify to write expected-result parquet that the driver's
  * DuckDB compare reads back (FIXTURES.md). CrawlSpec uses the same crawler
  * oracle for its in-suite order-equality tests — one spec, two consumers.
  */
object SeqOracle {

  final case class EpochStats(
      epoch: Int, fetched: Long, failed: Long, skippedRobots: Long,
      newFrontier: Long, seenTotal: Long)

  final case class CrawlTrace(
      visits: Seq[(Int, Int, String, Int)], // (epoch, visit_rank, url, depth)
      crawledDocs: Seq[String],             // fetch-ok page urls, visit order
      seen: Set[String],
      stats: Seq[EpochStats],
      enqueued: Seq[(String, String, Int, Int)]) // (url, host, depth, enqueue_epoch)

  private final case class OEntry(url: String, host: String, depth: Int,
      score: Double, parent: String, path: String, enqueueEpoch: Int, retry: Int)

  /** The engine's deterministic ordering/admission spec as a sequential
    * crawler (SURVEY.md §5.3): admission sort per strategy → per-host budget
    * → global capacity → robots gate → expansion with first-wins dedup →
    * score threshold. Mirrors `Crawl.run` epoch for epoch, including the
    * per-epoch manifest counters.
    */
  def crawl(site: Synth.SiteCfg, cfg: CrawlConfig): CrawlTrace = {
    val allPages = (0L until Synth.pageCount(site)).map(Synth.pageAt(site, _))
    val pageMap = allPages.map(p => p.url -> p).toMap
    val robotsMap = Synth.robots(site).map(r => r.host -> r.rules).toMap

    val canonSeeds = Synth.seeds(site)
      .map(s => (Urls.canonicalizeDeep(s.url, ""), if (s.source == "sitemap") 0 else 1))
      .filter { case (u, _) => u != null && Urls.isValidCrawlUrl(u) && !Urls.isNonsense(u) }
    val firstWins = canonSeeds.groupBy(_._1).toSeq
      .map { case (u, vs) => (u, vs.map(_._2).min) }
      .sortBy(_._1)
    var frontier = firstWins.zipWithIndex.map { case ((u, _), i) =>
      OEntry(u, Urls.host(u), 0, 0.5, "", f"$i%04x", 0, 0)
    }
    var seen = frontier.map(_.url).toSet
    val enqueued = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, Int)]
    frontier.foreach(e => enqueued += ((e.url, e.host, e.depth, 0)))
    val visits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, Int)]
    val crawledDocs = scala.collection.mutable.ArrayBuffer.empty[String]
    val stats = scala.collection.mutable.ArrayBuffer.empty[EpochStats]
    var epoch = 0
    var fetchedTotal = 0L
    var doneFlag = false
    while (!doneFlag && epoch < cfg.maxEpochs && frontier.nonEmpty &&
           fetchedTotal < cfg.maxPages) {
      val withPrio = frontier.map { e =>
        val wait = epoch - e.enqueueEpoch
        val prio = if (wait > Crawl.FairnessEpochs) -wait.toDouble else e.retry.toDouble
        (e, prio)
      }
      val ordered = cfg.strategy match {
        case "dfs" => withPrio.sortBy { case (e, p) => (p, e.path) }
        case "best_first" => withPrio.sortBy { case (e, p) => (p, -e.score, e.depth, e.path) }
        case _ => withPrio.sortBy { case (e, p) => (p, e.depth, e.path) }
      }
      val hostCount = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val (admitted0, deferred) = ordered.partition { case (e, _) =>
        val ok = hostCount(e.host) < cfg.hostBudget
        if (ok) hostCount(e.host) += 1
        ok
      }
      val capacity = cfg.maxPages - fetchedTotal
      val admitted = admitted0.take(math.min(capacity, Int.MaxValue.toLong).toInt)
      val spill = admitted0.drop(admitted.size)
      val allowed = admitted.map(_._1).filter(e =>
        Robots.canFetch(robotsMap.getOrElse(e.host, null), e.url))
      val skippedRobots = admitted.size - allowed.size
      allowed.zipWithIndex.foreach { case (e, i) =>
        visits += ((epoch, i + 1, e.url, e.depth))
      }
      val fetchOk = allowed.filter(e => pageMap.contains(e.url))
      fetchOk.foreach(e => crawledDocs += e.url)
      val nFailed = allowed.size - fetchOk.size
      fetchedTotal += fetchOk.size

      val newEntries = scala.collection.mutable.LinkedHashMap.empty[String, OEntry]
      for (e <- allowed; page <- pageMap.get(e.url)) {
        val doc = Scrape.scrape(e.url, page.html)
        for (l <- doc.links if l.internal || cfg.includeExternal) {
          val u = l.href
          if (u != null && Urls.isValidCrawlUrl(u) && !Urls.isNonsense(u) &&
              e.depth + 1 <= cfg.maxDepth && !seen.contains(u)) {
            val score =
              if (cfg.keywords.isEmpty) 0.5
              else cfg.keywords.count(k => u.toLowerCase.contains(k.toLowerCase))
                .toDouble / cfg.keywords.size
            val cand = OEntry(u, Urls.host(u), e.depth + 1, score, e.url,
              e.path + f"${l.linkIndex}%04x", epoch + 1, 0)
            // first-wins tiebreak must mirror the engine's
            // Window.orderBy(parent_path, link_index) TUPLE order — plain
            // concatenated-path comparison diverges when one parent path is
            // a prefix of the other (different depths in one epoch)
            def keyOf(x: OEntry) = (x.path.dropRight(4), x.path.takeRight(4))
            val better = newEntries.get(u).forall { x =>
              implicitly[Ordering[(String, String)]].lt(keyOf(cand), keyOf(x))
            }
            if (better) newEntries(u) = cand
          }
        }
      }
      val news = newEntries.values.toSeq.filter(_.score >= cfg.scoreThreshold)
      news.foreach(e => enqueued += ((e.url, e.host, e.depth, e.enqueueEpoch)))
      seen ++= news.map(_.url)
      stats += EpochStats(epoch + 1, fetchOk.size.toLong, nFailed.toLong,
        skippedRobots.toLong, news.size.toLong, seen.size.toLong)
      frontier = (deferred ++ spill).map(_._1) ++ news
      if (news.isEmpty && deferred.isEmpty && spill.isEmpty) doneFlag = true
      epoch += 1
    }
    CrawlTrace(visits.toSeq, crawledDocs.toSeq, seen, stats.toSeq, enqueued.toSeq)
  }

  // ---- sequential twins of the bucketed dedup/ANN plans ---------------------

  /** MinHash+LSH candidate pairs: band-slice equality instead of the engine's
    * band-hash equi-join (identical result modulo 64-bit hash collisions). */
  def minHashLsh(docs: Seq[(Long, String)], k: Int, bands: Int, shingleLen: Int,
                 minEstJaccard: Double): Seq[(Long, Long, Double)] = {
    val rpb = k / bands
    val sigs = docs.map { case (id, t) =>
      (id, graft.ops.Dedup.minHashSignatureFast(t, k, shingleLen)) }
    val out = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), Double]
    for (b <- 0 until bands) {
      val buckets = sigs.groupBy(_._2.slice(b * rpb, (b + 1) * rpb).toSeq)
      buckets.values.foreach { members =>
        for (i <- members.indices; j <- i + 1 until members.length) {
          val (idA, sigA) = members(i); val (idB, sigB) = members(j)
          val (a, b2) = if (idA < idB) (idA, idB) else (idB, idA)
          if (!out.contains((a, b2))) {
            val eq = sigA.zip(sigB).count { case (x, y) => x == y }
            out((a, b2)) = eq.toDouble / k.toDouble
          }
        }
      }
    }
    out.toSeq.collect { case ((a, b2), est) if est >= minEstJaccard => (a, b2, est) }
  }

  // (the former simHashPairs twin — a shared-kernel fixture that reused
  // Dedup.simHashFast with the old 4×16 band blocking — was superseded in
  // round 5 by the TRUE SQL oracle, which re-derives fingerprints from the
  // exported token→xxh64 tabulation with no engine kernel at all and
  // brute-forces the pair set; OpsSpec keeps its own brute-force
  // blocking-completeness pin over the compiled kernel)

  /** Bit-exact twin of Similarity.dot/cosine Column arithmetic: FLOAT
    * products accumulated into a double in index order. */
  def cosineF(a: Seq[Float], b: Seq[Float]): Double = {
    def dot(x: Seq[Float], y: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(x.length, y.length)) { acc += (x(i) * y(i)).toDouble; i += 1 }
      acc
    }
    val d = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (d == 0.0) 0.0 else dot(a, b) / d
  }

  /** Twin of Similarity.signBucket (xxhash64(plane, dim) sign components —
    * Spark hashes INT sequence elements through the 4-byte path). */
  def signBucket(v: Seq[Float], planes: Int, planeOffset: Int = 0): Long = {
    var bucket = 0L
    var p = planeOffset
    while (p < planeOffset + planes) {
      val seed = graft.core.Xxh64.hashInt(p, 42L)
      var proj = 0.0
      var j = 0
      while (j < v.length) {
        val comp = if ((graft.core.Xxh64.hashInt(j, seed) & 1L) == 1L) 1.0 else -1.0
        proj += v(j) * comp
        j += 1
      }
      if (proj > 0) bucket |= (1L << (p - planeOffset))
      p += 1
    }
    bucket
  }

  /** Twin of Dedup.embeddingNearDup (single-band default form). */
  def embeddingNearDup(vecs: Seq[(Long, Seq[Float])], planes: Int,
                       minCosine: Double): Seq[(Long, Long, Double)] = {
    val bucketed = vecs.map { case (id, v) => (id, v, signBucket(v, planes)) }
    val out = Seq.newBuilder[(Long, Long, Double)]
    bucketed.groupBy(_._3).values.foreach { members =>
      for (i <- members.indices; j <- i + 1 until members.length) {
        val (idA, vA, _) = members(i); val (idB, vB, _) = members(j)
        val (a, va, b2, vb) = if (idA < idB) (idA, vA, idB, vB) else (idB, vB, idA, vA)
        val cos = cosineF(va, vb)
        if (cos >= minCosine) out += ((a, b2, cos))
      }
    }
    out.result()
  }

  /** Independent sequential twin of the CosineStrategy extraction pipeline
    * under the Md5Bow embedder (q_cosine_extract): own md5 hashed-BoW
    * embedding straight off JDK MessageDigest (no repo hash/embed kernel),
    * own pre-filter, own Lance-Williams ward agglomeration, own labeling
    * and tag selection. Numeric conventions mirror the engine contract
    * (Float-normalized vectors, Double accumulation in index order) so
    * threshold comparisons agree exactly.
    *
    * @return (cluster_index, tags joined by ',', content) per kept cluster
    */
  def cosineExtract(sections: Seq[String], query: String,
                    wordCountThreshold: Int, maxDist: Double,
                    simThreshold: Double = 0.3, topK: Int = 3,
                    dim: Int = 64): Seq[(Int, String, String)] = {
    def toks(t: String): Seq[String] =
      t.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty).toSeq
    def embed(t: String): Array[Float] = {
      val v = new Array[Float](dim)
      val md = java.security.MessageDigest.getInstance("MD5")
      toks(t).foreach { w =>
        val h = md.digest(w.getBytes("UTF-8"))
        md.reset()
        val c0 = (h(0) >> 4) & 0xf; val c1 = h(0) & 0xf; val c2 = (h(1) >> 4) & 0xf
        v((c0 * 16 + c1) % dim) += (if (c2 < 8) 1f else -1f)
      }
      var ss = 0.0; var i = 0
      while (i < dim) { ss += v(i).toDouble * v(i); i += 1 }
      if (ss > 0) { val n = math.sqrt(ss); i = 0; while (i < dim) { v(i) = (v(i) / n).toFloat; i += 1 } }
      v
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i).toDouble * b(i); i += 1 }
      d
    }
    // semantic pre-filter: threshold pass in order, backfill best-remaining
    // (stable by similarity desc), cap at atLeastK
    val atLeastK = if (sections.length < 20) sections.length / 2 else 20
    val qv = embed(query)
    val sims = sections.map(s => (s, cos(qv, embed(s))))
    val kept = sims.filter(_._2 >= simThreshold)
    val chunks = (if (kept.length < atLeastK)
        kept ++ sims.filter(_._2 < simThreshold).sortBy(-_._2).take(atLeastK - kept.length)
      else kept).map(_._1).take(atLeastK)
    if (chunks.isEmpty) return Nil
    val n = chunks.length
    val embs = chunks.map(embed)
    // ward agglomeration over cosine distances, cut at maxDist; merge keeps
    // the smaller slot, ties resolved by ascending-index scan order
    val d = Array.tabulate(n, n)((i, j) => if (i == j) 0.0 else 1.0 - cos(embs(i), embs(j)))
    val alive = Array.fill(n)(true)
    val size = Array.fill(n)(1)
    val members = Array.tabulate(n)(i => List(i))
    var merging = n > 1
    while (merging) {
      var bi = -1; var bj = -1; var best = Double.MaxValue
      for (i <- 0 until n if alive(i); j <- i + 1 until n if alive(j))
        if (d(i)(j) < best) { best = d(i)(j); bi = i; bj = j }
      if (bi < 0 || best > maxDist) merging = false
      else {
        val ni = size(bi).toDouble; val nj = size(bj).toDouble
        for (k <- 0 until n if alive(k) && k != bi && k != bj) {
          val nk = size(k).toDouble
          val nd = math.sqrt(((ni + nk) * d(bi)(k) * d(bi)(k)
            + (nj + nk) * d(bj)(k) * d(bj)(k)
            - nk * d(bi)(bj) * d(bi)(bj)) / (ni + nj + nk))
          d(bi)(k) = nd; d(k)(bi) = nd
        }
        size(bi) += size(bj)
        members(bi) = members(bi) ++ members(bj)
        alive(bj) = false
        merging = (0 until n).count(alive) > 1
      }
    }
    val labels = new Array[Int](n)
    (0 until n).filter(alive).map(members).sortBy(_.min).zipWithIndex
      .foreach { case (ms, l) => ms.foreach(labels(_) = l + 1) }
    val grouped = scala.collection.mutable.LinkedHashMap.empty[Int, Vector[String]]
    chunks.zip(labels).foreach { case (c, l) =>
      grouped(l) = grouped.getOrElse(l, Vector.empty) :+ c
    }
    val stop = Set("the", "a", "and", "of", "to", "in", "is", "it", "that",
      "was", "for", "on", "with", "as", "at", "by", "an", "be", "this",
      "are", "or", "from")
    grouped.toSeq
      .map { case (l, texts) => (l, texts.mkString(" ")) }
      .filter { case (_, c) => c.split("\\s+").count(_.nonEmpty) >= wordCountThreshold }
      .sortBy(_._1)
      .map { case (l, content) =>
        val tags = toks(content).filterNot(stop)
          .groupBy(identity).view.mapValues(_.size).toSeq
          .sortBy { case (t, c) => (-c, t) }.take(topK).map(_._1)
        (l, tags.mkString(","), content)
      }
  }

  /** Twin of Similarity.lshTopK: probe the query bucket + 1-bit flips. */
  def lshTopK(vecs: Seq[(Long, Seq[Float])], query: Seq[Float], k: Int,
              planes: Int): Seq[(Long, Double)] = {
    val qb = signBucket(query, planes)
    val probes = (0 until planes).map(p => qb ^ (1L << p)).toSet + qb
    vecs.filter { case (_, v) => probes.contains(signBucket(v, planes)) }
      .map { case (id, v) => (id, cosineF(v, query)) }
      .sortBy { case (id, sim) => (-sim, id) }
      .take(k)
  }

  /** Sequential twin of Similarity.trainIvf + ivfTopKTrained: Lloyd's with
    * first-C-vectors-by-id init, deterministic hash-sample (floorMod of
    * xxh64(id, seed 42) — Spark's `pmod(xxhash64(id), mod) === 0`),
    * first-min argmin assignment, per-cell mean update with empty cells
    * keeping their centroid; then probe the query's nProbe nearest trained
    * cells and exact-cosine top-k. Float→double promotion and accumulation
    * orders mirror the Column expressions ([[cosineF]] pattern); the one
    * order-sensitive float sum (the per-cell mean) runs in id order here vs
    * Spark's partition order — last-ulp noise that cannot flip an argmin on
    * this data (asserted stable by the driver compare itself).
    */
  private def distSq(v: Seq[Float], c: Seq[Double]): Double = {
    var acc = 0.0; var j = 0
    val n = math.min(v.length, c.length)
    while (j < n) { val d = v(j).toDouble - c(j); acc += d * d; j += 1 }
    acc
  }

  private def argmin(v: Seq[Float], cs: Seq[Seq[Double]]): Int = {
    var best = Double.MaxValue; var bi = 0; var i = 0
    while (i < cs.length) {
      val d = distSq(v, cs(i))
      if (d < best) { best = d; bi = i }
      i += 1
    }
    bi
  }

  /** The ONE sequential twin of Similarity.trainIvf's Lloyd's protocol —
    * first-C-vectors-by-id init, deterministic xxh64 hash-sample, first-min
    * argmin assignment, per-cell QUANTIZED-LONG mean update (`(x·2⁴⁰)
    * .toLong` truncation toward zero, so the distributed trainer is
    * bit-identical under any merge order AND to this twin), empty cells
    * keeping their centroid. Shared by [[ivfTrainedTopK]] and [[semDedup]]
    * so a protocol change (sample seed, empty-cell rule, init order,
    * quantization) cannot desynchronize one oracle from the other.
    */
  private def trainCentroids(vecs: Seq[(Long, Seq[Float])], cells: Int,
                             iters: Int, trainFraction: Double): Seq[Seq[Double]] = {
    val Q = (1L << 40).toDouble
    val mod = math.max(1L, (1.0 / trainFraction).toLong)
    val sample =
      if (trainFraction >= 1.0) vecs
      else vecs.filter { case (id, _) =>
        Math.floorMod(graft.core.Xxh64.hashLong(id, 42L), mod) == 0L }
    var centroids: Seq[Seq[Double]] =
      sample.sortBy(_._1).take(cells).map(_._2.map(_.toDouble).toIndexedSeq)
    var it = 0
    while (it < iters) {
      val byCell = sample.groupBy { case (_, v) => argmin(v, centroids) }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        byCell.get(c) match {
          case Some(ms) =>
            val dim = old.length
            val sums = new Array[Long](dim)
            ms.foreach { case (_, v) =>
              var j = 0
              while (j < dim) { sums(j) += (v(j).toDouble * Q).toLong; j += 1 } }
            sums.map(s => (s.toDouble / ms.length) / Q).toIndexedSeq
          case None => old
        }
      }
      it += 1
    }
    centroids
  }

  def ivfTrainedTopK(vecs: Seq[(Long, Seq[Float])], query: Seq[Float], k: Int,
                     cells: Int, iters: Int, trainFraction: Double,
                     nProbe: Int): Seq[(Long, Double)] = {
    val centroids = trainCentroids(vecs, cells, iters, trainFraction)
    val qCells = centroids.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(query).map { case (m, x) => (x - m) * (x - m) }.sum
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2).toSet
    vecs.filter { case (_, v) => qCells.contains(argmin(v, centroids)) }
      .map { case (id, v) => (id, cosineF(v, query)) }
      .sortBy { case (id, sim) => (-sim, id) }
      .take(k)
  }

  /** Double-vector PQ core shared by [[pqTopK]] and [[ivfPqTopK]]: trains
    * the per-subspace codebooks with the distributed trainer's exact
    * protocol — first-k by-id init slices, xxh64 hash-sample, first-min
    * argmin per subspace, QUANTIZED-LONG sums (`(x·2^40).toLong`, truncation
    * toward zero) so the centroid means are bit-identical under any
    * partition/merge order, empty codes keep their centroid. */
  private def pqTrainD(vecs: Seq[(Long, Array[Double])], m: Int, cbk: Int,
                       iters: Int, trainFraction: Double)
      : (Array[Array[Array[Double]]], Array[Double] => Array[Int]) = {
    val Q = 1L << 40
    val mod = math.max(1L, (1.0 / trainFraction).toLong)
    val sample =
      if (trainFraction >= 1.0) vecs
      else vecs.filter { case (id, _) =>
        Math.floorMod(graft.core.Xxh64.hashLong(id, 42L), mod) == 0L }
    val dim = vecs.head._2.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val init = sample.sortBy(_._1).take(cbk).map(_._2)
    var cent: Array[Array[Array[Double]]] = Array.tabulate(m, cbk)((s, c) =>
      init(c % init.length).slice(s * sub, (s + 1) * sub))
    def codesOf(v: Array[Double]): Array[Int] = {
      val out = new Array[Int](m)
      var s = 0
      while (s < m) {
        var best = Double.MaxValue; var bi = 0; var c = 0
        while (c < cbk) {
          val cen = cent(s)(c)
          var acc = 0.0; var j = 0
          while (j < sub) {
            val d = v(s * sub + j) - cen(j); acc += d * d; j += 1
          }
          if (acc < best) { best = acc; bi = c }
          c += 1
        }
        out(s) = bi
        s += 1
      }
      out
    }
    var it = 0
    while (it < iters) {
      val sums = scala.collection.mutable.HashMap.empty[(Int, Int), (Array[Long], Long)]
      sample.foreach { case (_, v) =>
        val cs = codesOf(v)
        var s = 0
        while (s < m) {
          val (acc, n) = sums.getOrElseUpdate((s, cs(s)), (new Array[Long](sub), 0L))
          var j = 0
          while (j < sub) {
            acc(j) += (v(s * sub + j) * Q).toLong; j += 1
          }
          sums((s, cs(s))) = (acc, n + 1)
          s += 1
        }
      }
      cent = Array.tabulate(m, cbk) { (s, c) =>
        sums.get((s, c)) match {
          case Some((acc, n)) => acc.map(x => (x.toDouble / n) / Q)
          case None => cent(s)(c)
        }
      }
      it += 1
    }
    (cent, codesOf)
  }

  private def pqAdcTableD(q: Array[Double], cent: Array[Array[Array[Double]]],
                          m: Int, cbk: Int, sub: Int): Array[Array[Double]] =
    Array.tabulate(m, cbk) { (s, c) =>
      val cen = cent(s)(c)
      var acc = 0.0; var j = 0
      while (j < sub) {
        val d = q(s * sub + j) - cen(j); acc += d * d; j += 1
      }
      acc
    }

  /** Sequential twin of Similarity.trainPq/pqTopK: [[pqTrainD]] protocol,
    * then ADC scoring with the same index-order arithmetic and
    * (distance, id) ordering. */
  def pqTopK(vecs: Seq[(Long, Seq[Float])], query: Seq[Float], k: Int,
             m: Int, cbk: Int, iters: Int,
             trainFraction: Double): Seq[(Long, Double)] = {
    val vecsD = vecs.map { case (id, v) => (id, v.map(_.toDouble).toArray) }
    val (cent, codesOf) = pqTrainD(vecsD, m, cbk, iters, trainFraction)
    val sub = vecsD.head._2.length / m
    val table = pqAdcTableD(query.map(_.toDouble).toArray, cent, m, cbk, sub)
    vecsD.map { case (id, v) =>
      val cs = codesOf(v)
      var acc = 0.0; var s = 0
      while (s < m) { acc += table(s)(cs(s)); s += 1 }
      (id, acc)
    }.sortBy { case (id, d) => (d, id) }.take(k)
  }

  /** Sequential twin of Similarity.ivfPqTopK: the shared Lloyd's coarse
    * quantizer ([[trainCentroids]]), residuals v − centroid, ONE shared PQ
    * codebook set trained on the residuals (quantized-long protocol), and
    * per-probed-cell ADC tables from the query's residuals. */
  def ivfPqTopK(vecs: Seq[(Long, Seq[Float])], query: Seq[Float], k: Int,
                cells: Int, m: Int, cbk: Int, iters: Int,
                trainFraction: Double, nProbe: Int): Seq[(Long, Double)] = {
    val centroids = trainCentroids(vecs, cells, iters, trainFraction)
    val assigned = vecs.map { case (id, v) =>
      val cell = argmin(v, centroids)
      val c = centroids(cell)
      val rv = Array.tabulate(v.length)(j => v(j).toDouble - c(j))
      (id, cell, rv)
    }
    val (cent, codesOf) =
      pqTrainD(assigned.map(a => (a._1, a._3)), m, cbk, iters, trainFraction)
    val sub = vecs.head._2.length / m
    val qd = query.map(_.toDouble)
    val qCells = centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(qd).map { case (mm, x) => (x - mm) * (x - mm) }.sum, i)
    }.sortBy(_._1).take(nProbe).map(_._2)
    val tables = qCells.map { ci =>
      val cen = centroids(ci)
      ci -> pqAdcTableD(qd.zip(cen).map { case (x, mm) => x - mm }.toArray,
        cent, m, cbk, sub)
    }.toMap
    assigned.collect { case (id, cell, rv) if tables.contains(cell) =>
      val t = tables(cell)
      val cs = codesOf(rv)
      var acc = 0.0; var s = 0
      while (s < m) { acc += t(s)(cs(s)); s += 1 }
      (id, acc)
    }.sortBy { case (id, d) => (d, id) }.take(k)
  }

  /** Sequential twin of Dedup.semDedup: the same Lloyd's protocol as
    * [[ivfTrainedTopK]] (first-C-by-id init, xxh64 hash-sample, first-min
    * argmin, empty cells keep their centroid), then within-cell brute-force
    * cosine pairs at `minCosine` and union-find component labeling with the
    * component min as the canonical survivor. Outputs carry no float columns,
    * so the compare is exact (argmin flips from last-ulp sum-order noise are
    * the same non-risk as ivfTrainedTopK — asserted stable by the driver
    * compare itself).
    */
  def semDedup(vecs: Seq[(Long, Seq[Float])], cells: Int, minCosine: Double,
               iters: Int, trainFraction: Double): Seq[(Long, Int, Long, Boolean)] = {
    val centroids = trainCentroids(vecs, cells, iters, trainFraction)
    val assigned = vecs.map { case (id, v) => (id, v, argmin(v, centroids)) }
    // union-find over within-cell pairs at minCosine
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { val (lo, hi) = (math.min(rx, ry), math.max(rx, ry))
        parent(hi) = lo }
    }
    assigned.groupBy(_._3).foreach { case (_, ms) =>
      val arr = ms.sortBy(_._1).toIndexedSeq
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          if (cosineF(arr(i)._2, arr(j)._2) >= minCosine) union(arr(i)._1, arr(j)._1)
          j += 1
        }
        i += 1
      }
    }
    assigned.map { case (id, _, cell) =>
      val comp = find(id)
      (id, cell, comp, id == comp)
    }.sortBy(_._1)
  }

  /** Sequential twin of [[graft.ops.PageRank.ranks]]: identical quantized
    * long arithmetic (unit mass 2^massBits, damp = exact 85/100 rational,
    * integral division everywhere), so the distributed result must match
    * BIT-FOR-BIT — long sums are order-independent.
    */
  def pageRank(edges: Seq[(Long, Long)], iters: Int,
               massBits: Int = 32): Seq[(Long, Long)] = {
    import graft.ops.PageRank.damp
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val unit = 1L << massBits
    val teleport = unit - damp(unit)
    var r = nodes.map(_ -> unit).toMap
    var it = 0
    while (it < iters) {
      val dangTotal = nodes.iterator
        .filter(v => !deg.contains(v)).map(v => damp(r(v))).sum
      val share = dangTotal / n
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (s, d) => in(d) += damp(r(s)) / deg(s) }
      r = nodes.map(v => v -> (teleport + in(v) + share)).toMap
      it += 1
    }
    nodes.map(v => (v, r(v)))
  }
}
