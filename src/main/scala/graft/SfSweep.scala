package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor sweep (VERDICT r3 #8, r4 #9): run every sweep entry at
  * sf0.1 and at a deterministic 10× replica of it, and report per-entry wall
  * ratios — the in-sandbox answer to "does per-query cost scale linearly
  * with data", catching constant factors that hide quadratic behavior at
  * sf0.1. The entries are the 16 headline UNCAPPED operator pipelines of
  * [[ops]] plus every dir-parameterized driver query (`SparkEntry.queries`,
  * the surface the correctness gate oracles): see [[entries]].
  *
  * The `crawl_*` queries are EXCLUDED by name: they crawl a fixed synthetic
  * site and ignore the dir argument entirely, so a "ratio" for them would
  * read ~1.0 by construction and bias the sweep median toward 1 while
  * claiming scale coverage the run does not have. The crawl loop's scale
  * evidence is perfbench's `crawl_wide` workload. Queries with internal caps
  * (top-k, LIMIT, `c_custkey < 300`-style filters) are EXPECTED to ratio
  * below 10×: their output is fixed and only the scan side grows — the
  * interesting signal is the entries whose ratio rises ABOVE the data factor.
  *
  * The 10× replica is synthesized (BASELINE.json mandates no external data):
  * replica r (1..9; replica 0 is the raw base) offsets every id by r·10⁷
  * and suffixes every document token with a LETTER marker "x{b..j}", so
  * replicas are textually DISJOINT from the base corpus
  * and from each other UNDER THE DEDUP TOKENIZER — which
  * lowercases and splits on [^a-z]+ (Dedup.tokenizeFast). The first version
  * of this builder used digit suffixes "x$r"; the tokenizer strips digits,
  * so "wordx1".."wordx9" all collapsed to the token "wordx" and replicas
  * 1..9 were token-level CLONES of each other — the round-5 candidate-count
  * instrumentation exposed it (minhash candidates grew 872× for 10× data:
  * 5 000 base docs × C(9,2)=36 cross-replica clique pairs). Near-dup
  * operators must scale on data volume, not on an artificial blow-up of
  * true duplicate pairs. Embeddings rotate by r elements (norm-preserving,
  * direction-changing); events offset user ids.
  *
  * Timing protocol: per entry, one warm pass at sf0.1 (JIT + parquet footer
  * cache), reported as `first_sf01` so first-run cost (planning + JIT +
  * codegen) stays separable from steady state, then [[min2]] at each scale.
  * Run EXCLUSIVELY — see BENCH.md's credit-state notes; the RATIO is the
  * robust statistic here.
  *
  * `runMain graft.SfSweep [replicaDir] [onlyCsv]`, source dir from
  * `$SPARK_GRAFT_SF_DIR` (default sf0.1), cores by [[LocalSpark.cores]] —
  * prints which queries were skipped, one JSON line per entry (or its error),
  * then a summary line.
  */
object SfSweep {

  private[graft] val Factor = 10

  /** Fact/scaled tables replicate ×Factor with per-replica key offsets that
    * keep every equi-join REPLICA-LOCAL (orders↔lineitem↔part/supplier,
    * customer↔orders): without consistent offsets a 10× build-side would fan
    * each probe row out 10×, measuring join blow-up instead of data scale.
    * region/nation are fixed-cardinality dims — TPC-H holds them constant
    * across SF, so the replica copies them once, unscaled.
    */
  private val ScaledTables = Seq("documents", "embeddings", "events",
    "customer", "orders", "part", "supplier", "lineitem")
  private val FixedTables = Seq("region", "nation")

  /** Wall seconds of one pass, and its row count. */
  private def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Two timed passes, min wall — the min discards one-off hypervisor
    * stalls; the warm pass before them is the caller's. */
  private def min2(f: => Long): (Double, Long) = {
    val (wa, n) = timed(f)
    val (wb, _) = timed(f)
    (math.min(wa, wb), n)
  }

  /** What the replica at `dst` MUST look like if it was built from `src` at
    * the current Factor — src path, factor, and per-table row counts PLUS an
    * order-independent content hash (sum of xxhash64 over every column): a
    * testdata regeneration that changes content but not cardinality must
    * also fail the compare and rebuild, instead of silently skewing ratios
    * against a replica of the OLD data. The per-row hashes sum as
    * decimal(38,0): a long sum overflows ANSI arithmetic after a few rows
    * (|xxh64| ≤ 2⁶³), while 6M rows × 2⁶³ stays 12 digits under the
    * decimal cap.
    */
  private def expectedManifest(s: SparkSession, src: String): String = {
    val counts = (ScaledTables.map(t => (t, Factor)) ++ FixedTables.map(t => (t, 1)))
      .map { case (t, f) =>
        val base = s.read.parquet(s"$src/$t.parquet")
        // coalesce: sum over zero rows is null — an empty source table must
        // manifest as hash 0, not NPE the builder
        val row = base.agg(
          count(lit(1)).as("n"),
          coalesce(sum(xxhash64(base.columns.map(col): _*)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
            lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h")).head()
        val h = row.getDecimal(1).toBigInteger
        s""""$t":{"rows":${row.getLong(0) * f},"hash":$h}"""
      }.mkString(",")
    // scheme tag: the manifest hashes SOURCE tables, so a change to the
    // replica TRANSFORM itself (e.g. digit→letter suffixes) is invisible to
    // the content hash — bump the tag whenever the transform changes so
    // stale replicas rebuild instead of being silently reused
    s"""{"src":"$src","factor":$Factor,"scheme":"letter-suffix-v2",$counts}"""
  }

  private[graft] def buildReplica(s: SparkSession, src: String, dst: String): Unit = {
    val fs = java.nio.file.Paths.get(dst)
    val manifestPath = fs.resolve("manifest.json")
    val expected = expectedManifest(s, src)
    // resume check: the LAST table written must exist (a crash mid-build
    // must rebuild, not silently sweep a partial replica) AND the manifest
    // written at build time must match what THIS run would build
    if (java.nio.file.Files.exists(fs.resolve("lineitem.parquet/_SUCCESS")) &&
        java.nio.file.Files.exists(manifestPath) &&
        new String(java.nio.file.Files.readAllBytes(manifestPath), "UTF-8") == expected)
      return
    java.nio.file.Files.createDirectories(fs)
    java.nio.file.Files.deleteIfExists(manifestPath)
    val docs = s.read.parquet(s"$src/documents.parquet")
    (0 until Factor).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + r * 10000000L).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"x${('a' + r).toChar}"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val emb = s.read.parquet(s"$src/embeddings.parquet")
    (0 until Factor).map { r =>
      if (r == 0) emb
      else emb.select(
        (col("vec_id") + r * 10000000L).as("vec_id"),
        concat(slice(col("embedding"), r + 1, 10000),
          slice(col("embedding"), 1, r)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    val ev = s.read.parquet(s"$src/events.parquet")
    (0 until Factor).map { r =>
      if (r == 0) ev
      else ev.select((col("event_id") + r * 100000000L).as("event_id"),
        col("ts"), (col("user_id") + r * 10000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    FixedTables.foreach { t =>
      s.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    def scaled(table: String, offsets: (String, Long)*): Unit = {
      val base = s.read.parquet(s"$src/$table.parquet")
      (0 until Factor).map { r =>
        if (r == 0) base
        else offsets.foldLeft(base) { case (d, (k, o)) =>
          d.withColumn(k, col(k) + r * o)
        }
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    scaled("customer", "c_custkey" -> 10000000L)
    scaled("orders", "o_orderkey" -> 100000000L, "o_custkey" -> 10000000L)
    scaled("part", "p_partkey" -> 10000000L)
    scaled("supplier", "s_suppkey" -> 10000000L)
    // lineitem last: the resume check above keys on its _SUCCESS marker
    scaled("lineitem", "l_orderkey" -> 100000000L,
      "l_partkey" -> 10000000L, "l_suppkey" -> 10000000L)
    java.nio.file.Files.write(manifestPath, expected.getBytes("UTF-8"))
  }

  /** Each op is an UNCAPPED pipeline over full tables, forced with count.
    * `scale` = the replica factor of `dir` (1 for the base sf), so derived
    * structures (the pagerank graph's node space) scale WITH the data
    * instead of concentrating 10x the edges on a fixed hub set.
    *
    * The third element, where present, counts the op's RAW blocking-stage
    * candidate rows (pre-verify join cardinality) — for the near-dup family
    * this is the statistic that tells "candidate generation went quadratic"
    * from "the corpus genuinely has more near-dup mass": wall ratios alone
    * conflate the two (VERDICT r4 #5).
    */
  private def ops(s: SparkSession, dir: String,
                  scale: Int): Seq[(String, () => Long, Option[() => Long])] = {
    def docs = s.read.parquet(s"$dir/documents.parquet")
    def emb = s.read.parquet(s"$dir/embeddings.parquet")
    def events = s.read.parquet(s"$dir/events.parquet")
    def lineitem = s.read.parquet(s"$dir/lineitem.parquet")
    import graft.ops._
    val ngramCap = 200
    Seq(
      ("scan_gates", () => docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.langId(col("text")).as("l"),
        TextAnalysis.tokenCount(col("text")).as("n"))
        .where(col("q") >= 0.0).count(), None),
      ("exact_dedup", () => Dedup.exact(docs, "doc_id", "text").count(), None),
      ("minhash_lsh", () => Dedup.minHashLsh(docs, "doc_id", "text",
        shingleLen = 3, minEstJaccard = 0.5).count(),
        Some(() => Dedup.minHashCandidates(docs, "doc_id", "text",
          k = 32, bands = 8, shingleLen = 3).count())),
      ("simhash_pairs", () => Dedup.simHashPairs(docs, "doc_id", "text",
        maxDist = 3).count(),
        Some(() => Dedup.simHashCandidates(docs, "doc_id", "text",
          maxDist = 3).count())),
      ("ngram_jaccard", () => Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.8, docFreqCap = ngramCap).count(),
        Some(() => Dedup.ngramJaccardCandidates(docs, "doc_id", "text",
          n = 3, docFreqCap = ngramCap).count())),
      ("embedding_neardup", () => Dedup.embeddingNearDup(emb, "vec_id",
        "embedding", minCosine = 0.9, bands = 2, targetBucketSize = 64).count(),
        Some(() => {
          // same plane resolution embeddingNearDup performs internally
          val p = math.max(8, Dedup.planesFor(emb.count(), 64))
          Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", p, 2).count()
        })),
      ("bm25", () => Bm25.score(docs, "doc_id", "text",
        Seq("spark", "window")).count(), None),
      ("repetition", () => TextAnalysis.repetitionSignals(docs, "doc_id",
        "text", topNs = Seq(2), dupNs = Seq(10)).count(), None),
      ("ngram_lm", () => {
        val c = NgramLm.train(docs, "text")
        NgramLm.scoreStupidBackoff(docs, "doc_id", "text", c).count()
      }, None),
      ("pagerank", () => {
        val src = docs.select(col("doc_id").cast("long").as("src"))
        val n = 500L * scale
        val edges = src.select(col("src"), ((col("src") * 7 + 1) % n).as("dst"))
          .unionByName(src.select(col("src"), ((col("src") * 13 + 3) % n).as("dst")))
        PageRank.ranks(edges, iters = 8).count()
      }, None),
      ("dsir_sample", () => Sampling.dsirResample(docs,
        docs.where(col("lang") === "en"), "doc_id", "text", k = 100).count(), None),
      ("pack_sequences", () => Pack.packSequences(docs, "source", "doc_id",
        "text", 512).count(), None),
      ("ann_brute_topk", () => {
        import s.implicits._
        val q = emb.orderBy("vec_id").select("embedding")
          .as[Seq[Float]].head()
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10).count()
      }, None),
      ("sessionize", () => graft.streaming.EventStream.sessionizeBatch(
        events.select("user_id", "ts", "value"), gapMs = 30 * 60 * 1000L).count(), None),
      ("lineitem_agg", () => lineitem
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1))).count(), None),
      ("curate_e2e", () => Curate.curateCorpus(docs, "doc_id", "text",
        None, "text", CurateConfig(minQuality = 0.3, maxDupLineFrac = 0.9,
          maxTopGramFrac = 0.9, maxDupGramFrac = 0.9,
          fuzzy = "minhash", fuzzyThreshold = 0.5, fuzzyN = 3,
          spanK = 0, sampleFraction = 1.0)).count(), None),
    )
  }

  /** Driver queries the sweep skips: they ignore the dir argument. */
  private def dirIndependent(name: String): Boolean = name.startsWith("crawl_")

  /** The sweep list: [[ops]], then every dir-parameterized driver query by
    * name. Building it starts no Spark job. */
  private[graft] def entries(s: SparkSession, dir: String,
                             scale: Int): Seq[(String, () => Long, Option[() => Long])] =
    ops(s, dir, scale) ++ SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => dirIndependent(name) }
      .map { case (name, fn) => (name, () => fn(s, dir).count(), None) }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = args.headOption.getOrElse("/tmp/graft_sf10x")
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val cores = LocalSpark.cores()
    val s = LocalSpark.session(cores, cores, "ERROR")
    buildReplica(s, src, dst)
    val skipped = SparkEntry.queries.keys.filter(dirIndependent).toSeq.sorted
    println(s"""{"skipped_dir_independent":${skipped.map(Verify.jsonStr).mkString("[", ",", "]")},"why":"fixed synthetic-site crawl, ignores the sf dir; scale evidence = perfbench crawl_wide"}""")
    val rows = entries(s, src, 1).zip(entries(s, dst, Factor))
      .filter { case ((name, _, _), _) => only.forall(_.contains(name)) }
      .flatMap { case ((name, at01, cand01), (_, at10, cand10)) =>
        try {
          val (first, _) = timed(at01()) // warm (JIT + parquet footer cache)
          val (s1, _) = min2(at01())
          val (w1, n10) = min2(at10())
          // candidate counts run UNTIMED, after the timed passes: linear
          // cand_ratio ≈ Factor means blocking holds; super-linear names the
          // quadratic stage directly
          val cand = (cand01, cand10) match {
            case (Some(c1), Some(c10)) =>
              val (a, b) = (c1(), c10())
              f""","cand_sf01":$a,"cand_10x":$b,"cand_ratio":${b.toDouble / math.max(a, 1L)}%.2f"""
            case _ => ""
          }
          println(f"""{"name":"$name","first_sf01":$first%.2f,"sec_sf01":$s1%.2f,"sec_10x":$w1%.2f,"ratio":${w1 / s1}%.2f,"rows_10x":$n10$cand}""")
          Some((s1, w1))
        } catch {
          case e: Throwable =>
            // an entry that cannot run at 10x is a finding, not a skip —
            // surface it in the output stream the sweep table is built from
            println(s"""{"name":"$name","err":${Verify.jsonStr(
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")}}""")
            None
        }
      }
    if (rows.nonEmpty) {
      val ratios = rows.map { case (s1, w1) => w1 / s1 }.sorted
      println(f"""{"sweep":${Verify.jsonStr(s"$src vs ${Factor}x replica")},"entries":${rows.size},"median_ratio":${ratios(ratios.size / 2)}%.2f,"total_sf01_sec":${rows.map(_._1).sum}%.1f,"total_10x_sec":${rows.map(_._2).sum}%.1f}""")
    }
    s.stop()
  }
}
