package graft

import graft.core.{PageRec, Synth}
import graft.frontier.{Crawl, CrawlConfig}
import graft.oracle.Fixtures
import graft.ops.{Bm25, Bpe, Curate, CurateConfig, Dedup, Multimodal, NgramLm, Pack, PageRank, QualityClassifier, RegexExtract, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): `entry`, `queries` and `oracleSql`.
  *
  * A driver query is one [[Q]] entry of [[registry]]: its name, its plan and
  * its DuckDB oracle SQL over the same parquet tables, declared side by
  * side and grouped by domain. `queries` and `oracleSql` are derived from
  * the registry, so both carry exactly its keys. Queries with no SQL twin
  * (crawl-native operators on the in-repo deterministic synthetic site, and
  * sequential-oracle operators) are [[fixtureQ]] entries: their oracle reads
  * the expected-result fixture [[graft.oracle.Fixtures]] writes under the
  * query's name.
  */
object SparkEntry {

  // deterministic synthetic site used by the crawl-native queries (also the
  // input of the Verify fixture writer, graft.oracle.Fixtures)
  val siteCfg = Synth.SiteCfg(seed = 42L, nHosts = 3, cats = 2, subs = 2, prods = 3)
  val crawlCfg = CrawlConfig(hostBudget = 8, maxEpochs = 40)

  private def synthPages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(Synth.pageCount(siteCfg))
      .map { i => val p = Synth.pageAt(siteCfg, i); PageRec(p.url, 0L, p.host, p.html, 200, 0) }
      .toDF()
      .withColumn("url_hash", xxhash64(col("url")))
  }

  // one shared BFS run per JVM: docs/visits/entry queries read the same
  // committed snapshots instead of re-crawling
  @volatile private var sharedRun: String = null

  private def runCrawl(spark: SparkSession, tag: String): String =
    synchronized {
      if (sharedRun == null) {
        import spark.implicits._
        // the driver's session may default to 200 shuffle partitions — far
        // too many for the per-epoch state at test scale (runtime-settable)
        if (spark.conf.get("spark.sql.shuffle.partitions") == "200")
          spark.conf.set("spark.sql.shuffle.partitions", "32")
        val runDir = java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
        Crawl.run(spark, Synth.seeds(siteCfg).toDF(), synthPages(spark),
          Synth.robots(siteCfg).toDF(), runDir, crawlCfg)
        sharedRun = runDir
      }
      sharedRun
    }

  // TTL-recrawl run: a COPY of the shared run with epoch 1 expired and
  // refetched (the shared run itself must stay immutable — every other
  // crawl query's oracle reads it)
  @volatile private var recrawlRun: String = null
  @volatile private var recrawlBase: Int = -1

  private def runRecrawl(spark: SparkSession): (String, Int) = synchronized {
    if (recrawlRun == null) {
      import spark.implicits._
      val src = java.nio.file.Paths.get(runCrawl(spark, "recrawl-src"))
      val dst = java.nio.file.Files.createTempDirectory("graft-recrawl")
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally walk.close()
      val before = Crawl.lastCommittedEpoch(dst.toString)
      Crawl.expireEpoch(spark, dst.toString, 1)
      Crawl.run(spark, Synth.seeds(siteCfg).toDF(), synthPages(spark),
        Synth.robots(siteCfg).toDF(), dst.toString, crawlCfg)
      recrawlBase = before
      recrawlRun = dst.toString
    }
    (recrawlRun, recrawlBase)
  }

  /** Deterministic media blob for the q_media_features corpus — REAL PNG /
    * WAV / GIF / MJPEG-AVI containers whose intent parameters (dims,
    * duration, frame count) are pure md5-hex or doc-id arithmetic over the
    * ref, so the DuckDB oracle re-derives what every REAL decoder must
    * recover without touching any decode code (a stubbed decoder cannot
    * match). Image/audio params come from md5(ref) hex-digit pairs; video
    * params from the numeric id like q_video_frames. */
  private[graft] def mediaBlobFor(id: String, ref: String, kind: String)
      : graft.ops.Multimodal.MediaBlob = {
    lazy val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(ref.getBytes("UTF-8")) // one digest per blob
    def hexPair(i: Int): Int = digest(i) & 0xff // = value of hex chars 2i,2i+1
    kind match {
      case "image" =>
        graft.ops.Multimodal.syntheticPngBlob(id, ref,
          32 + hexPair(0) % 64, 24 + hexPair(1) % 48)
      case "audio" =>
        graft.ops.Multimodal.syntheticWavBlob(id, ref,
          ms = 500 + (hexPair(2) * 256 + hexPair(3)) % 2000)
      case "video" =>
        val n = id.toLong
        val w = 16 + (n % 16).toInt
        val h = 16 + ((n * 3) % 16).toInt
        val frames = 2 + (n % 4).toInt
        if (n % 2 == 0)
          graft.ops.Multimodal.syntheticGifVideoBlob(id, ref, w, h, frames, frameMs = 50)
        else
          graft.ops.Multimodal.syntheticAviVideoBlob(id, ref, w, h, frames, frameMs = 50)
      case _ => graft.ops.Multimodal.syntheticBlob(id, ref, kind)
    }
  }

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** q_stream_curate: REAL Structured-Streaming run of
    * [[graft.streaming.StreamCurate.curateStream]] over a file source — four
    * deterministic arrival batches (bases 0-99, bases 100-199, exact copies,
    * edited near-dups) written as json files with increasing mod-times and
    * consumed one-per-trigger, oldest first. The md5 minhash basis makes
    * the whole acceptance chain SQL-derivable, and the DuckDB oracle
    * recomputes the STREAM'S OWN per-batch semantics from first principles
    * (per-batch gates → in-batch min-id exact dedup → anti-join vs
    * previously ACCEPTED texts → in-batch md5-minhash components → probe
    * drop vs the accepted set) — no stream-equals-batch assumption is
    * involved. The accepting batch id rides along as the `batch` partition
    * column and is itself oracled.
    */
  @volatile private var streamCurateOut: String = null
  private def runStreamCurate(s: SparkSession, dir: String): DataFrame = {
    synchronized {
      if (streamCurateOut == null) {
        val (base, copies, marked) =
          curatedCorpus(s, dir, " stream curated trailing marker")
        val batches = Seq(base.where(col("doc_id") < 100),
          base.where(col("doc_id") >= 100), copies, marked)
        val root = java.nio.file.Files.createTempDirectory("graft-stream")
        val watch = root.resolve("in")
        java.nio.file.Files.createDirectories(watch)
        batches.zipWithIndex.foreach { case (df, i) =>
          val f = watch.resolve(s"batch$i.json")
          java.nio.file.Files.write(f,
            df.toJSON.collect().mkString("\n").getBytes("UTF-8"))
          // distinct mod-times pin the file-source arrival order
          f.toFile.setLastModified(1000000000L + i * 60000L)
        }
        val docsStream = s.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1)
          .json(watch.toString)
        val q = graft.streaming.StreamCurate.curateStream(docsStream,
          "doc_id", "text",
          curateGates.copy(fuzzyThreshold = 0.8, fuzzyN = 2, minhashBasis = "md5"),
          root.resolve("state").toString, root.resolve("out").toString,
          root.resolve("ckpt").toString)
        try q.processAllAvailable() finally q.stop()
        streamCurateOut = root.resolve("out").toString
      }
    }
    s.read.parquet(streamCurateOut)
      .select(col("doc_id"), col("batch").cast("int").as("batch"),
        round(col("quality"), 4).as("quality"))
  }

  /** Flagship: full BFS crawl of the synthetic site → interleaved span docs.
    * Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val runDir = runCrawl(spark, "entry")
    Crawl.docs(spark, runDir)
      .select(col("doc_id"), col("spans"))
  }

  /** One driver query: `plan` runs it over the sf directory, `oracle` is
    * the DuckDB SQL the driver compares its result against. */
  private[graft] final case class Q(name: String,
      plan: (SparkSession, String) => DataFrame, oracle: String)

  /** A query whose oracle is the expected-result fixture written under its
    * own name by [[graft.oracle.Fixtures]] (sequential oracle, generator
    * intent or reference-derived goldens). */
  private def fixtureQ(name: String,
                       plan: (SparkSession, String) => DataFrame): Q =
    Q(name, plan, Fixtures.sql(name))

  /** The curation queries' corpus in its three parts: documents with
    * doc_id < 200, exact copies of every 5th (doc_id + 100000) and copies
    * of every 7th with `marker` appended (doc_id + 200000). Each oracle's
    * `corpus` CTE builds the same rows. */
  private def curatedCorpus(s: SparkSession, dir: String, marker: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val d = table(s, dir, "documents").where(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    (d,
      d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")),
      d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(marker)).as("text")))
  }

  /** The quality and repetition gates of every curation query; the
    * oracles' `gated` CTEs apply the same four bounds. */
  private val curateGates = CurateConfig(minQuality = 0.3,
    maxDupLineFrac = 0.9, maxTopGramFrac = 0.9, maxDupGramFrac = 0.9)

  /** The link target of each `part` row in q_link_score and q_link_head. */
  private def linkHref: Column = concat(
    when(col("p_partkey") % 3 === 0, "https://x.com/docs/guide/")
      .when(col("p_partkey") % 3 === 1, "https://x.com/blog/")
      .otherwise("http://x.com/cart/checkout/a/b/c/d/"),
    col("p_partkey"))

  // ---- SQL shared by several oracles. Every oracle names its columns as
  // the Spark side does: the driver sorts columns by name before hashing.

  /** The per-document quality signals over `wtoks`/`atoks` token lists and
    * the weighted score over them: the DuckDB twin of
    * `TextAnalysis.qualityScore`, shared by q_quality_score and the
    * curation gates. */
  private val qualitySignalsSql: String =
    """    CASE WHEN len(wtoks) = 0 THEN 0.0
      |         ELSE list_sum(list_transform(wtoks, x -> length(x))) * 1.0 / len(wtoks) END AS mwl,
      |    length(regexp_replace(text, '[^!?.,;:]', '', 'g')) * 1.0 / greatest(length(text), 1) AS punct,
      |    len(list_filter(atoks, x -> list_contains(['the','a','and','of','to','in','is','it','that','was'], x))) * 1.0
      |      / greatest(len(atoks), 1) AS stopr""".stripMargin

  private val qualityScoreSql: String =
    """    (CASE WHEN n_chars BETWEEN 200 AND 20000 THEN 1.0
      |          WHEN n_chars BETWEEN 50 AND 199 THEN 0.5 ELSE 0.0 END) * 0.25
      |  + (CASE WHEN n_words >= 30 THEN 1.0 WHEN n_words >= 10 THEN 0.5 ELSE 0.0 END) * 0.25
      |  + (CASE WHEN stopr > 0.02 THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.15
      |  + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.15""".stripMargin

  /** The curation gate signals over a `corpus` CTE of (doc_id, text): the
    * quality score `q` and the repetition fractions `rfrac` (duplicate-line,
    * top-2-gram and duplicated-10-gram chars). `raw` keeps the regex
    * backslashes. */
  private val curateGateChainSql: String =
    raw"""t AS (
      |  SELECT doc_id, text, length(text) AS n_chars,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS wtoks,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS atoks
      |  FROM corpus),
      |m AS (
      |  SELECT doc_id, text, n_chars, len(wtoks) AS n_words,
      |$qualitySignalsSql
      |  FROM t),
      |q AS (
      |  SELECT doc_id, text,
      |$qualityScoreSql AS quality
      |  FROM m),
      |rls AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS line_chars,
      |    CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
      |       - coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS BIGINT) AS dup_line_chars,
      |    toks
      |  FROM (SELECT doc_id, text,
      |          list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines,
      |          list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
      |        FROM corpus)),
      |rg AS (
      |  SELECT doc_id, n,
      |    unnest(list_transform(generate_series(1, len(toks) - (n - 1)),
      |                          i -> array_to_string(toks[i:i+n-1], ' '))) AS g
      |  FROM rls, (SELECT unnest([2,10]) AS n) ns
      |  WHERE len(toks) >= n),
      |rcnt AS (SELECT doc_id, n, g, count(*) AS cnt FROM rg GROUP BY doc_id, n, g),
      |rga AS (
      |  SELECT doc_id,
      |    CAST(coalesce(max(CASE WHEN n=2 THEN cnt*length(g) END), 0) AS BIGINT) AS top2,
      |    CAST(coalesce(sum(CASE WHEN n=10 AND cnt>1 THEN (cnt-1)*length(g) ELSE 0 END), 0) AS BIGINT) AS dup10
      |  FROM rcnt GROUP BY doc_id),
      |rfrac AS (
      |  SELECT l.doc_id,
      |    l.dup_line_chars * 1.0 / greatest(l.line_chars, 1) AS dup_line_frac,
      |    coalesce(g2.top2, 0) * 1.0 / greatest(l.n_chars, 1) AS top2_frac,
      |    coalesce(g2.dup10, 0) * 1.0 / greatest(l.n_chars, 1) AS dup10_frac
      |  FROM rls l LEFT JOIN rga g2 USING (doc_id)),""".stripMargin

  /** The q_curate and q_curate_semantic oracles up to exact dedup: the
    * curated corpus with `marker` on the every-7th copies, the gates, and
    * min-id exact dedup of the gated texts (`exact`). */
  private def curateExactSql(marker: String): String =
    s"""WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 200
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || '$marker'
      |  FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0),
      |$curateGateChainSql
      |gated AS (
      |  SELECT q.doc_id, q.text, q.quality
      |  FROM q JOIN rfrac r USING (doc_id)
      |  WHERE q.quality >= 0.3 AND r.dup_line_frac <= 0.9
      |    AND r.top2_frac <= 0.9 AND r.dup10_frac <= 0.9),
      |exact AS (
      |  SELECT g.doc_id, g.text, g.quality FROM gated g
      |  JOIN (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text) s USING (doc_id)),""".stripMargin

  /** Connected components of the near-dup graph `pairs` over `exact`: each
    * doc's component is the least doc_id it reaches (recursive CTE). */
  private val curateComponentsSql: String =
    """edges AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT doc_id AS src, doc_id AS dst FROM exact
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)""".stripMargin

  /** Distinct word 2-shingle sets `s` of the documents with doc_id < 100
    * (`tk`, `sh` CTEs), shared by q_ngram_jaccard and q_dedup_clusters so
    * the clusters' edge set is the jaccard query's. */
  private val bigramSetsSql: String =
    """tk AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents WHERE doc_id < 100),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) >= 2
      |         THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
      |         ELSE [array_to_string(t, ' ')] END) AS s
      |  FROM tk)""".stripMargin

  /** Word 3-shingles `s` of the documents with doc_id < `bound` (`tk`, `sh`
    * CTEs): the DuckDB twin of `TextAnalysis.shingles(text, 3)`. */
  private def shingle3Sql(bound: Int): String =
    s"""tk AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents WHERE doc_id < $bound),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |         ELSE [array_to_string(t, ' ')] END AS s
      |  FROM tk)""".stripMargin

  /** The stupid-backoff LM scoring statement, shared by the q_ngram_lm
    * oracle and (as a CTE) the q_ccnet_buckets oracle so the two can
    * never drift.
    */
  private val ngramLmScoredSql: String =
    """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |n_total AS (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS n FROM tk),
        |u AS (SELECT g AS gram, count(*) AS cnt FROM (
        |  SELECT unnest(toks) AS g FROM tk) GROUP BY g),
        |b AS (SELECT g AS gram, count(*) AS cnt FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |         i -> array_to_string(toks[i:i+1], ' '))) AS g
        |  FROM tk WHERE len(toks) >= 2) GROUP BY g),
        |tr AS (SELECT g AS gram, count(*) AS cnt FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
        |         i -> array_to_string(toks[i:i+2], ' '))) AS g
        |  FROM tk WHERE len(toks) >= 3) GROUP BY g),
        |pos AS (
        |  SELECT doc_id,
        |    toks[i] AS w,
        |    CASE WHEN i >= 2 THEN toks[i-1] END AS prev,
        |    CASE WHEN i >= 2 THEN array_to_string(toks[i-1:i], ' ') END AS g2,
        |    CASE WHEN i >= 3 THEN array_to_string(toks[i-2:i-1], ' ') END AS ctx3,
        |    CASE WHEN i >= 3 THEN array_to_string(toks[i-2:i], ' ') END AS g3
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
        |  WHERE doc_id < 200),
        |sc0 AS (
        |  SELECT p.doc_id, p.g2, p.g3,
        |    t3.cnt AS c3, x3.cnt AS cctx3, b2.cnt AS c2, pv.cnt AS cprev,
        |    u1.cnt AS c1, nt.n
        |  FROM pos p
        |  LEFT JOIN u u1 ON p.w = u1.gram
        |  LEFT JOIN u pv ON p.prev = pv.gram
        |  LEFT JOIN b b2 ON p.g2 = b2.gram
        |  LEFT JOIN b x3 ON p.ctx3 = x3.gram
        |  LEFT JOIN tr t3 ON p.g3 = t3.gram
        |  CROSS JOIN n_total nt),
        |s_a AS (SELECT *, CASE WHEN coalesce(c1, 0) > 0 THEN (c1 * 1.0) / (n * 1.0)
        |                      ELSE 1.0 / (n * 1.0) END AS s1 FROM sc0),
        |s_b AS (SELECT *, CASE WHEN coalesce(c2, 0) > 0 THEN (c2 * 1.0) / (cprev * 1.0)
        |                      ELSE 0.4 * s1 END AS s2 FROM s_a),
        |s_c AS (SELECT *, CASE WHEN coalesce(c3, 0) > 0 THEN (c3 * 1.0) / (cctx3 * 1.0)
        |                      ELSE 0.4 * s2 END AS s3 FROM s_b),
        |sc AS (
        |  SELECT doc_id,
        |    CASE WHEN g3 IS NOT NULL THEN s3 WHEN g2 IS NOT NULL THEN s2 ELSE s1 END AS s,
        |    CASE WHEN g3 IS NOT NULL AND coalesce(c3, 0) > 0 THEN 1 ELSE 0 END AS tri_hit,
        |    CASE WHEN coalesce(c1, 0) = 0 THEN 1 ELSE 0 END AS oov
        |  FROM s_c),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(tri_hit) AS BIGINT) AS n_tri_hits,
        |    CAST(sum(oov) AS BIGINT) AS n_oov,
        |    CAST(sum(CAST(floor(s * 1000000000.0) AS BIGINT)) AS BIGINT) AS score_q9
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_tokens, 0) AS n_tokens,
        |  coalesce(a.n_tri_hits, 0) AS n_tri_hits,
        |  coalesce(a.n_oov, 0) AS n_oov,
        |  coalesce(a.score_q9, 0) AS score_q9
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** The link target of each `part` row (docs, blog or a deep checkout
    * path by p_partkey % 3), as [[linkHref]] builds it. */
  private val linkHrefSql: String =
    """CASE WHEN p_partkey % 3 = 0 THEN 'https://x.com/docs/guide/' || p_partkey
      |         WHEN p_partkey % 3 = 1 THEN 'https://x.com/blog/' || p_partkey
      |         ELSE 'http://x.com/cart/checkout/a/b/c/d/' || p_partkey END""".stripMargin

  /** Shared link-row attribute columns (url/title/class/rel from `part`) and
    * the raw intrinsic-score expression (utils.py:3123-3235) — interpolated
    * into BOTH the q_link_score and q_link_head twins so they cannot drift.
    */
  private val linkRowAttrsSql: String =
    s"""    $linkHrefSql AS url,
      |    CASE WHEN p_partkey % 2 = 0 THEN 'Part details page' ELSE '' END AS title_attr,
      |    CASE WHEN p_partkey % 5 = 0 THEN 'nav-menu' ELSE 'item' END AS class_attr,
      |    CASE WHEN p_partkey % 7 = 0 THEN 'nofollow' ELSE '' END AS rel_attr""".stripMargin

  private val linkRawScoreSql: String =
    """      (CASE WHEN length(trim(title_attr)) > 3 THEN 1.0 ELSE 0.0 END)
      |    + (CASE WHEN lower(class_attr) LIKE '%nav%' OR lower(class_attr) LIKE '%menu%'
      |              OR lower(class_attr) LIKE '%primary%' OR lower(class_attr) LIKE '%main%'
      |              OR lower(class_attr) LIKE '%important%' THEN 1.5 ELSE 0.0 END)
      |    + (CASE WHEN lower(class_attr) LIKE '%ad%' OR lower(class_attr) LIKE '%sponsor%'
      |              OR lower(class_attr) LIKE '%track%' OR lower(class_attr) LIKE '%promo%'
      |              OR lower(class_attr) LIKE '%banner%' THEN -1.0 ELSE 0.0 END)
      |    + (CASE WHEN lower(rel_attr) LIKE '%canonical%' OR lower(rel_attr) LIKE '%next%'
      |              OR lower(rel_attr) LIKE '%prev%' OR lower(rel_attr) LIKE '%chapter%' THEN 1.0 ELSE 0.0 END)
      |    + (CASE WHEN lower(rel_attr) LIKE '%nofollow%' OR lower(rel_attr) LIKE '%sponsored%'
      |              OR lower(rel_attr) LIKE '%ugc%' THEN -0.5 ELSE 0.0 END)
      |    + (CASE WHEN lower(url) LIKE '%/docs/%' OR lower(url) LIKE '%/api/%'
      |              OR lower(url) LIKE '%/guide/%' OR lower(url) LIKE '%/tutorial/%'
      |              OR lower(url) LIKE '%/reference/%' OR lower(url) LIKE '%/manual/%' THEN 2.0
      |            WHEN lower(url) LIKE '%/blog/%' OR lower(url) LIKE '%/article/%'
      |              OR lower(url) LIKE '%/post/%' OR lower(url) LIKE '%/news/%' THEN 1.0 ELSE 0.0 END)
      |    + (CASE WHEN lower(url) LIKE '%/admin/%' OR lower(url) LIKE '%/login/%'
      |              OR lower(url) LIKE '%/cart/%' OR lower(url) LIKE '%/checkout/%'
      |              OR lower(url) LIKE '%/track/%' OR lower(url) LIKE '%/click/%' THEN -1.5 ELSE 0.0 END)
      |    + (CASE WHEN length(lower(url)) - length(replace(lower(url), '/', '')) - 2 <= 2 THEN 1.0
      |            WHEN length(lower(url)) - length(replace(lower(url), '/', '')) - 2 > 5 THEN -0.5 ELSE 0.0 END)
      |    + (CASE WHEN lower(url) LIKE 'https://%' THEN 0.5 ELSE 0.0 END)
      |    + (CASE WHEN length(trim(text)) > 3 THEN 1.0 ELSE 0.0 END)
      |    + (CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) >= 2 THEN 0.5 ELSE 0.0 END)
      |    + (CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) >= 4 THEN 0.5 ELSE 0.0 END)
      |    + (CASE WHEN lower(trim(text)) IN ('click here','read more','more info','link','here') THEN -1.0 ELSE 0.0 END)""".stripMargin

  /** The q_stream_curate oracle: the stream's own per-batch semantics, not
    * a global-batch equivalent. Shared gate/signature/edge CTEs (md5
    * minhash k=32, 8 bands × 4 rows, 2-shingles, est ≥ 0.8), then ONE
    * per-batch template instantiated for each arrival batch: in-batch
    * min-id exact dedup, anti-join vs previously ACCEPTED texts, in-batch
    * recursive components, canonical survivors, probe-drop vs the accepted
    * set. Generated, so the four batches cannot drift apart; bridge merges
    * that would tell stream from batch are handled identically by
    * construction. */
  private val streamCurateOracleSql: String = {
    val prefix =
      s"""WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text, CASE WHEN doc_id < 100 THEN 0 ELSE 1 END AS abatch
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 100000, text, 2 FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' stream curated trailing marker', 3
        |  FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0),
        |$curateGateChainSql
        |gated AS MATERIALIZED (
        |  SELECT q.doc_id, q.text, q.quality, c2.abatch
        |  FROM q JOIN rfrac r USING (doc_id) JOIN corpus c2 USING (doc_id)
        |  WHERE q.quality >= 0.3 AND r.dup_line_frac <= 0.9
        |    AND r.top2_frac <= 0.9 AND r.dup10_frac <= 0.9),
        |sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 2
        |         THEN list_transform(generate_series(1, len(tk) - 1), i -> array_to_string(tk[i:i+1], ' '))
        |         ELSE [array_to_string(tk, ' ')] END AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk
        |        FROM gated)),
        |sigs AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_transform(range(0, 32),
        |      i -> list_min(list_transform(s, x -> md5(CAST(i AS VARCHAR) || '|' || x)))) AS sig
        |  FROM sh),
        |bnd AS MATERIALIZED (
        |  SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
        |  FROM sigs, (SELECT unnest(range(0, 8)) AS b) bs),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM bnd a JOIN bnd c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT cand.id_a, cand.id_b,
        |      list_sum(list_transform(range(1, 33),
        |        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 32.0 AS est
        |    FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id
        |              JOIN sigs sb ON cand.id_b = sb.doc_id)
        |  WHERE est >= 0.8),
        |edges AS MATERIALIZED (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),""".stripMargin
    val perBatch = (0 to 3).map { k =>
      val anti =
        if (k == 0) ""
        else s"\n  WHERE g.text NOT IN (SELECT text FROM a${k - 1})"
      val accept =
        if (k == 0) "a0 AS (SELECT * FROM can0)"
        else s"""a$k AS (
  SELECT * FROM a${k - 1}
  UNION ALL
  SELECT c.* FROM can$k c WHERE NOT EXISTS (
    SELECT 1 FROM edges ed JOIN a${k - 1} a ON ed.v = a.doc_id WHERE ed.u = c.doc_id))"""
      s"""e$k AS (
  SELECT g.* FROM gated g
  JOIN (SELECT min(doc_id) AS doc_id FROM gated WHERE abatch = $k GROUP BY text) m USING (doc_id)$anti),
r$k AS (
  SELECT doc_id AS src, doc_id AS dst FROM e$k
  UNION
  SELECT r.src, ed.v FROM r$k r JOIN edges ed ON r.dst = ed.u
                     JOIN e$k x ON ed.v = x.doc_id),
can$k AS (
  SELECT e.* FROM e$k e
  JOIN (SELECT src AS doc_id, min(dst) AS comp FROM r$k GROUP BY src) c USING (doc_id)
  WHERE c.comp = e.doc_id),
$accept"""
    }.mkString(",\n")
    prefix + "\n" + perBatch + "\n" +
      """SELECT doc_id, CAST(abatch AS INTEGER) AS batch,
        |       round(quality, 4) AS quality
        |FROM a3""".stripMargin
  }

  /** TRUE-SQL oracle for q_pagerank: DuckDB re-runs the ENTIRE fixed-point
    * PageRank — the driver query's doc-id-arithmetic edge set, then `iters`
    * chained CTE iterations of PageRank.step's exact integer recurrence
    * (`damp(x) = (x div 100)·85 + ((x mod 100)·85) div 100`, per-edge
    * `damped div deg`, dangling `sum div n`, teleport constant). All values
    * are longs on both sides — bit-exact, no exported artifact, no
    * tolerance. Chained (non-recursive) CTEs sidestep the single-reference
    * restriction of recursive CTEs: each iteration reads the previous rank
    * table three ways (damped, dangling aggregate, in-mass join). */
  private def pageRankTrueSql(iters: Int, massBits: Int): String = {
    val unit = 1L << massBits
    val teleport = unit - graft.ops.PageRank.damp(unit)
    val iterCtes = (1 to iters).map { k =>
      s"""d$k AS (
         |  SELECT r.id, o.deg,
         |         (r.rank // 100) * 85 + ((r.rank % 100) * 85) // 100 AS damped
         |  FROM r${k - 1} r LEFT JOIN outdeg o ON o.src = r.id),
         |ds$k AS (
         |  SELECT COALESCE(SUM(CASE WHEN deg IS NULL THEN damped END)::BIGINT, 0)
         |           // (SELECT COUNT(*) FROM nodes) AS share
         |  FROM d$k),
         |r$k AS (
         |  SELECT n.id,
         |         $teleport + COALESCE(im.in_mass, 0) + ds.share AS rank
         |  FROM nodes n
         |  LEFT JOIN (
         |    SELECT e.dst AS id, SUM(d.damped // d.deg)::BIGINT AS in_mass
         |    FROM edges e JOIN d$k d ON d.id = e.src AND d.deg IS NOT NULL
         |    GROUP BY e.dst) im ON im.id = n.id
         |  CROSS JOIN ds$k ds)""".stripMargin
    }.mkString(",\n")
    s"""WITH s AS (
       |  SELECT doc_id::BIGINT AS src FROM documents
       |  WHERE doc_id < 500 AND doc_id % 5 <> 0
       |), edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, (src * 7 + 1) % 500 AS dst FROM s
       |    UNION ALL SELECT src, (src * 13 + 3) % 500 FROM s
       |    UNION ALL SELECT src, 0 FROM s)
       |), nodes AS MATERIALIZED (
       |  SELECT src AS id FROM edges UNION SELECT dst FROM edges
       |), outdeg AS MATERIALIZED (
       |  SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY src
       |), r0 AS (
       |  SELECT id, $unit::BIGINT AS rank FROM nodes
       |),
       |$iterCtes
       |SELECT id, rank FROM r$iters""".stripMargin
  }

  // ---- crawl: the frontier loop and the scrape over the deterministic
  // synthetic site; each oracle is an expected-result fixture (the
  // sequential crawl, generator intent or the reference converter's goldens)
  private val crawlQueries: Seq[Q] = Seq(
    fixtureQ("crawl_docs_spans", (s, _) => {
      val runDir = runCrawl(s, "docs")
      Crawl.docs(s, runDir)
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .select(col("doc_id"), col("span.kind").as("kind"), col("span.text").as("text"),
          col("span.media_ref").as("media_ref"), col("span.offset").as("offset"))
        .orderBy("doc_id", "offset")
    }),
    fixtureQ("crawl_visit_order", (s, _) => {
      val runDir = runCrawl(s, "visits")
      Crawl.visits(s, runDir).select("epoch", "visit_rank", "url", "depth")
    }),
    // TTL refresh: expire epoch 1 on a copy of the run, refetch, report the
    // recrawl-epoch visits (exactly the expired-and-robots-allowed URLs)
    fixtureQ("crawl_recrawl", (s, _) => {
      val (runDir, before) = runRecrawl(s)
      Crawl.visits(s, runDir).where(col("epoch") > before)
        .select(col("url"), col("depth"))
    }),
    // per-epoch metrics + lineage from the committed snapshot manifests
    // (wall_ms excluded: timing is the one nondeterministic manifest field)
    fixtureQ("crawl_epoch_manifests", (s, _) => {
      val runDir = runCrawl(s, "manifests")
      Crawl.metrics(s, runDir).drop("wall_ms")
    }),
    // markdown generation with citations (html2text-fidelity pipeline)
    // over the page store; raw_html content source so the fixture oracle can
    // compare byte-for-byte against the REFERENCE converter's goldens
    fixtureQ("crawl_markdown", (s, _) => {
      import s.implicits._
      synthPages(s).select("url", "html").as[(String, String)]
        .map { case (url, html) =>
          val md = graft.scrape.Markdown.fromHtml(html, url, clean = false)
          (url, md.raw_markdown, md.markdown_with_citations, md.references_markdown)
        }
        .toDF("doc_id", "raw_markdown", "markdown_with_citations", "references_markdown")
    }),
    // data-table extraction over the synthetic page store
    fixtureQ("crawl_tables", (s, _) => {
      import s.implicits._
      synthPages(s).select("url", "html").as[(String, String)]
        .flatMap { case (url, html) =>
          graft.scrape.Tables.extract(html).map(t =>
            (url, t.caption, t.headers.mkString("|"), t.rows.size))
        }
        .toDF("url", "caption", "headers", "n_rows")
    }),
    // metadata extraction; fixture-oracled against generator intent (the
    // fit_html surface is pinned separately by MetaSpec goldens)
    fixtureQ("crawl_metadata", (s, _) => {
      import s.implicits._
      synthPages(s).select("url", "html").as[(String, String)]
        .map { case (url, html) =>
          (url, graft.scrape.Meta.extractMetadata(html).getOrElse("title", ""))
        }
        .toDF("url", "title")
    }),
    // media-variant extraction (process_image output shape)
    fixtureQ("crawl_media_variants", (s, _) => {
      import s.implicits._
      synthPages(s).select("url", "html").as[(String, String)]
        .flatMap { case (url, html) =>
          graft.scrape.MediaExtract.extract(html).map(v =>
            (url, v.group_id, v.src, v.width, v.alt, v.format, v.score))
        }
        .toDF("url", "group_id", "src", "width", "alt", "format", "score")
    }),
  )

  // ---- frontier relational operators (admission, dedup, scoring, link
  // graph), DuckDB-oracled on the shared tables
  private val frontierQueries: Seq[Q] = Seq(
    // per-host politeness admission window: top-3 events per user by value
    // (row_number over partitionBy ~ per-host budget, SURVEY.md §2.5)
    Q("q_admission_window", (s, dir) => {
      val e = table(s, dir, "events")
      e.withColumn("rk", row_number().over(
          Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))))
        .where(col("rk") <= 3)
        .select(col("user_id"), col("event_id"), col("rk"))
    },
      """SELECT user_id, event_id, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin),
    // frontier dedup: anti-join (customers with no high-value order ~ URLs
    // absent from the seen set; filter pushed below the join)
    Q("q_anti_join", (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)""".stripMargin),
    // capacity top-k (score-desc truncation, bfs_strategy.py:124-131)
    Q("q_topk_capacity", (s, dir) => {
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),
    // epoch metrics aggregate (TraversalStats ~ groupBy().agg)
    Q("q_epoch_metrics", (s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       count(*) AS n, min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // broadcast dimension join (robots/domain-state shape)
    Q("q_dim_join", (s, dir) => {
      val c = table(s, dir, "customer"); val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers"))
        .orderBy("r_name")
    },
      """SELECT r_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    // union + first-wins dedup (seeder source union, SURVEY.md §2.10)
    Q("q_union_firstwins", (s, dir) => {
      val o = table(s, dir, "orders")
      val a = o.select(col("o_custkey").as("k"), lit(1).as("src_rank"), col("o_orderkey"))
      val b = o.select(col("o_custkey").as("k"), lit(2).as("src_rank"), col("o_orderkey"))
      a.unionByName(b)
        .withColumn("rk", row_number().over(
          Window.partitionBy("k").orderBy(col("src_rank"), col("o_orderkey"))))
        .where(col("rk") === 1)
        .select(col("k"), col("src_rank"), col("o_orderkey"))
    },
      """SELECT k, CAST(src_rank AS INTEGER) AS src_rank, o_orderkey FROM (
        |  SELECT k, src_rank, o_orderkey,
        |         row_number() OVER (PARTITION BY k ORDER BY src_rank, o_orderkey) AS rk
        |  FROM (SELECT o_custkey AS k, 1 AS src_rank, o_orderkey FROM orders
        |        UNION ALL
        |        SELECT o_custkey AS k, 2 AS src_rank, o_orderkey FROM orders))
        |WHERE rk = 1""".stripMargin),
    // URL canonicalization at scale — via the native codegen'd Catalyst
    // expression (graft.plans.CanonicalizeUrl), oracle-checkable shape
    Q("q_canonicalize", (s, dir) => {
      graft.plans.GraftExtensions.install(s)
      table(s, dir, "part")
        .withColumn("raw_url",
          concat(lit("HTTP://Example.COM/Part/"), col("p_partkey"),
            lit("?utm_source=x&b=2&a=1#frag")))
        .withColumn("canonical",
          call_function("canonicalize_url", col("raw_url"), lit(false)))
        .select(col("p_partkey"), col("canonical"))
    },
      """SELECT p_partkey,
        |       'http://example.com/Part/' || p_partkey || '?a=1&b=2' AS canonical
        |FROM part""".stripMargin),
    // link intrinsic scoring (pure column arithmetic; SQL-mirrorable)
    Q("q_link_score", (s, dir) => {
      val links = table(s, dir, "part").select(
        col("p_partkey"),
        col("p_name").as("text"),
        linkHref.as("url"),
        when(col("p_partkey") % 2 === 0, "Part details page").otherwise("").as("title_attr"),
        when(col("p_partkey") % 5 === 0, "nav-menu").otherwise("item").as("class_attr"),
        when(col("p_partkey") % 7 === 0, "nofollow").otherwise("").as("rel_attr"))
      links.select(col("p_partkey"),
        round(graft.functions.LinkScore.intrinsic(
          col("text"), col("url"), col("title_attr"), col("class_attr"),
          col("rel_attr"), typedLit(Seq.empty[String]), lit(false)), 4).as("link_score"))
    },
      s"""WITH l AS (
        |  SELECT p_partkey, p_name AS text,
        |$linkRowAttrsSql
        |  FROM part),
        |s AS (
        |  SELECT p_partkey,
        |$linkRawScoreSql
        |    AS raw
        |  FROM l)
        |SELECT p_partkey, round(greatest(0.0, least(raw, 10.0)), 4) AS link_score FROM s""".stripMargin),
    // link-head enrichment (link_preview.py:75-394): extracted links →
    // side/pattern/cap filter → TTL head store (fresh hits served, misses
    // fetched) → BM25 contextual score over valid head text → total_score =
    // 0.7·intrinsic + 0.3·min(contextual·10, 10), clamped (utils.py:3238)
    Q("q_link_head", (s, dir) => {
      val now = 1700000000000L
      val ttl = graft.sources.Seeder.HeadTtlMs
      val base = table(s, dir, "part").where(col("p_partkey") < 400)
      val links = base.select(
          col("p_partkey"),
          concat(lit("http://x.com/page/"), col("p_partkey") % 20).as("page_url"),
          linkHref.as("href"),
          col("p_name").as("text"),
          col("p_partkey").as("link_pos"),
          (col("p_partkey") % 4 =!= 0).as("is_internal"),
          when(col("p_partkey") % 2 === 0, "Part details page").otherwise("").as("title_attr"),
          when(col("p_partkey") % 5 === 0, "nav-menu").otherwise("item").as("class_attr"),
          when(col("p_partkey") % 7 === 0, "nofollow").otherwise("").as("rel_attr"))
        .withColumn("intrinsic_score", graft.functions.LinkScore.intrinsic(
          col("text"), col("href"), col("title_attr"), col("class_attr"),
          col("rel_attr"), typedLit(Seq.empty[String]), lit(false)))
        .select("p_partkey", "page_url", "href", "link_pos", "is_internal",
          "intrinsic_score")
      val store = base.where(col("p_partkey") % 5 === 0).select(
        linkHref.as("url"), lit("valid").as("status"),
        concat(col("p_name"), lit(" spark partition window text")).as("head"),
        when(col("p_partkey") % 2 === 0, now - 1000L)
          .otherwise(now - ttl - 1L).as("fetched_at"))
      val fetch = base.where(col("p_partkey") % 3 === 0).select(
        linkHref.as("url"), lit("valid").as("status"),
        concat(lit("executor spark "), col("p_name")).as("head"))
      val (enriched, _) = graft.sources.LinkPreview.enrich(links, store, fetch,
        graft.sources.LinkPreview.Config(
          includeInternal = true, includeExternal = false,
          excludePatterns = Seq("*checkout*"), maxLinks = 150,
          query = Seq("spark", "window"), nowMs = now))
      enriched.select(col("p_partkey"), col("head_status"),
        round(col("contextual_score"), 4).as("contextual_score"),
        round(col("total_score"), 4).as("total_score"))
    },
      s"""WITH l AS (
        |  SELECT p_partkey, p_name AS text,
        |    'http://x.com/page/' || (p_partkey % 20) AS page_url,
        |    p_partkey AS link_pos,
        |    (p_partkey % 4) <> 0 AS is_internal,
        |$linkRowAttrsSql
        |  FROM part WHERE p_partkey < 400),
        |intr AS (
        |  SELECT p_partkey, greatest(0.0, least(
        |$linkRawScoreSql
        |  , 10.0)) AS intrinsic
        |  FROM l),
        |cand AS (
        |  SELECT * FROM l WHERE is_internal AND url NOT LIKE '%checkout%'
        |  QUALIFY row_number() OVER (ORDER BY page_url, link_pos) <= 150),
        |req AS (SELECT DISTINCT url FROM cand),
        |store AS (
        |  SELECT
        |    $linkHrefSql AS url,
        |    'valid' AS status,
        |    p_name || ' spark partition window text' AS head,
        |    CASE WHEN p_partkey % 2 = 0 THEN 1700000000000 - 1000
        |         ELSE 1700000000000 - 604800000 - 1 END AS fetched_at
        |  FROM part WHERE p_partkey < 400 AND p_partkey % 5 = 0),
        |fx AS (
        |  SELECT
        |    $linkHrefSql AS url,
        |    'valid' AS status, 'executor spark ' || p_name AS head
        |  FROM part WHERE p_partkey < 400 AND p_partkey % 3 = 0),
        |fresh AS (
        |  SELECT r.url, s.status, s.head FROM req r JOIN store s USING (url)
        |  WHERE 1700000000000 - s.fetched_at <= 604800000),
        |fetched AS (
        |  SELECT m.url, coalesce(f.status, 'not_valid') AS status,
        |         coalesce(f.head, '') AS head
        |  FROM (SELECT url FROM req WHERE url NOT IN (SELECT url FROM fresh)) m
        |  LEFT JOIN fx f USING (url)),
        |served AS (
        |  SELECT url, status, head FROM fresh
        |  UNION ALL SELECT url, status, head FROM fetched),
        |corpus AS (
        |  SELECT url,
        |    list_filter(string_split_regex(lower(head), '[^a-z]+'), x -> x <> '') AS tk
        |  FROM served WHERE status = 'valid' AND head <> ''),
        |lens AS (SELECT url, len(tk) * 1.0 AS dl FROM corpus),
        |nn AS (SELECT count(*) AS n FROM corpus),
        |ad AS (SELECT avg(dl) AS avgdl FROM lens),
        |tf AS (
        |  SELECT url, term, count(*) AS tf
        |  FROM (SELECT url, unnest(tk) AS term FROM corpus)
        |  WHERE term IN ('spark', 'window') GROUP BY url, term),
        |idf AS (
        |  SELECT term, ln((nn.n - df + 0.5) / (df + 0.5) + 1.0) AS idf
        |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), nn),
        |bm AS (
        |  SELECT tf.url,
        |         sum(idf.idf * tf.tf * 2.5 /
        |             (tf.tf + 1.5 * (0.25 + 0.75 * lens.dl / ad.avgdl))) AS score
        |  FROM tf JOIN idf USING (term) JOIN lens ON tf.url = lens.url, ad
        |  GROUP BY tf.url),
        |ctx AS (
        |  SELECT served.url, served.status,
        |    CASE WHEN served.status = 'valid' AND served.head <> ''
        |         THEN coalesce(bm.score, 0.0) END AS contextual
        |  FROM served LEFT JOIN bm USING (url))
        |SELECT l.p_partkey,
        |  coalesce(ctx.status, 'not_requested') AS head_status,
        |  round(ctx.contextual, 4) AS contextual_score,
        |  round(CASE WHEN ctx.contextual IS NULL
        |        THEN greatest(0.0, least(intr.intrinsic, 10.0))
        |        ELSE greatest(0.0, least(10.0, intr.intrinsic * 0.7
        |             + least(ctx.contextual * 10.0, 10.0) * 0.3)) END, 4) AS total_score
        |FROM l JOIN intr USING (p_partkey) LEFT JOIN ctx ON l.url = ctx.url""".stripMargin),
    // composite URL scorers (freshness/path-depth/keyword, reference lookup
    // tables — SQL-mirrorable on constructed URLs)
    Q("q_url_scorers", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("url",
          concat(lit("https://shop.example.com/blog/"),
            year(col("o_orderdate")),
            lit("/order-"), col("o_orderkey"),
            when(col("o_orderpriority").startsWith("1"), "-urgent").otherwise("")))
      o.select(col("o_orderkey"),
        round(graft.functions.Scorers.freshnessScore(col("url"), 2024), 4).as("freshness"),
        round(graft.functions.Scorers.pathDepthScore(col("url"), 3), 4).as("depth_score"),
        round(graft.functions.Scorers.keywordRelevance(col("url"), Seq("urgent", "blog")), 4).as("kw_score"))
    },
      """WITH u AS (
        |  SELECT o_orderkey,
        |    'https://shop.example.com/blog/' || year(o_orderdate) || '/order-' || o_orderkey ||
        |      (CASE WHEN o_orderpriority LIKE '1%' THEN '-urgent' ELSE '' END) AS url
        |  FROM orders),
        |f AS (
        |  SELECT o_orderkey, url,
        |    list_max(list_transform(
        |      list_filter(regexp_extract_all(url, '(?:/|[-_])((?:19|20)\d{2})', 1),
        |                  x -> CAST(x AS INTEGER) <= 2024),
        |      x -> CAST(x AS INTEGER))) AS yr,
        |    len(list_filter(string_split(
        |      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
        |      x -> x <> '')) AS depth
        |  FROM u)
        |SELECT o_orderkey,
        |  round(CASE WHEN yr IS NULL THEN 0.5
        |       WHEN 2024 - yr = 0 THEN 1.0 WHEN 2024 - yr = 1 THEN 0.9
        |       WHEN 2024 - yr = 2 THEN 0.8 WHEN 2024 - yr = 3 THEN 0.7
        |       WHEN 2024 - yr = 4 THEN 0.6 WHEN 2024 - yr = 5 THEN 0.5
        |       ELSE greatest(0.1, 1.0 - (2024 - yr) * 0.1) END, 4) AS freshness,
        |  round(CASE WHEN abs(depth - 3) = 0 THEN 1.0 WHEN abs(depth - 3) = 1 THEN 0.5
        |       WHEN abs(depth - 3) = 2 THEN 1.0/3.0 WHEN abs(depth - 3) = 3 THEN 0.25
        |       ELSE 1.0 / (1.0 + abs(depth - 3)) END, 4) AS depth_score,
        |  round(((CASE WHEN lower(url) LIKE '%urgent%' THEN 1 ELSE 0 END)
        |       + (CASE WHEN lower(url) LIKE '%blog%' THEN 1 ELSE 0 END)) / 2.0, 4) AS kw_score
        |FROM f""".stripMargin),
    // politeness backoff evolution (deterministic RateLimiter semantics)
    Q("q_domain_backoff", (s, dir) => {
      import s.implicits._
      val st0 = Seq.empty[(String, Double, Int)].toDF("host", "current_delay", "fail_count")
      val results = table(s, dir, "events")
        .select(concat(lit("h"), col("user_id") % 997).as("host"),
          when(col("event_type") === "error", 503)
            .when(col("event_type") === "purchase", 429)
            .otherwise(200).as("status_code"))
      graft.politeness.DomainState.evolve(st0, results)
        .select(col("host"), round(col("current_delay"), 4).as("current_delay"),
          col("fail_count"), col("aborted"))
    },
      """WITH r AS (
        |  SELECT 'h' || (user_id % 997) AS host,
        |    CASE WHEN event_type = 'error' THEN 503
        |         WHEN event_type = 'purchase' THEN 429 ELSE 200 END AS status
        |  FROM events),
        |g AS (
        |  SELECT host,
        |    sum(CASE WHEN status IN (429, 503) THEN 1 ELSE 0 END) AS throttles,
        |    sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS successes
        |  FROM r GROUP BY host)
        |SELECT host,
        |  round(CASE WHEN throttles > 0 THEN least(2.0 * 2.0, 60.0)
        |             ELSE greatest(2.0, 2.0 * 0.75) END, 4) AS current_delay,
        |  CAST(CASE WHEN throttles > 0 THEN 1 ELSE 0 END AS INTEGER) AS fail_count,
        |  (CASE WHEN throttles > 0 THEN 1 ELSE 0 END) > 3 AS aborted
        |FROM g""".stripMargin),
    // link-graph authority: bit-reproducible quantized PageRank over a
    // deterministic doc-id-derived graph (hub + two rings + dangling nodes).
    // TRUE SQL: the whole fixed-point PageRank re-derived in DuckDB — edges
    // from the same doc-id arithmetic, then `iters` chained CTE iterations
    // of the exact integer recurrence (damp, floor divisions, dangling
    // share); every value is a long on both sides, so the compare is
    // bit-exact with NO exported artifact at all
    Q("q_pagerank", (s, dir) => {
      val src = table(s, dir, "documents")
        .where(col("doc_id") < 500 && col("doc_id") % 5 =!= 0)
        .select(col("doc_id").cast("long").as("src"))
      val edges = src.select(col("src"), ((col("src") * 7 + 1) % 500).as("dst"))
        .unionByName(src.select(col("src"), ((col("src") * 13 + 3) % 500).as("dst")))
        .unionByName(src.select(col("src"), lit(0L).as("dst")))
      PageRank.ranks(edges, iters = 8)
    },
      pageRankTrueSql(iters = 8, massBits = 32)),
  )

  // ---- training-data pipeline: dedup and similarity search
  private val dedupQueries: Seq[Q] = Seq(
    // exact dedup over documents ∪ a shifted exact-copy set (testdata has no
    // natural dups; the dup structure is constructed identically in SQL)
    Q("q_dedup_exact", (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = d.unionByName(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.exact(dups, "doc_id", "text")
    },
      """WITH dups AS (SELECT doc_id, text FROM documents
        |              UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
        |FROM dups GROUP BY md5(text)""".stripMargin),
    // exact n-gram Jaccard pairs on a bounded slice (inverted-index join)
    Q("q_ngram_jaccard", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 100)
      Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 2, minJaccard = 0.05)
        .withColumn("jaccard", round(col("jaccard"), 4))
    },
      s"""WITH $bigramSetsSql
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         len(list_intersect(a.s, b.s)) * 1.0 /
        |           (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE j >= 0.05""".stripMargin),
    // fuzzy-dedup clustering: exact-Jaccard near-dup pairs → distributed
    // connected components (large-star/small-star) → every doc labeled with
    // its component root and a canonical-survivor flag. The edge set is the
    // SQL-expressible q_ngram_jaccard form, so the oracle re-derives the whole
    // pipeline: a recursive CTE gives each doc the minimum doc_id it can reach
    // (= the distributed large-star/small-star result).
    Q("q_dedup_clusters", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 100)
      // 0.08 yields a mixed population at sf0.01 — ten multi-doc components
      // (chains included, so convergence needs multiple star rounds) plus
      // singletons, unlike 0.05 which collapses the slice into one component
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 2, minJaccard = 0.08)
      Dedup.clusterLabels(d, "doc_id", pairs)
    },
      s"""WITH RECURSIVE $bigramSetsSql,
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |           len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE j >= 0.08),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents WHERE doc_id < 100
        |  UNION
        |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
        |SELECT src AS doc_id, min(dst) AS component,
        |       (min(dst) = src) AS is_canonical
        |FROM reach GROUP BY src""".stripMargin),
    // MinHash+LSH near-dup pairs on the md5 basis, so the WHOLE pipeline is a
    // TRUE SQL oracle recomputed from the raw text in DuckDB (no fixture, no
    // export): md5 minhash signatures, 8×4 band blocking via exact slice
    // equality (the engine's band_hash is xxhash64 OF the same slice — equal
    // slices collide identically; a 2^-64 hash collision is the only
    // divergence), pair dedup, the 32-position agreement estimate and the 0.5
    // threshold. The xxh64 production basis runs the same code path modulo the
    // hash kernel and stays driver-oracled through q_minhash_incremental's
    // independent sequential twin.
    Q("q_minhash_lsh", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val dups = d.unionByName(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.minHashLsh(dups, "doc_id", "text", k = 32, bands = 8,
        minEstJaccard = 0.5, basis = "md5")
    },
      s"""WITH ${shingle3Sql(200)},
        |u AS MATERIALIZED (
        |  SELECT doc_id, s FROM sh
        |  UNION ALL SELECT doc_id + 100000 AS doc_id, s FROM sh),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, list_transform(range(0, 32),
        |    i -> list_min(list_transform(s, x -> md5(i || '|' || x)))) AS sig
        |  FROM u),
        |bk AS MATERIALIZED (
        |  SELECT sig.doc_id, bb.b,
        |         array_to_string(sig.sig[bb.b*4+1 : bb.b*4+4], ',') AS key
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb),
        |pr AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM bk a JOIN bk b2
        |    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id)
        |SELECT id_a, id_b, est_jaccard FROM (
        |  SELECT pr.id_a, pr.id_b,
        |         list_sum(list_transform(range(1, 33),
        |           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE
        |           / 32.0 AS est_jaccard
        |  FROM pr JOIN sig sa ON sa.doc_id = pr.id_a
        |          JOIN sig sb ON sb.doc_id = pr.id_b)
        |WHERE est_jaccard >= 0.5""".stripMargin),
    // cross-snapshot incremental dedup: probe an LSH index of docs < 150
    // with a later batch (fresh 150..249 + marked near-copies of indexed
    // docs) — the indexed corpus text is never re-scanned
    fixtureQ("q_minhash_incremental", (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val old = d.where(col("doc_id") < 150)
      val incoming = d.where(col("doc_id") >= 150 && col("doc_id") < 250)
        .unionByName(old.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" incremental snapshot marker")).as("text")))
      val idx = Dedup.minHashIndex(old, "doc_id", "text", k = 32, bands = 8)
      Dedup.minHashLshAgainst(incoming, "doc_id", "text", idx,
        k = 32, bands = 8, minEstJaccard = 0.5)
    }),
    // md5-keyed minhash signatures (the oracle-checkable twin of the
    // xxhash64 production path; estimates verified against true Jaccard in
    // the ScalaTest suite)
    Q("q_minhash_signature", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 150)
      d.select(col("doc_id"),
        concat_ws(",", Dedup.minHashSignatureMd5(
          TextAnalysis.shingles(col("text"), 3), 16)).as("sig"))
    },
      s"""WITH ${shingle3Sql(150)}
        |SELECT doc_id,
        |  array_to_string(list_transform(range(0, 16),
        |    i -> list_min(list_transform(s, x -> md5(i || '|' || x)))), ',') AS sig
        |FROM sh""".stripMargin),
    // TRUE SQL: fingerprints re-derived from the exported token→xxh64
    // tabulation (per-occurrence votes, integer arithmetic), pairs by BRUTE
    // all-pairs Hamming — verifying the Manku blocking's pigeonhole
    // completeness on every driver run
    Q("q_simhash_pairs", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val dups = d.unionByName(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.simHashPairs(dups, "doc_id", "text", maxDist = 3)
    },
      Fixtures.simHashTrueSql(maxDist = 3)),
    // single-pass corpus span dedup: globally-first k-gram occurrence wins
    // (row_number twin of the min(struct) reduction), covered positions of
    // later occurrences removed, docs reassembled from surviving tokens
    Q("q_span_dedup", (s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.spanDedup(d, "doc_id", "text", k = 8)
    },
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)
        |  WHERE len(toks) >= 8),
        |ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM occ),
        |removedpos AS (
        |  SELECT DISTINCT doc_id, pos + off AS pos
        |  FROM (SELECT doc_id, pos FROM ranked WHERE rn > 1) r,
        |       LATERAL (SELECT unnest(generate_series(0, 7)) AS off)),
        |tokrows AS (
        |  SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |surv AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tokrows t
        |  ANTI JOIN removedpos r ON t.doc_id = r.doc_id AND t.pos = r.pos),
        |re AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM surv GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(d.toks) - coalesce(re.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(re.clean_text, '') AS clean_text
        |FROM docs d LEFT JOIN re USING (doc_id)""".stripMargin),
    // 13-gram benchmark decontamination: distinct doc grams ∩ bench grams
    Q("q_decontaminate", (s, dir) => {
      val d = table(s, dir, "documents")
      val bench = d.where(col("doc_id") % 97 === 0)
      Dedup.contamination(d, "doc_id", "text", bench, "text", k = 13)
    },
      """WITH g AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |dg AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(toks) - 12),
        |             i -> array_to_string(toks[i:i+12], ' '))) AS gram
        |    FROM g WHERE len(toks) >= 13)),
        |bg AS (
        |  SELECT DISTINCT gram FROM dg
        |  WHERE doc_id % 97 = 0),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hit_grams
        |  FROM dg JOIN bg USING (gram) GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CAST(greatest(len(g.toks) - 12, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
        |  coalesce(h.n_hit_grams, 0) > 0 AS is_contaminated
        |FROM g LEFT JOIN hits h USING (doc_id)""".stripMargin),
    // brute-force cosine top-k; TRUE SQL (bit-exact): the engine's
    // float-multiply cosine unrolled in index order — DuckDB's own
    // list_cosine_similarity evaluates float lists in FLOAT32 and would need
    // rounding on both sides
    Q("q_embedding_topk", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
      // RAW sim doubles — the TRUE SQL oracle reproduces the float-multiply
      // cosine bit-for-bit, so no rounding (and no rounding flake surface)
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
    },
      Fixtures.bruteTopKTrueSql(dim = 64, k = 10)),
    // sign-bucket LSH with 1-bit-flip multi-probe; TRUE SQL oracle
    // re-derives sign-buckets + multi-probe set + exact float-multiply cosine
    // + top-k from the exported (data-independent) hyperplane matrix
    Q("q_ann_lsh_topk", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
      Similarity.lshTopK(e, "vec_id", "embedding", q, 10, planes = 6)
    },
      Fixtures.lshTrueSql(dim = 64, k = 10)),
    // trained coarse quantizer: distributed Lloyd's on a hash-sample, then a
    // partition-prunable nProbe-cell probe — the at-scale IVF shape; TRUE SQL
    // oracle re-derives coarse assignment + probe selection + exact cosine +
    // top-k from the engine-exported trained centroids
    Q("q_ann_ivf_trained", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
      val centroids = Similarity.trainIvf(e, "vec_id", "embedding",
        cells = 8, iters = 3, trainFraction = 0.5)
      Similarity.ivfTopKTrained(e, "vec_id", "embedding", q, 10, centroids, nProbe = 4)
    },
      Fixtures.ivfTrainedTrueSql(dim = 64, k = 10, nProbe = 4)),
    // product quantization (Jégou 2011): per-subspace codebooks trained
    // with quantized-long Lloyd's (bit-reproducible under any merge order),
    // corpus encoded to m codes, query answered by ADC table lookups —
    // the compressed-vector scale path; TRUE SQL oracle re-derives
    // encode + ADC + top-k from the engine-exported codebooks (exact unrolled
    // arithmetic, no fixture rows)
    Q("q_ann_pq", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
      val cb = Similarity.trainPq(e, "vec_id", "embedding",
        m = 8, k = 16, iters = 3, trainFraction = 0.5)
      // RAW adc_d2 doubles: the TRUE SQL oracle reproduces them bit-for-bit
      // (unrolled index-order arithmetic), so no rounding is needed — and
      // rounding would only ADD a flake surface (Spark's BigDecimal HALF_UP
      // vs DuckDB's multiply-based ROUND can disagree on decimal ties)
      Similarity.pqTopK(e, "vec_id", "embedding", q, 10, cb)
    },
      Fixtures.pqTrueSql(m = 8, subDim = 8, k = 10)),
    // IVF-PQ composed (FAISS IVFADC layout): coarse cells + shared PQ on
    // residuals + per-cell ADC probe — cells partition-prune, codes replace
    // the float column; TRUE SQL oracle re-derives assignment + residual
    // encode + probe selection + per-cell ADC + top-k from the engine-exported
    // centroids/codebooks
    Q("q_ann_ivfpq", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
      // RAW adc_d2 doubles — bit-exact vs the TRUE SQL oracle, see q_ann_pq
      Similarity.ivfPqTopK(e, "vec_id", "embedding", q, 10,
          cells = 8, m = 8, cbk = 16, iters = 3, trainFraction = 0.5, nProbe = 4)
    },
      Fixtures.ivfPqTrueSql(m = 8, subDim = 8, k = 10, nProbe = 4)),
    // SemDeDup (Abbas et al. 2023): trained-quantizer blocking + within-cell
    // cosine pairs + connected-components canonical survivors. Cells scale
    // with the corpus (cellsFor: occupancy-bounded, the paper's cells ≈
    // n/target) so the within-cell pair work scales with n, not n²/cells —
    // the assignment argmin is O(n·cells·dim), which is why cellsFor caps
    // cells and semDedup offers maxCellSize sub-blocking past the cap. TRUE SQL
    // oracle: coarse assignment + within-cell exact cosine pairs +
    // recursive-CTE components + min-id canonical, re-derived from the
    // engine-exported trained centroids (the export computes cells by the
    // identical formula from the same input size).
    Q("q_semdedup", (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val dups = e.where(col("vec_id") < 100)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      // size cells from ONE aggregation pass (total + dup-eligible rows):
      // input.count() would add a full union scan on top of semDedup's own
      // train/assign passes just to pick a parameter
      val sizes = e.agg(count(lit(1)),
        count(when(col("vec_id") < 100, 1))).head()
      val n = sizes.getLong(0) + sizes.getLong(1)
      Dedup.semDedup(e.unionByName(dups), "vec_id", "embedding",
        cells = Dedup.cellsFor(n), minCosine = 0.999,
        iters = 2, trainFraction = 0.5)
    },
      Fixtures.semDedupTrueSql(dim = 64)),
    // embedding near-dups; TRUE SQL: sign-buckets + same-bucket pairs + exact
    // float-multiply cosine threshold re-derived in DuckDB from the exported
    // hyperplane matrix
    Q("q_embedding_neardup", (s, dir) => {
      val e = table(s, dir, "embeddings").where(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      val dups = e.unionByName(
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      // RAW cosine doubles — bit-exact vs the TRUE SQL oracle, see q_ann_pq
      Dedup.embeddingNearDup(dups, "vec_id", "embedding", planes = 8, minCosine = 0.999)
    },
      Fixtures.neardupTrueSql(dim = 64)),
    // corpus-trained embedding, step 1 (the exact-integer surface): windowed
    // token co-occurrence — per-row pair generation, NO self-join, one
    // aggregation shuffle (ops/CorpusEmbed trains PPMI + random-projection
    // vectors from this table)
    Q("q_cooccurrence", (s, dir) => {
      graft.ops.CorpusEmbed.cooccurrence(
        table(s, dir, "documents").where(col("doc_id") < 200),
        "text", window = 3, minCount = 5)
    },
      """WITH arrs AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS arr
        |  FROM documents WHERE doc_id < 200
        |),
        |toks AS (
        |  SELECT doc_id, arr[i] AS tok, i AS ord
        |  FROM arrs, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i)
        |)
        |SELECT a.tok AS term_a, b.tok AS term_b, CAST(count(*) AS BIGINT) AS n
        |FROM toks a JOIN toks b
        |  ON a.doc_id = b.doc_id AND b.ord > a.ord AND b.ord <= a.ord + 3
        |GROUP BY 1, 2
        |HAVING count(*) >= 5""".stripMargin),
  )

  // ---- training-data pipeline: curation end to end, quality filters and
  // sampling
  private val curationQueries: Seq[Q] = Seq(
    // The full curation pipeline end to end over a corpus with constructed
    // exact copies and light edits: quality+repetition gates → exact dedup →
    // jaccard fuzzy dedup (the SQL-expressible path) → 13-gram
    // decontamination → deterministic 0.5 sample. The oracle chains the
    // already-green SQL of each stage's standalone query.
    Q("q_curate", (s, dir) => {
      val (d, copies, marked) = curatedCorpus(s, dir, " graft curated trailing marker")
      val bench = d.where(col("doc_id") % 97 === 0)
      Curate.curateCorpus(d.unionByName(copies).unionByName(marked),
          "doc_id", "text", Some(bench), "text",
          curateGates.copy(fuzzy = "jaccard", fuzzyThreshold = 0.5, fuzzyN = 2,
            spanK = 0, benchK = 13, sampleFraction = 0.5, salt = "r3"))
        .select(col("doc_id"), round(col("quality"), 4).as("quality"))
    },
      s"""${curateExactSql(" graft curated trailing marker")}
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(tk) >= 2
        |         THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
        |         ELSE [array_to_string(tk, ' ')] END) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk
        |        FROM exact)),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |           len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE j >= 0.5),
        |$curateComponentsSql,
        |fuzzy AS (
        |  SELECT e.doc_id, e.text, e.quality FROM exact e JOIN comp c USING (doc_id)
        |  WHERE c.component = e.doc_id),
        |ftoks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM fuzzy),
        |dg AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(toks) - 12),
        |             i -> array_to_string(toks[i:i+12], ' '))) AS gram
        |    FROM ftoks WHERE len(toks) >= 13)),
        |bg AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(btk) - 12),
        |           i -> array_to_string(btk[i:i+12], ' '))) AS gram
        |    FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS btk
        |          FROM documents WHERE doc_id < 200 AND doc_id % 97 = 0)
        |    WHERE len(btk) >= 13)),
        |contaminated AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (gram)),
        |clean AS (
        |  SELECT f.doc_id, f.quality FROM fuzzy f
        |  ANTI JOIN contaminated c USING (doc_id))
        |SELECT doc_id, round(quality, 4) AS quality
        |FROM clean
        |WHERE md5('r3|' || CAST(doc_id AS VARCHAR)) < '80000000000000000000000000000000'""".stripMargin),
    // Curation through the EMBEDDING fuzzy path (the Embedder seam): the
    // Md5BowExact kernel's slot/sign arithmetic is derivable in DuckDB and
    // its integer slot sums make every engine cosine EXACT double
    // arithmetic (bit-identical to the oracle's). The oracle runs the same
    // gates and exact dedup, re-derives the Md5Bow vectors from md5 hex
    // digits (the q_cosine_filter slot/sign arithmetic), brute-forces every
    // pairwise cosine ≥ 0.95 and re-clusters, so the banded sign-bucket
    // blocking must find exactly the true pairs.
    Q("q_curate_semantic", (s, dir) => {
      val (d, copies, marked) = curatedCorpus(s, dir, " semantic curated trailing marker")
      Curate.curateCorpus(d.unionByName(copies).unionByName(marked),
          "doc_id", "text", None, "text",
          curateGates.copy(fuzzy = "embedding", fuzzyThreshold = 0.95,
            // 12 plane families: per-pair LSH miss probability ~(1-r^8)^12
            // ≈ 1e-7 at r≈0.96, so the blocking finds every true pair and
            // the brute-force oracle is exact on this corpus
            embeddingBands = 12,
            spanK = 0, sampleFraction = 1.0),
          embedder = graft.ops.Embedder.Md5BowExact(64))
        .select(col("doc_id"), round(col("quality"), 4).as("quality"))
    },
      s"""${curateExactSql(" semantic curated trailing marker")}
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tk
        |  FROM exact),
        |feat AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(tk), 2, 1)) - 1)) % 64 AS slot,
        |    CASE WHEN strpos('0123456789abcdef', substr(md5(tk), 3, 1)) - 1 < 8
        |         THEN 1 ELSE -1 END AS sign
        |  FROM tok),
        |vec AS (SELECT doc_id, slot, CAST(sum(sign) AS DOUBLE) AS v FROM feat GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM vec GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.v * b.v) AS dot
        |  FROM vec a JOIN vec b ON a.slot = b.slot AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM dots
        |  JOIN norms na ON dots.id_a = na.doc_id
        |  JOIN norms nb ON dots.id_b = nb.doc_id
        |  WHERE na.n > 0 AND nb.n > 0 AND dot / (na.n * nb.n) >= 0.95),
        |$curateComponentsSql
        |SELECT e.doc_id, round(e.quality, 4) AS quality
        |FROM exact e JOIN comp c USING (doc_id)
        |WHERE c.component = e.doc_id""".stripMargin),
    // fastText-style classifier: train on marker-labeled docs, score a
    // held-in slice; quantized-long gradients make the model bit-exactly
    // reproducible, so the fixture is the same math run sequentially
    fixtureQ("q_quality_classifier", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
              concat(col("text"), lit(" curated wellformed prose paragraph")))
            .otherwise(concat(col("text"), lit(" boilerplate spam garbled listing")))
            .as("text"),
          when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0).as("label"))
      val m = QualityClassifier.train(d, "text", "label",
        dim = 1 << 14, iters = 20)
      QualityClassifier.score(d.where(col("doc_id") < 100), "doc_id", "text", m)
    }),
    // C4-style line-level cleaning: one scan-stage projection. The synthetic
    // corpus is single-line punctuation-free token soup, so the query derives
    // multi-line text in-plan (identically in the DuckDB twin) to exercise
    // every rule: kept lines, word-count/javascript line removal, and
    // lorem-ipsum/brace whole-doc drops. TRUE oracle: the C4 rules expressed
    // verbatim in DuckDB list functions.
    Q("q_c4_clean", (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"), lit(".\n"),
          lit("tiny line.\n"),
          col("text"), lit(" and more words here!\n"),
          when(col("doc_id") % 7 === 0,
            lit("please enable javascript in your browser.\n")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("lorem ipsum dolor sit amet today.\n")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit("function f() { return 1; }\n")).otherwise(lit("")),
          col("text"), lit("?")).as("text"))
      TextAnalysis.c4Clean(d, "doc_id", "text")
    },
      """WITH e AS (
        |  SELECT doc_id,
        |    text || '.' || chr(10) ||
        |    'tiny line.' || chr(10) ||
        |    text || ' and more words here!' || chr(10) ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN 'please enable javascript in your browser.' || chr(10) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |         THEN 'lorem ipsum dolor sit amet today.' || chr(10) ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |         THEN 'function f() { return 1; }' || chr(10) ELSE '' END ||
        |    text || '?' AS text
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    string_split_regex(text, '\r?\n') AS lines,
        |    list_filter(list_transform(string_split_regex(text, '\r?\n'), x -> trim(x)),
        |      t -> right(t, 1) IN ('.', '!', '?', '"')
        |           AND len(list_filter(string_split_regex(t, '\s+'), w -> w <> '')) >= 5
        |           AND NOT contains(lower(t), 'javascript')) AS kept,
        |    (contains(text, '{') OR contains(lower(text), 'lorem ipsum')) AS hard_drop
        |  FROM e)
        |SELECT doc_id,
        |  CAST(len(lines) AS INT) AS n_lines,
        |  CAST(len(kept) AS INT) AS n_kept,
        |  (hard_drop OR len(kept) < 3) AS dropped,
        |  CASE WHEN hard_drop OR len(kept) < 3 THEN ''
        |       ELSE array_to_string(kept, chr(10)) END AS clean_text
        |FROM d
        |""".stripMargin),
    // blocklist document flag: per-token membership (word-boundary rule);
    // TRUE oracle: token-set overlap over the same lowercase letter-run
    // tokenizer — substring hits must NOT count
    Q("q_blocklist", (s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.blocklistHit(col("text"),
          Seq("spark", "window", "nonexistentterm")).as("blocked"))
    },
      """SELECT doc_id,
        |  len(list_intersect(
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> ''),
        |    ['spark', 'window', 'nonexistentterm'])) > 0 AS blocked
        |FROM documents
        |""".stripMargin),
    // deterministic per-stratum quota sample: top-100 by md5(salt|key)
    Q("q_stratified_sample", (s, dir) => {
      val o = table(s, dir, "orders")
      Sampling.stratifiedQuota(o, "o_orderpriority", "o_orderkey",
          quota = 100, salt = "r3")
        .select(col("o_orderpriority"), col("o_orderkey"), col("sample_rank"))
    },
      """SELECT o_orderpriority, o_orderkey, CAST(sample_rank AS INTEGER) AS sample_rank
        |FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY md5('r3|' || CAST(o_orderkey AS VARCHAR)),
        |               CAST(o_orderkey AS VARCHAR)) AS sample_rank
        |  FROM orders)
        |WHERE sample_rank <= 100""".stripMargin),
    // deterministic hash-threshold Bernoulli sample at fraction 0.2
    Q("q_hash_sample", (s, dir) => {
      val d = table(s, dir, "documents")
      Sampling.hashFraction(d, "doc_id", 0.2, salt = "r3")
        .select("doc_id", "source")
    },
      """SELECT doc_id, source FROM documents
        |WHERE md5('r3|' || CAST(doc_id AS VARCHAR)) < '33333333333334000000000000000000'""".stripMargin),
    // τ=0.5 domain-mixing resample: engine-exact (integer-quantized √n
    // weights, fixed-parenthesization thresholds, 60-bit md5 prefix); the
    // oracle repeats the same threshold arithmetic
    Q("q_temperature_sample", (s, dir) => {
      val d = table(s, dir, "documents")
      Sampling.temperatureSample(d, "source", "doc_id",
          temperature = 0.5, fraction = 0.5, salt = "r3")
        .select("doc_id", "source")
    },
      """WITH c AS (
        |  SELECT source AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT s, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS wq
        |  FROM c),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(wq) AS BIGINT) AS wt
        |  FROM w),
        |th AS (
        |  SELECT s,
        |    CAST(floor(least(1.0,
        |      0.5 * ((CAST(nt AS DOUBLE) * CAST(wq AS DOUBLE)) /
        |             (CAST(wt AS DOUBLE) * CAST(n AS DOUBLE))))
        |      * 1152921504606846976.0) AS BIGINT) AS t
        |  FROM w CROSS JOIN tot)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN th ON d.source = th.s
        |WHERE CAST(concat('0x',
        |  substr(md5('r3|' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < th.t""".stripMargin),
    // repeat-factor upsampling: en ×2.5, de ×1.25, everything else ×1 —
    // integer-quantized factors (floor(w·2^20)), base copies by integer
    // division, fractional copy by 60-bit hash compare
    Q("q_upsample", (s, dir) => {
      Sampling.upsampleRepeat(table(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.5, "de" -> 1.25), salt = "r3")
        .select("doc_id", "lang", "copy_id")
    },
      """WITH f AS (SELECT * FROM (VALUES ('en', 2621440), ('de', 1310720)) AS t(s, wq)),
        |j AS (
        |  SELECT d.doc_id, d.lang, CAST(COALESCE(f.wq, 1048576) AS BIGINT) AS wq,
        |    CAST(concat('0x', substr(md5('r3|' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents d LEFT JOIN f ON d.lang = f.s),
        |n AS (
        |  SELECT doc_id, lang,
        |    wq // 1048576 +
        |      CASE WHEN h < (wq % 1048576) * 1099511627776 THEN 1 ELSE 0 END AS n
        |  FROM j)
        |SELECT doc_id, lang,
        |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS copy_id
        |FROM n WHERE n > 0""".stripMargin),
    // consistent train/valid/test hash split, 80/10/10: cut points mirror
    // the operator's scanLeft chain ((0.8+0.1)+0.1 total, cumulative w/total,
    // floor(cum·2^60))
    Q("q_split", (s, dir) => {
      Sampling.splitByHash(table(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = "r3")
        .select("doc_id", "split")
    },
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5('r3|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN h < CAST(floor((0.8 / ((0.8 + 0.1) + 0.1)) * 1152921504606846976.0) AS BIGINT)
        |       THEN 'train'
        |       WHEN h < CAST(floor(((0.8 / ((0.8 + 0.1) + 0.1)) + (0.1 / ((0.8 + 0.1) + 0.1)))
        |                     * 1152921504606846976.0) AS BIGINT)
        |       THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin),
    // DSIR importance resampling: the 100 raw docs most like the en-labeled
    // target slice — hashed-unigram importance weights (λ=1 over 256
    // md5-prefix buckets), deterministic Gumbel top-k, same
    // fixed-parenthesization arithmetic in the oracle
    Q("q_dsir_sample", (s, dir) => {
      val d = table(s, dir, "documents")
      Sampling.dsirResample(d, d.where(col("lang") === "en"),
        "doc_id", "text", k = 100, hexChars = 2, lambda = 1.0, salt = "r3")
    },
      """WITH rw AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w
        |  FROM documents),
        |tw AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w
        |  FROM documents WHERE lang = 'en'),
        |rb AS (SELECT substr(md5(w), 1, 2) AS b, count(*) AS cr FROM rw GROUP BY 1),
        |tb AS (SELECT substr(md5(w), 1, 2) AS b, count(*) AS ct FROM tw GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM rb) AS nr,
        |               (SELECT CAST(sum(ct) AS DOUBLE) FROM tb) AS nt),
        |model AS (
        |  SELECT COALESCE(rb.b, tb.b) AS b,
        |    ln((COALESCE(ct, 0) + 1.0) / (nt + 256.0)) -
        |    ln((COALESCE(cr, 0) + 1.0) / (nr + 256.0)) AS lw
        |  FROM rb FULL JOIN tb ON rb.b = tb.b CROSS JOIN tot),
        |dw AS (
        |  SELECT doc_id, sum(lw) AS logw
        |  FROM rw JOIN model ON substr(md5(rw.w), 1, 2) = model.b
        |  GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id, COALESCE(dw.logw, 0.0) AS logw,
        |    -ln(-ln((CAST(concat('0x',
        |        substr(md5('r3|g|' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      + 0.5) / 1152921504606846976.0)) AS g
        |  FROM documents d LEFT JOIN dw ON d.doc_id = dw.doc_id)
        |SELECT doc_id, round(logw, 4) AS log_weight
        |FROM scored ORDER BY logw + g DESC, doc_id LIMIT 100""".stripMargin),
    // sequence packing: concat-then-chunk manifest, one stream per source —
    // running token offset per source stream, exact floor-division pack
    // bounds
    Q("q_pack_sequences", (s, dir) =>
      Pack.packSequences(table(s, dir, "documents"),
        "source", "doc_id", "text", seqLen = 512),
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM t)
        |SELECT doc_id, source, n_tokens, start_off,
        |  CASE WHEN n_tokens > 0
        |       THEN CAST(floor(CAST(start_off AS DOUBLE) / 512.0) AS BIGINT) END AS pack_first,
        |  CASE WHEN n_tokens > 0
        |       THEN CAST(floor(CAST(start_off + n_tokens - 1 AS DOUBLE) / 512.0) AS BIGINT) END AS pack_last
        |FROM o""".stripMargin),
  )

  // ---- training-data pipeline: text analysis, tokenization, chunking and
  // extraction
  private val textQueries: Seq[Q] = Seq(
    // stupid-backoff trigram LM scoring: per-token S quantized to integer
    // billionths (floor(S*1e9)) and summed as BIGINT — bit-exact across
    // engines, no float-sum nondeterminism (IEEE division + 0.4 literal only)
    Q("q_ngram_lm", (s, dir) => {
      val d = table(s, dir, "documents")
      val counts = NgramLm.train(d, "text")
      NgramLm.scoreStupidBackoff(
        d.where(col("doc_id") < 200), "doc_id", "text", counts)
    },
      ngramLmScoredSql),
    // CCNet head/middle/tail split of the LM-scored slice; cutoffs from a
    // deterministic 0.5 hash-sample, assignment a scan-stage comparison. The
    // oracle chains onto the SAME scoring statement: integer per-token
    // average, rank cutoffs on the md5 hash-sample, fixed-value comparison —
    // every step exact in both engines
    Q("q_ccnet_buckets", (s, dir) => {
      val d = table(s, dir, "documents")
      val scored = NgramLm.scoreStupidBackoff(
        d.where(col("doc_id") < 200), "doc_id", "text", NgramLm.train(d, "text"))
      NgramLm.ccnetBuckets(scored, "doc_id", sampleFraction = 0.5, salt = "r3")
    },
      s"""WITH scored AS ($ngramLmScoredSql),
        |av AS (
        |  SELECT doc_id,
        |    CASE WHEN n_tokens > 0 THEN score_q9 // n_tokens ELSE 0 END AS avg_q9
        |  FROM scored),
        |samp AS (
        |  SELECT doc_id, avg_q9 FROM av
        |  WHERE md5('r3|' || CAST(doc_id AS VARCHAR)) < '80000000000000000000000000000000'),
        |ranked AS (
        |  SELECT avg_q9,
        |    CAST(row_number() OVER (ORDER BY avg_q9 DESC, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM samp),
        |th AS (SELECT
        |    max(CASE WHEN rn = CAST(ceil(m * ${1.0 / 3}) AS BIGINT) THEN avg_q9 END) AS t_head,
        |    max(CASE WHEN rn = CAST(ceil(m * ${2.0 / 3}) AS BIGINT) THEN avg_q9 END) AS t_tail
        |  FROM ranked)
        |SELECT a.doc_id, a.avg_q9,
        |  CASE WHEN a.avg_q9 >= t.t_head THEN 'head'
        |       WHEN a.avg_q9 >= t.t_tail THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM av a CROSS JOIN th t""".stripMargin),
    // BPE tokenizer training + apply (sequential-oracle fixtures)
    fixtureQ("q_bpe_merges", (s, dir) =>
      Bpe.train(table(s, dir, "documents").where(col("doc_id") < 200),
        "text", merges = 30)),
    fixtureQ("q_bpe_tokens", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 100)
      Bpe.segment(d, "doc_id", "text", Bpe.train(d, "text", merges = 20))
    }),
    // Gopher-family repetition signals: duplicate-line char fraction plus
    // top-{2,3}-gram and duplicated-{5,10}-gram char fractions
    Q("q_repetition", (s, dir) => {
      val d = table(s, dir, "documents")
      val sig = TextAnalysis.repetitionSignals(d, "doc_id", "text",
        topNs = Seq(2, 3), dupNs = Seq(5, 10))
      val fracs = Seq("dup_line_frac", "top2_gram_frac", "top3_gram_frac",
        "dup5_gram_frac", "dup10_gram_frac")
      fracs.foldLeft(sig)((df, c) => df.withColumn(c, round(col(c), 4)))
    },
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(lines) AS INTEGER) AS n_lines,
        |    CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS line_chars,
        |    CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
        |       - coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS BIGINT) AS dup_line_chars,
        |    toks
        |  FROM base),
        |grams AS (
        |  SELECT doc_id, n,
        |    unnest(list_transform(generate_series(1, len(toks) - (n - 1)),
        |                          i -> array_to_string(toks[i:i+n-1], ' '))) AS g
        |  FROM ls, (SELECT unnest([2,3,5,10]) AS n) ns
        |  WHERE len(toks) >= n),
        |counts AS (SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY doc_id, n, g),
        |ga AS (
        |  SELECT doc_id,
        |    CAST(coalesce(max(CASE WHEN n=2 THEN cnt*length(g) END), 0) AS BIGINT) AS top2_gram_chars,
        |    CAST(coalesce(max(CASE WHEN n=3 THEN cnt*length(g) END), 0) AS BIGINT) AS top3_gram_chars,
        |    CAST(coalesce(sum(CASE WHEN n=5 AND cnt>1 THEN (cnt-1)*length(g) ELSE 0 END), 0) AS BIGINT) AS dup5_gram_chars,
        |    CAST(coalesce(sum(CASE WHEN n=10 AND cnt>1 THEN (cnt-1)*length(g) ELSE 0 END), 0) AS BIGINT) AS dup10_gram_chars
        |  FROM counts GROUP BY doc_id)
        |SELECT l.doc_id, l.n_chars, l.n_lines, l.dup_line_chars, l.line_chars,
        |  coalesce(g.top2_gram_chars, 0) AS top2_gram_chars,
        |  coalesce(g.top3_gram_chars, 0) AS top3_gram_chars,
        |  coalesce(g.dup5_gram_chars, 0) AS dup5_gram_chars,
        |  coalesce(g.dup10_gram_chars, 0) AS dup10_gram_chars,
        |  round(l.dup_line_chars * 1.0 / greatest(l.line_chars, 1), 4) AS dup_line_frac,
        |  round(coalesce(g.top2_gram_chars, 0) * 1.0 / greatest(l.n_chars, 1), 4) AS top2_gram_frac,
        |  round(coalesce(g.top3_gram_chars, 0) * 1.0 / greatest(l.n_chars, 1), 4) AS top3_gram_frac,
        |  round(coalesce(g.dup5_gram_chars, 0) * 1.0 / greatest(l.n_chars, 1), 4) AS dup5_gram_frac,
        |  round(coalesce(g.dup10_gram_chars, 0) * 1.0 / greatest(l.n_chars, 1), 4) AS dup10_gram_frac
        |FROM ls l LEFT JOIN ga g USING (doc_id)""".stripMargin),
    Q("q_token_stats", (s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("n_words"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        size(TextAnalysis.tokens(col("text"))).as("n_alpha_tokens"))
    },
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_words,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS INTEGER) AS n_alpha_tokens
        |FROM documents""".stripMargin),
    Q("q_lang_id", (s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang")
    },
      """WITH tk AS (
        |  SELECT doc_id, list_distinct(
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t
        |  FROM documents),
        |ev AS (
        |  SELECT doc_id,
        |    len(list_intersect(t, ['der','die','das','und','ist','ich','nicht','ein','zu','mit'])) AS de,
        |    len(list_intersect(t, ['the','a','and','of','to','in','is','it','that','was'])) AS en,
        |    len(list_intersect(t, ['el','la','los','las','un','una','es','que','por','para'])) AS es,
        |    len(list_intersect(t, ['le','la','et','les','des','un','une','est','que','pour'])) AS fr
        |  FROM tk)
        |SELECT pred_lang, count(*) AS n FROM (
        |  SELECT CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |              WHEN de = greatest(de, en, es, fr) THEN 'de'
        |              WHEN en = greatest(de, en, es, fr) THEN 'en'
        |              WHEN es = greatest(de, en, es, fr) THEN 'es'
        |              ELSE 'fr' END AS pred_lang
        |  FROM ev)
        |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin),
    Q("q_quality_score", (s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
    },
      raw"""WITH t AS (
        |  SELECT doc_id, text, length(text) AS n_chars,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS wtoks,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS atoks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars, len(wtoks) AS n_words,
        |$qualitySignalsSql
        |  FROM t)
        |SELECT doc_id, round(
        |$qualityScoreSql, 4) AS quality
        |FROM m""".stripMargin),
    Q("q_fingerprint", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 200)
      d.select(col("doc_id"), TextAnalysis.fingerprint(col("text"), 3).as("fp"))
    },
      s"""WITH ${shingle3Sql(200)}
        |SELECT doc_id, list_min(list_transform(s, x -> md5(x))) AS fp FROM sh""".stripMargin),
    Q("q_bm25", (s, dir) => {
      val d = table(s, dir, "documents")
      Bm25.score(d, "doc_id", "text", Seq("spark", "window"))
        .withColumn("score", round(col("score"), 4))
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk
        |  FROM documents),
        |lens AS (SELECT doc_id, len(tk) * 1.0 AS dl FROM toks),
        |nn AS (SELECT count(*) AS n FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM lens),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
        |  WHERE term IN ('spark', 'window') GROUP BY doc_id, term),
        |idf AS (
        |  SELECT term, ln((nn.n - df + 0.5) / (df + 0.5) + 1.0) AS idf
        |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), nn)
        |SELECT tf.doc_id,
        |       round(sum(idf.idf * tf.tf * 2.5 /
        |             (tf.tf + 1.5 * (0.25 + 0.75 * lens.dl / ad.avgdl))), 4) AS score
        |FROM tf JOIN idf USING (term) JOIN lens ON tf.doc_id = lens.doc_id, ad
        |GROUP BY tf.doc_id""".stripMargin),
    // chunk + BM25-ish relevance filter pipeline (RegexChunking shape:
    // fixed 10-word windows since the corpus has no sentence punctuation)
    Q("q_chunk_filter", (s, dir) => {
      // compiled chunking kernel (twin of the sequence/slice Column form,
      // equality asserted in OpsSpec — HOF lambdas are interpreted in Spark 4)
      val chunkU = udf((t: String) => graft.ops.TextAnalysis.fixedChunksFast(t, 10))
      val d = table(s, dir, "documents")
        .withColumn("chunks", chunkU(col("text")))
      graft.scrape.ContentFilter.bm25ChunkPipeline(d, "doc_id", "chunks",
          Seq("spark", "window"), 1.0)
        .select(col("doc_id"), col("n_kept"),
          concat_ws("||", col("fit_chunks")).as("fit_text"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(0, ((len(tk) - 1) // 10) + 1),
        |           i -> {'idx': i, 'chunk': array_to_string(tk[i*10+1 : i*10+10], ' ')})) AS u
        |  FROM t),
        |s AS (
        |  SELECT doc_id, u.idx AS idx, u.chunk AS chunk,
        |    len(list_filter(string_split(u.chunk, ' '), x -> x = 'spark')) +
        |    len(list_filter(string_split(u.chunk, ' '), x -> x = 'window')) AS score
        |  FROM c)
        |SELECT doc_id, count(*) AS n_kept,
        |       string_agg(chunk, '||' ORDER BY idx) AS fit_text
        |FROM s WHERE score >= 1 GROUP BY doc_id""".stripMargin),
    // SlidingWindowChunking (chunking_strategy.py:175-213) as the alternative
    // chunker feeding the same BM25 chunk-filter pipeline (window=12, step=5):
    // main windows at i*5, plus a trailing last-12-words window when the end
    // is misaligned; <=12-word texts pass through whole
    Q("q_chunk_window", (s, dir) => {
      val d = table(s, dir, "documents").where(col("doc_id") < 300)
        .withColumn("chunks",
          TextAnalysis.slidingWindowChunks(col("text"), window = 12, step = 5))
      graft.scrape.ContentFilter.bm25ChunkPipeline(d, "doc_id", "chunks",
          Seq("spark", "window"), 1.0)
        .select(col("doc_id"), col("n_kept"),
          concat_ws("||", col("fit_chunks")).as("fit_text"))
    },
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 300),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) <= 12 THEN [text]
        |    ELSE list_concat(
        |      list_transform(range(0, ((len(tk) - 12) // 5) + 1),
        |        i -> array_to_string(tk[i*5+1 : i*5+12], ' ')),
        |      CASE WHEN ((len(tk) - 12) // 5) * 5 + 12 < len(tk)
        |           THEN [array_to_string(tk[len(tk)-11 : len(tk)], ' ')]
        |           ELSE [] END) END AS chunks
        |  FROM t),
        |e AS (
        |  SELECT doc_id, unnest(list_transform(range(0, len(chunks)),
        |           i -> {'idx': i, 'chunk': chunks[i+1]})) AS u
        |  FROM c),
        |s AS (
        |  SELECT doc_id, u.idx AS idx, u.chunk AS chunk,
        |    len(list_filter(list_filter(string_split_regex(lower(u.chunk), '[^a-z]+'),
        |          x -> x <> ''), x -> x = 'spark')) +
        |    len(list_filter(list_filter(string_split_regex(lower(u.chunk), '[^a-z]+'),
        |          x -> x <> ''), x -> x = 'window')) AS score
        |  FROM e)
        |SELECT doc_id, count(*) AS n_kept,
        |       string_agg(chunk, '||' ORDER BY idx) AS fit_text
        |FROM s WHERE score >= 1 GROUP BY doc_id""".stripMargin),
    // OverlappingWindowChunking (chunking_strategy.py:216-256): raw chunk
    // emission under a TRUE window-arithmetic oracle (window=15, overlap=5 ->
    // stride 10); the final chunk is the short remainder, <=15-word texts pass
    // through whole
    Q("q_chunk_overlap", (s, dir) => {
      table(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"),
          posexplode(TextAnalysis.overlappingWindowChunks(col("text"),
            window = 15, overlap = 5)).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          TextAnalysis.wordCount(col("chunk")).as("n_words"), col("chunk"))
    },
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 300),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) <= 15 THEN [text]
        |    ELSE list_transform(range(0, ((len(tk) - 15 + 9) // 10) + 1),
        |           i -> array_to_string(tk[i*10+1 : i*10+15], ' ')) END AS chunks
        |  FROM t)
        |SELECT doc_id, CAST(u.idx AS INTEGER) AS chunk_idx,
        |       CAST(len(list_filter(string_split_regex(u.chunk, '\s+'), x -> x <> ''))
        |            AS INTEGER) AS n_words,
        |       u.chunk AS chunk
        |FROM (SELECT doc_id, unnest(list_transform(range(0, len(chunks)),
        |        i -> {'idx': i, 'chunk': chunks[i+1]})) AS u
        |      FROM c) q""".stripMargin),
    // CosineStrategy: semantic pre-filter skeleton (md5-twin, oracled)
    Q("q_cosine_filter", (s, dir) => {
      import s.implicits._
      val query = "spark shuffle partition executor window"
      table(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.ops.Embed.chunkQueryCosinesMd5(text, query, 10, 64)
            .collect { case (idx, cos) if cos >= 0.2 => (id, idx, cos) }
        }
        .toDF("doc_id", "chunk_idx", "cos")
        .withColumn("cos", round(col("cos"), 4))
    },
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 200),
        |ch AS (
        |  SELECT doc_id, unnest(list_transform(range(0, ((len(t) - 1) // 10) + 1),
        |    i -> {'idx': i, 'toks': t[i*10+1 : i*10+10]})) AS u
        |  FROM tk WHERE len(t) > 0),
        |tok AS (SELECT doc_id, u.idx AS idx, unnest(u.toks) AS tok FROM ch),
        |feat AS (
        |  SELECT doc_id, idx,
        |    ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS slot,
        |    CASE WHEN strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1 < 8
        |         THEN 1 ELSE -1 END AS sign
        |  FROM tok),
        |vec AS (SELECT doc_id, idx, slot, sum(sign) AS v FROM feat GROUP BY 1, 2, 3),
        |qtok AS (SELECT unnest(['spark','shuffle','partition','executor','window']) AS tok),
        |qfeat AS (
        |  SELECT ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS slot,
        |    CASE WHEN strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1 < 8
        |         THEN 1 ELSE -1 END AS sign
        |  FROM qtok),
        |qvec AS (SELECT slot, sum(sign) AS v FROM qfeat GROUP BY 1),
        |dots AS (
        |  SELECT v.doc_id, v.idx, sum(v.v * q.v) AS dot
        |  FROM vec v JOIN qvec q USING (slot) GROUP BY 1, 2),
        |norms AS (SELECT doc_id, idx, sqrt(sum(v * v)) AS n FROM vec GROUP BY 1, 2),
        |qn AS (SELECT sqrt(sum(v * v)) AS n FROM qvec)
        |SELECT d.doc_id, CAST(d.idx AS INTEGER) AS chunk_idx,
        |       round(d.dot / (norms.n * qn.n), 4) AS cos
        |FROM dots d JOIN norms ON d.doc_id = norms.doc_id AND d.idx = norms.idx, qn
        |WHERE d.dot / (norms.n * qn.n) >= 0.2""".stripMargin),
    // CosineStrategy end-to-end: chunk → Md5Bow embed → ward cluster →
    // word-count filter; the fixture is an INDEPENDENT sequential twin
    // (SeqOracle.cosineExtract — own md5 embedding, own agglomeration)
    fixtureQ("q_cosine_extract", (s, dir) => {
      import s.implicits._
      val cfg = graft.scrape.CosineExtract.Config(
        semanticFilter = Some("spark window query"),
        wordCountThreshold = 5, maxDist = 0.6,
        embedder = graft.ops.Embedder.Md5Bow(64))
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val sections = graft.ops.Embed.tokens(text).grouped(10)
            .map(_.mkString(" ")).toSeq
          graft.scrape.CosineExtract.extract(sections, cfg)
            .map(c => (id, c.index, c.tags.mkString(","), c.content))
        }
        .toDF("doc_id", "cluster_index", "tags", "content")
    }),
    // XPath schema extraction (constructed HTML, SQL-mirrorable)
    Q("q_xpath_extract", (s, dir) => {
      import s.implicits._
      import graft.scrape.CssExtract.{AttrF, Field, RegexF, Schema, SV, TextF}
      val c = table(s, dir, "customer").where(col("c_custkey") < 300)
        .withColumn("html", concat(
          lit("<html><body><div class='row' data-k='"), col("c_custkey"),
          lit("'><h2 class='name'>"), col("c_name"),
          lit("</h2><span class='bal'>$"), col("c_nationkey"),
          lit("</span><ul><li>n"), col("c_nationkey"),
          lit("</li><li>m"), col("c_mktsegment"),
          lit("</li></ul></div></body></html>")))
      val schema = Schema("//div[@class='row']", Seq(
        Field("name", ".//h2[@class='name']", TextF),
        Field("bal", ".//span[contains(@class,'bal')]", RegexF("\\$([0-9]+)")),
        Field("kattr", "", AttrF("data-k")),
        Field("seg", ".//ul/li[2]", TextF)))
      c.select(col("c_custkey"), col("html")).as[(Long, String)]
        .map { case (k, h) =>
          val m = graft.scrape.XPathExtract.extract(h, schema).headOption.getOrElse(Map.empty)
          def sv(n: String) = m.get(n).collect { case SV(x) => x }.getOrElse("")
          (k, sv("name"), sv("bal"), sv("kattr"), sv("seg"))
        }.toDF("c_custkey", "name", "bal", "kattr", "seg")
    },
      """SELECT c_custkey, c_name AS name,
        |       CAST(c_nationkey AS VARCHAR) AS bal,
        |       CAST(c_custkey AS VARCHAR) AS kattr,
        |       'm' || c_mktsegment AS seg
        |FROM customer WHERE c_custkey < 300""".stripMargin),
    // regex extraction catalog (constructed text, SQL-mirrorable)
    Q("q_regex_extract", (s, dir) => {
      val c = table(s, dir, "customer").where(col("c_custkey") < 200)
        .withColumn("text",
          concat(lit("contact c"), col("c_custkey"), lit("@example.com "),
            lit("balance $"), col("c_nationkey"),
            lit(" on 2024-03-15 at 12:30 ip 10.0.0.1")))
      RegexExtract.extract(c, "c_custkey", "text",
        Seq("email", "date_iso", "time_24h", "ipv4"))
    },
      """WITH t AS (
        |  SELECT c_custkey,
        |    'contact c' || c_custkey || '@example.com balance $' || c_nationkey ||
        |    ' on 2024-03-15 at 12:30 ip 10.0.0.1' AS text
        |  FROM customer WHERE c_custkey < 200)
        |SELECT c_custkey, label, value, CAST(match_pos AS INTEGER) AS match_pos FROM (
        |  SELECT c_custkey, 'email' AS label,
        |         unnest(regexp_extract_all(text, '[\w.+-]+@[\w-]+\.[\w.-]+')) AS value,
        |         unnest(range(len(regexp_extract_all(text, '[\w.+-]+@[\w-]+\.[\w.-]+')))) AS match_pos
        |  FROM t
        |  UNION ALL
        |  SELECT c_custkey, 'date_iso',
        |         unnest(regexp_extract_all(text, '\d{4}-\d{2}-\d{2}')),
        |         unnest(range(len(regexp_extract_all(text, '\d{4}-\d{2}-\d{2}'))))
        |  FROM t
        |  UNION ALL
        |  SELECT c_custkey, 'time_24h',
        |         unnest(regexp_extract_all(text, '\b(?:[01]?\d|2[0-3]):[0-5]\d(?:[:.][0-5]\d)?\b')),
        |         unnest(range(len(regexp_extract_all(text, '\b(?:[01]?\d|2[0-3]):[0-5]\d(?:[:.][0-5]\d)?\b'))))
        |  FROM t
        |  UNION ALL
        |  SELECT c_custkey, 'ipv4',
        |         unnest(regexp_extract_all(text, '(?:\d{1,3}\.){3}\d{1,3}')),
        |         unnest(range(len(regexp_extract_all(text, '(?:\d{1,3}\.){3}\d{1,3}'))))
        |  FROM t)""".stripMargin),
    // PII redaction over constructed text; the DuckDB twin is built from the
    // SAME pattern catalog via RegexExtract.redactSql, so chain order and
    // patterns cannot drift
    Q("q_redact", (s, dir) => {
      val c = table(s, dir, "customer").where(col("c_custkey") < 300)
        .withColumn("text", concat(
          lit("user u"), col("c_custkey"), lit("@mail.example.org from 10.0."),
          col("c_nationkey"), lit(".7 card 4111111111111111 says "),
          col("c_name"), lit(" call +1 (415) 555-01"),
          lpad((col("c_custkey") % 100).cast("string"), 2, "0")))
      RegexExtract.redact(c, "c_custkey", "text")
    },
      {
        val textExpr = "'user u' || c_custkey || '@mail.example.org from 10.0.' || " +
          "c_nationkey || '.7 card 4111111111111111 says ' || c_name || " +
          "' call +1 (415) 555-01' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')"
        s"""SELECT c_custkey, ${RegexExtract.redactSql(textExpr)} AS redacted_text
           |FROM customer WHERE c_custkey < 300""".stripMargin
      }),
  )

  // ---- codecs and containers: each decoder runs on real generated bytes,
  // and the oracle re-derives what the generator put in
  private val codecQueries: Seq[Q] = Seq(
    // WARC archive sink → source roundtrip: export the documents table as
    // WARC/1.0 response records, strict-parse them back; oracle = the table
    Q("q_warc_roundtrip", (s, dir) => {
      // even doc_ids travel plain .warc segments; odd doc_ids travel the
      // Common Crawl member-per-record .warc.gz layout — the union must
      // reconstruct the corpus exactly either way
      val d = table(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
        col("text"))
      val path = s"/tmp/graft_warc_${new java.io.File(dir).getName}"
      val gzPath = s"/tmp/graft_warcgz_${new java.io.File(dir).getName}"
      graft.sources.Warc.writeWarc(
        d.where(col("doc_id") % 2 === 0).select(col("uri"), col("text")),
        "uri", "text", path)
      graft.sources.Warc.writeWarcGz(
        d.where(col("doc_id") % 2 === 1).select(col("uri"), col("text")),
        "uri", "text", gzPath)
      graft.sources.Warc.readWarc(s, path)
        .unionByName(graft.sources.Warc.readWarc(s, gzPath))
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("payload").as("text"),
          col("content_length").as("n_bytes"))
    },
      """SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin),
    // PDF source end-to-end: deterministic synthetic PDFs (classic layout +
    // every-7th in the ObjStm/xref-stream layout) built per row and REAL-
    // parsed distributed; oracle = generator intent (what the builder put in)
    fixtureQ("q_pdf_pages", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.sources.Pdf.extractPages(graft.sources.Pdf.PdfBinary(
              s"doc$id.pdf", 0L, graft.sources.Pdf.syntheticPdf(id, text)))
            .map(p => (id, p.page_no, p.text, p.n_images, p.links.mkString(",")))
        }
        .toDF("doc_id", "page_no", "text", "n_images", "links")
    }),
    // in-PDF image decode under a TRUE arithmetic oracle: each synthetic
    // PDF embeds real JPEG XObjects (/DCTDecode, half behind a Flate chain)
    // whose dims are doc-id arithmetic; only a real JPEG bitstream decode
    // reproduces what DuckDB computes — PdfSpec additionally pins that a lying
    // /Width dict cannot leak through
    Q("q_pdf_images", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 80)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          graft.sources.Pdf.extractImages(graft.sources.Pdf.PdfBinary(
              id.toString, 0L, graft.sources.Pdf.syntheticImagePdf(id)))
            .map(r => (id, r.page_no, r.img_index, r.filter, r.width, r.height))
        }
        .toDF("doc_id", "page_no", "img_index", "filter", "width", "height")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 80),
        |i AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN doc_id % 2 = 1 THEN [0, 1] ELSE [0] END) AS k
        |  FROM d)
        |SELECT doc_id, CAST(0 AS INTEGER) AS page_no,
        |  CAST(k AS INTEGER) AS img_index, 'dct' AS filter,
        |  CAST(20 + (doc_id + 13 * k) % 30 AS INTEGER) AS width,
        |  CAST(15 + (doc_id * 7 + 11 * k) % 25 AS INTEGER) AS height
        |FROM i""".stripMargin),
    // in-PDF JBIG2 decode (ITU-T T.88 MQ coder + template-0 generic region)
    // under a TRUE arithmetic oracle: each synthetic PDF embeds a real
    // /JBIG2Decode XObject (odd ids split page info into a /JBIG2Globals
    // stream, id%4==2 adds a Flate chain, odd ids code with TPGDON) whose
    // bitmap is doc-id arithmetic. The oracle enumerates every pixel and
    // applies the encoder's (3x + 5y + id) % 7 < 3 predicate, so dims AND
    // dark_px match only after a genuine MQ entropy decode; the dict's lying
    // /Width is pinned out by Jbig2Spec
    Q("q_pdf_jbig2", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          graft.sources.Pdf.extractImages(graft.sources.Pdf.PdfBinary(
              id.toString, 0L, graft.sources.Pdf.syntheticJbig2Pdf(id)))
            .map(r => (id, r.img_index, r.filter, r.width, r.height, r.dark))
        }
        .toDF("doc_id", "img_index", "filter", "width", "height", "dark_px")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |px AS (
        |  SELECT d.doc_id, x.x, y.y
        |  FROM d
        |  CROSS JOIN range(0, 44) AS x(x)
        |  CROSS JOIN range(0, 30) AS y(y)
        |  WHERE x.x < 24 + d.doc_id % 20 AND y.y < 16 + (3 * d.doc_id) % 14)
        |SELECT doc_id, CAST(0 AS INTEGER) AS img_index, 'jbig2' AS filter,
        |  CAST(24 + doc_id % 20 AS INTEGER) AS width,
        |  CAST(16 + (3 * doc_id) % 14 AS INTEGER) AS height,
        |  CAST(SUM(CASE WHEN (3 * x + 5 * y + doc_id) % 7 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS dark_px
        |FROM px GROUP BY doc_id""".stripMargin),
    // in-PDF CCITT G3/G4 fax decode (ITU-T T.4/T.6 through the JDK TIFF
    // codec behind a minimal container bridge) under a TRUE arithmetic
    // oracle: each synthetic PDF embeds a real /CCITTFaxDecode XObject
    // (id%3==0 Modified Huffman K=0 + byte align, else G4 K=-1; odd ids
    // behind Flate) whose bitmap is doc-id arithmetic — dims AND the
    // dark-pixel count are recomputed per-pixel in SQL with the generator's
    // geometry and predicate, so only a genuine run-length decode can match
    Q("q_pdf_ccitt", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          graft.sources.Pdf.extractImages(graft.sources.Pdf.PdfBinary(
              id.toString, 0L, graft.sources.Pdf.syntheticCcittPdf(id)))
            .map(r => (id, r.img_index, r.filter, r.width, r.height, r.dark))
        }
        .toDF("doc_id", "img_index", "filter", "width", "height", "dark_px")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |px AS (
        |  SELECT d.doc_id, x.x, y.y
        |  FROM d
        |  CROSS JOIN range(0, 45) AS x(x)
        |  CROSS JOIN range(0, 33) AS y(y)
        |  WHERE x.x < 20 + d.doc_id % 25 AND y.y < 14 + (5 * d.doc_id) % 19)
        |SELECT doc_id, CAST(0 AS INTEGER) AS img_index, 'ccitt' AS filter,
        |  CAST(20 + doc_id % 25 AS INTEGER) AS width,
        |  CAST(14 + (5 * doc_id) % 19 AS INTEGER) AS height,
        |  CAST(SUM(CASE WHEN (5 * x + 3 * y + 2 * doc_id) % 11 < 4 THEN 1 ELSE 0 END) AS BIGINT) AS dark_px
        |FROM px GROUP BY doc_id""".stripMargin),
    // in-PDF JPEG 2000 decode (ITU-T T.800: EBCOT Tier-1 on the MQ coder,
    // tag-tree packet headers, reversible 5/3 wavelet) under a TRUE
    // arithmetic oracle: each synthetic PDF embeds a real LOSSLESS
    // /JPXDecode XObject (id%3 picks the DWT depth, odd ids ship the JP2
    // box container, id%4==1 codes three components with id%8==1 through
    // the reversible colour transform) whose samples are doc-id arithmetic.
    // The oracle sums the generator's per-pixel values (across all three
    // planes for the RGB variants), so dims AND sample_sum match only after a
    // genuine wavelet + entropy decode
    Q("q_pdf_jpx", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          graft.sources.Pdf.extractImages(graft.sources.Pdf.PdfBinary(
              id.toString, 0L, graft.sources.Pdf.syntheticJpxPdf(id)))
            .map(r => (id, r.img_index, r.filter, r.width, r.height, r.dark))
        }
        .toDF("doc_id", "img_index", "filter", "width", "height", "sample_sum")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |px AS (
        |  SELECT d.doc_id, x.x, y.y
        |  FROM d
        |  CROSS JOIN range(0, 40) AS x(x)
        |  CROSS JOIN range(0, 30) AS y(y)
        |  WHERE x.x < 17 + d.doc_id % 23 AND y.y < 13 + (7 * d.doc_id) % 17)
        |SELECT doc_id, CAST(0 AS INTEGER) AS img_index, 'jpx' AS filter,
        |  CAST(17 + doc_id % 23 AS INTEGER) AS width,
        |  CAST(13 + (7 * doc_id) % 17 AS INTEGER) AS height,
        |  CAST(SUM((7 * x + 11 * y + 3 * doc_id) % 256
        |    + CASE WHEN doc_id % 4 = 1
        |           THEN (5 * x + 13 * y + 7 * doc_id) % 256
        |              + (11 * x + 3 * y + 5 * doc_id) % 256
        |           ELSE 0 END) AS BIGINT) AS sample_sum
        |FROM px GROUP BY doc_id""".stripMargin),
    // FLAC audio decode (from-scratch Rice + fixed-predictor + stereo-
    // decorrelation codec, sources/Flac) under a TRUE arithmetic oracle:
    // each synthetic blob is a real FLAC stream (id%5==4 mono, odd ids
    // mid/side, id%4 picks the predictor order, id%3 the block size) whose
    // PCM is doc-id arithmetic. The oracle enumerates every PCM sample of
    // every channel with the encoder's modular formulas, so channel/sample
    // counts AND sample_sum match only after a genuine lossless decode
    Q("q_audio_flac", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val blob = graft.ops.Multimodal.syntheticFlacBlob(id.toString, s"a$id", id)
          graft.sources.Flac.decode(blob.bytes).map { d =>
            var sum = 0L
            d.channels.foreach(_.foreach(sum += _))
            (id, d.channels.length, d.bitsPerSample, d.numSamples.toLong, sum)
          }
        }
        .toDF("doc_id", "channels", "bits", "n_samples", "sample_sum")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |i AS (
        |  SELECT d.doc_id, s.i
        |  FROM d
        |  CROSS JOIN range(0, 1400) AS s(i)
        |  WHERE s.i < 800 + d.doc_id % 600)
        |SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 2 END AS INTEGER) AS channels,
        |  CAST(16 AS INTEGER) AS bits,
        |  CAST(800 + doc_id % 600 AS BIGINT) AS n_samples,
        |  CAST(SUM((13 * i + 7 * doc_id) % 4096 - 2048
        |    + CASE WHEN doc_id % 5 = 4 THEN 0
        |           ELSE (11 * i + 5 * doc_id) % 4096 - 2048 END) AS BIGINT) AS sample_sum
        |FROM i GROUP BY doc_id""".stripMargin),
    // MP4 container metadata (from-scratch ISO 14496-12 moov-tree parser,
    // sources/Mp4) under a TRUE arithmetic oracle: each blob is a real MP4
    // whose geometry/timing/codec are doc-id arithmetic, recomputed field
    // by field in SQL — only a genuine moov/trak/stbl parse produces them.
    // The samples are opaque by design (no JVM H.264 codec; frame decode
    // falls back, honestly labeled), so this checks exactly what a crawl
    // pipeline filters and samples on: the metadata
    Q("q_video_mp4", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val blob = graft.ops.Multimodal.syntheticMp4Blob(id.toString, s"v$id", id)
          graft.sources.Mp4.parse(blob.bytes).flatMap { m =>
            m.tracks.find(_.handler == "vide").map(t =>
              (id, t.codec, t.width, t.height, t.nSamples.toLong, t.durationMs))
          }
        }
        .toDF("doc_id", "codec", "width", "height", "n_frames", "duration_ms")
    },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'hvc1' ELSE 'avc1' END AS codec,
        |  CAST(48 + doc_id % 40 AS INTEGER) AS width,
        |  CAST(32 + (3 * doc_id) % 24 AS INTEGER) AS height,
        |  CAST(10 + doc_id % 50 AS BIGINT) AS n_frames,
        |  CAST((10 + doc_id % 50) * (20 + (doc_id % 5) * 20) AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id < 60""".stripMargin),
    // WebM/Matroska container metadata (from-scratch EBML parser,
    // sources/Webm) under a TRUE arithmetic oracle — the companion to
    // q_video_mp4: codec/dims/duration and the SimpleBlock frame count are
    // doc-id arithmetic recomputed in SQL; frame payloads opaque by design
    Q("q_video_webm", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val blob = graft.ops.Multimodal.syntheticWebmBlob(id.toString, s"w$id", id)
          graft.sources.Webm.parse(blob.bytes).flatMap { m =>
            m.tracks.find(_.trackType == 1).map(t =>
              (id, t.codec, t.width, t.height, t.nFrames.toLong, m.durationMs))
          }
        }
        .toDF("doc_id", "codec", "width", "height", "n_frames", "duration_ms")
    },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'V_VP8' ELSE 'V_VP9' END AS codec,
        |  CAST(40 + doc_id % 23 AS INTEGER) AS width,
        |  CAST(30 + (11 * doc_id) % 19 AS INTEGER) AS height,
        |  CAST(10 + doc_id % 40 AS BIGINT) AS n_frames,
        |  CAST((10 + doc_id % 40) * (40 + (doc_id % 5) * 10) AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id < 60""".stripMargin),
    // archive expansion (sources/Archive: JDK-inflater ZIP + from-scratch
    // TAR walk + gzip unwrap) under a TRUE arithmetic oracle: each doc's
    // archive (even ids ZIP, odd ids TAR.GZ) holds 2+id%4 members whose
    // names and byte-exact contents are doc-id arithmetic DuckDB re-derives
    Q("q_archive_members", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val members = (0 until (2 + id % 4).toInt).map { k =>
            graft.sources.Archive.Member(s"m$k.txt",
              ("x" * (10 + ((id * 7 + 3 * k) % 50).toInt)).getBytes("UTF-8"))
          }
          val bytes =
            if (id % 2 == 0) graft.sources.Archive.writeZip(members)
            else graft.sources.Archive.gzip(graft.sources.Archive.writeTar(members))
          val name = if (id % 2 == 0) s"a$id.zip" else s"a$id.tar.gz"
          graft.sources.Archive.members(name, bytes).map(mm =>
            (id, mm.path, mm.bytes.length.toLong, new String(mm.bytes, "UTF-8")))
        }
        .toDF("doc_id", "member_path", "n_bytes", "content_text")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |m AS (
        |  SELECT d.doc_id, k.k
        |  FROM d
        |  CROSS JOIN range(0, 6) AS k(k)
        |  WHERE k.k < 2 + d.doc_id % 4)
        |SELECT doc_id,
        |  'm' || k || '.txt' AS member_path,
        |  CAST(10 + (doc_id * 7 + 3 * k) % 50 AS BIGINT) AS n_bytes,
        |  repeat('x', CAST(10 + (doc_id * 7 + 3 * k) % 50 AS INTEGER)) AS content_text
        |FROM m""".stripMargin),
    // EXIF metadata extraction (sources/Exif: JPEG APP1 marker walk + TIFF
    // IFD parse incl. the Exif sub-IFD) under a TRUE arithmetic oracle:
    // each blob is a REAL JPEG wrapped with an APP1 whose every field is
    // doc-id arithmetic DuckDB re-derives — orientation, camera strings,
    // timestamps, declared pixel dims
    Q("q_image_exif", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          val meta = graft.sources.Exif.Meta(
            orientation = 1 + (id % 8).toInt,
            make = s"cam${id % 5}",
            model = s"mk-${id % 7}",
            dateTime = f"2026:01:${1 + id % 28}%02d ${id % 24}%02d:00:00",
            dateTimeOriginal = f"2026:01:${1 + id % 28}%02d ${id % 24}%02d:00:${id % 60}%02d",
            pixelX = 24 + (id % 40).toInt,
            pixelY = 16 + ((3 * id) % 30).toInt)
          graft.sources.Exif.parse(
              graft.sources.Exif.withExif(bos.toByteArray, meta))
            .map(m => (id, m.orientation, m.make, m.model, m.dateTime,
              m.dateTimeOriginal, m.pixelX, m.pixelY))
        }
        .toDF("doc_id", "orientation", "make", "model", "date_time",
          "dt_original", "px", "py")
    },
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
        |  'cam' || (doc_id % 5) AS make,
        |  'mk-' || (doc_id % 7) AS model,
        |  '2026:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' '
        |    || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00' AS date_time,
        |  '2026:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' '
        |    || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:'
        |    || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS dt_original,
        |  CAST(24 + doc_id % 40 AS INTEGER) AS px,
        |  CAST(16 + (3 * doc_id) % 30 AS INTEGER) AS py
        |FROM documents WHERE doc_id < 60""".stripMargin),
    // multimodal decode under a TRUE arithmetic oracle: every blob is a REAL
    // container (PNG/WAV through the JDK codecs, GIF/MJPEG-AVI video; see
    // mediaBlobFor) whose intent params are md5-hex or doc-id arithmetic —
    // a stubbed decoder cannot match
    Q("q_media_features", (s, dir) => {
      import s.implicits._
      val refs = table(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id").cast("string").as("doc_id"),
          concat(lit("http://media.example.com/"), col("doc_id"),
            when(col("doc_id") % 3 === 0, ".png")
              .when(col("doc_id") % 3 === 1,
                when(col("doc_id") % 2 === 0, ".gif").otherwise(".avi"))
              .otherwise(".wav")).as("media_ref"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "video").otherwise("audio").as("kind"))
      val blobs = refs.as[(String, String, String)]
        .map { case (id, ref, kind) => SparkEntry.mediaBlobFor(id, ref, kind) }
      Multimodal.decode(blobs).toDF()
        .select(col("doc_id"), col("media_ref"), col("kind"),
          col("width"), col("height"), col("duration_ms"), col("n_frames"))
    },
      """WITH r AS (
        |  SELECT doc_id,
        |    'http://media.example.com/' || doc_id ||
        |      CASE WHEN doc_id % 3 = 0 THEN '.png'
        |           WHEN doc_id % 3 = 1 THEN
        |             CASE WHEN doc_id % 2 = 0 THEN '.gif' ELSE '.avi' END
        |           ELSE '.wav' END AS media_ref,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'video' ELSE 'audio' END AS kind
        |  FROM documents WHERE doc_id < 100),
        |v AS (
        |  SELECT doc_id, media_ref, kind,
        |    (strpos('0123456789abcdef', substr(md5(media_ref),1,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(media_ref),2,1))-1) AS p0,
        |    (strpos('0123456789abcdef', substr(md5(media_ref),3,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(media_ref),4,1))-1) AS p1,
        |    (strpos('0123456789abcdef', substr(md5(media_ref),5,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(media_ref),6,1))-1) AS p2,
        |    (strpos('0123456789abcdef', substr(md5(media_ref),7,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(media_ref),8,1))-1) AS p3
        |  FROM r)
        |SELECT CAST(doc_id AS VARCHAR) AS doc_id, media_ref, kind,
        |  CAST(CASE WHEN kind = 'image' THEN 32 + p0 % 64
        |            WHEN kind = 'video' THEN 16 + doc_id % 16
        |            ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN kind = 'image' THEN 24 + p1 % 48
        |            WHEN kind = 'video' THEN 16 + (doc_id * 3) % 16
        |            ELSE 0 END AS INTEGER) AS height,
        |  CAST(CASE WHEN kind = 'image' THEN 0
        |            WHEN kind = 'video' THEN (2 + doc_id % 4) * 50
        |            ELSE 500 + (p2 * 256 + p3) % 2000 END AS INTEGER) AS duration_ms,
        |  CAST(CASE WHEN kind = 'image' THEN 1
        |            WHEN kind = 'video' THEN 2 + doc_id % 4
        |            ELSE 0 END AS INTEGER) AS n_frames
        |FROM v""".stripMargin),
    // REAL video decode under a TRUE arithmetic oracle: blobs are genuine
    // animated-GIF / MJPEG-AVI containers whose dims/frame-count/duration are
    // pure functions of doc_id; the oracle recomputes the frame schedule from
    // that arithmetic, so the engine must parse the containers and decode
    // frames to match
    Q("q_video_frames", (s, dir) => {
      import s.implicits._
      val blobs = table(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val ref = s"http://media.example.com/$id" +
            (if (id % 2 == 0) ".gif" else ".avi")
          val w = 16 + (id % 16).toInt
          val h = 16 + ((id * 3) % 16).toInt
          val n = 2 + (id % 4).toInt
          if (id % 2 == 0)
            Multimodal.syntheticGifVideoBlob(id.toString, ref, w, h, n, frameMs = 50)
          else
            Multimodal.syntheticAviVideoBlob(id.toString, ref, w, h, n, frameMs = 50)
        }
      Multimodal.extractFrames(blobs, everyMs = 100).toDF()
        .select(col("doc_id").cast("long").as("doc_id"), col("container"),
          col("frame_no"), col("ts_ms"), col("width"), col("height"),
          col("n_frames"), col("duration_ms"))
    },
      """WITH p AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN 'gif' ELSE 'avi' END AS container,
        |         CAST(16 + doc_id % 16 AS INT) AS width,
        |         CAST(16 + (doc_id * 3) % 16 AS INT) AS height,
        |         CAST(2 + doc_id % 4 AS INT) AS n_frames
        |  FROM documents WHERE doc_id < 40)
        |SELECT doc_id, container,
        |       CAST(LEAST(n_frames - 1, k * 2) AS INT) AS frame_no,
        |       CAST(k * 100 AS INT) AS ts_ms,
        |       width, height, n_frames,
        |       CAST(n_frames * 50 AS INT) AS duration_ms
        |FROM p, LATERAL (SELECT unnest(generate_series(0, (n_frames * 50 - 1) // 100)) AS k)
        |""".stripMargin),
  )

  // ---- streaming and event-time operators
  private val streamingQueries: Seq[Q] = Seq(
    // continuous curation through a REAL file-source stream (see
    // runStreamCurate): gates → exact ledger → persisted md5-minhash LSH
    // index, four deterministic arrival batches, replay-idempotent state.
    // The oracle recomputes the STREAM'S OWN per-batch semantics from first
    // principles (see streamCurateOracleSql), so no stream-equals-batch
    // assumption is needed
    Q("q_stream_curate", runStreamCurate, streamCurateOracleSql),
    // streaming twin: gap sessionization over events (SQL-mirrorable)
    Q("q_sessionize", (s, dir) => {
      graft.streaming.EventStream.sessionizeBatch(
          table(s, dir, "events").select("user_id", "ts", "value"),
          gapMs = 30 * 60 * 1000L)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("total_value"), 4).as("total_value"))
    },
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                   OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, session_no""".stripMargin),
    // event-time bucketed aggregation (tumbling window, batch form)
    Q("q_events_hourly", (s, dir) => {
      table(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    },
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
  )

  /** Every driver query, once. Names must be unique: the derived maps
    * would keep only the last of two entries with one name. */
  private[graft] val registry: Seq[Q] = crawlQueries ++ frontierQueries ++
    dedupQueries ++ curationQueries ++ textQueries ++ codecQueries ++
    streamingQueries

  /** Each registry entry's plan, by name (run by Verify, Bench, SfSweep). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.plan).toMap

  /** Each registry entry's DuckDB oracle SQL, by name (oracle_sql.json). */
  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
