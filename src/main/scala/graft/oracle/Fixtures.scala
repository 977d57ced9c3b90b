package graft.oracle

import graft.core.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Expected-result fixtures for the driver's DuckDB compare (FIXTURES.md §8):
  * each no-SQL-twin query gets a parquet fixture under [[dir]], computed by a
  * SEQUENTIAL independent implementation ([[SeqOracle]], generator intent, or
  * the reference-derived markdown goldens), and its `SparkEntry.fixtureQ`
  * registry entry's oracle is just
  * `SELECT * FROM parquet_scan('<fixture>')` — the expected-vs-actual compare
  * then runs through the exact same driver pipeline as the SQL twins.
  *
  * Written by `graft.Verify` before it dumps oracle_sql.json; the classic
  * fixtures are bounded driver-side work (the sequential crawl of the
  * synthetic site, a few hundred collected rows per dedup/ANN slice), and
  * the round-5 exported-model oracles additionally RE-RUN the driver
  * queries' quantizer training as Spark jobs (trainIvf / trainIvfPq over
  * the embeddings table) — bit-reproducible by the quantized-long protocol,
  * so the export equals the query-run training; the duplicate cost is the
  * price of exporting a verified artifact instead of an answer.
  */
object Fixtures {

  val dir = "/tmp/graft_expected"

  def sql(name: String): String =
    s"SELECT * FROM parquet_scan('$dir/$name/*.parquet')"

  /** TRUE-SQL oracle for q_ann_pq: DuckDB re-derives the PQ ENCODE step
    * (argmin code per subspace), the query's ADC distance table, and the
    * ADC top-k — all from the engine-exported codebook fixture; only
    * quantizer TRAINING stays engine-side (bit-reproducible quantized-long
    * sums, retrain-equality and seq-twin-equality pinned in OpsSpec).
    * Every squared distance is UNROLLED into left-to-right double
    * additions in index order — the exact accumulation order of
    * `Similarity.pqCodes`/`pqAdcTable` — so both sides produce
    * bit-identical doubles and argmin/top-k selection is exact, not
    * tolerance-based. */
  def pqTrueSql(m: Int = 8, subDim: Int = 8, k: Int = 10): String = {
    def dist(vec: String): String = (0 until subDim).map { j =>
      val t = s"($vec[cb.sub*$subDim+${j + 1}]::DOUBLE - cb.centroid[${j + 1}])"
      s"$t * $t"
    }.mkString(" + ")
    val pivots = (0 until m).map(s =>
      s"MAX(CASE WHEN enc.sub = $s THEN adc.qd2 END) AS t$s").mkString(", ")
    val total = (0 until m).map(s => s"t$s").mkString(" + ")
    s"""WITH cb AS MATERIALIZED (
       |  SELECT sub, code, centroid
       |  FROM parquet_scan('$dir/q_ann_pq_codebooks/*.parquet')
       |), e AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
       |), encd AS (
       |  SELECT e.vec_id, cb.sub, cb.code, ${dist("e.embedding")} AS d2
       |  FROM e CROSS JOIN cb
       |), enc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |                              ORDER BY d2, code) AS rn
       |    FROM encd) WHERE rn = 1
       |), q AS (
       |  SELECT embedding FROM embeddings WHERE vec_id = 0
       |), adc AS (
       |  SELECT cb.sub, cb.code, ${dist("q.embedding")} AS qd2
       |  FROM cb CROSS JOIN q
       |), scored AS (
       |  SELECT enc.vec_id, $pivots
       |  FROM enc JOIN adc ON adc.sub = enc.sub AND adc.code = enc.code
       |  GROUP BY enc.vec_id
       |)
       |SELECT vec_id, $total AS adc_d2
       |FROM scored ORDER BY $total, vec_id LIMIT $k""".stripMargin
  }

  /** TRUE-SQL oracle for q_ann_ivfpq (the composed IVFADC layout): DuckDB
    * re-derives the coarse assignment (argmin cell over the exported
    * centroids), the residual PQ ENCODE (argmin code per subspace over the
    * exported codebooks), the query's nProbe-cell selection, the per-cell
    * ADC tables from the query's residuals, and the ADC top-k. Only
    * quantizer TRAINING stays engine-side — both the coarse trainer
    * (`Similarity.trainIvf`) and the residual-PQ trainer (`trainPq`) use
    * quantized-long sums, so the exported artifacts are bit-reproducible
    * and pinned engine-vs-seq-twin in OpsSpec at the driver's exact params.
    * Every squared distance is UNROLLED into left-to-right double additions
    * in index order, and the residual delta keeps the engine's
    * `(v − cellCentroid) − codebookCentroid` association — both sides
    * produce bit-identical doubles, so argmin/probe/top-k selection is
    * exact, not tolerance-based (first-min tie-breaks become
    * `ORDER BY d2, cell|code`). */
  def ivfPqTrueSql(m: Int = 8, subDim: Int = 8, k: Int = 10,
                   nProbe: Int = 4): String = {
    // cell count is carried by the exported centroids table itself — the
    // SQL iterates whatever cc contains, so there is no cells knob here
    val dim = m * subDim
    // ||x − cellCentroid||² over the full vector, index-order accumulation —
    // nearestCellKernel's loop
    def cellDist(vec: String): String = (0 until dim).map { j =>
      val t = s"($vec[${j + 1}]::DOUBLE - cc.centroid[${j + 1}])"
      s"$t * $t"
    }.mkString(" + ")
    // ||(x − cellCentroid)_sub − codebookCentroid||² — residual first, then
    // the codebook delta (the engine's association), index-order accumulation
    def residDist(vec: String): String = (0 until subDim).map { j =>
      val idx = s"cb.sub*$subDim+${j + 1}"
      val t = s"(($vec[$idx]::DOUBLE - cc.centroid[$idx]) - cb.centroid[${j + 1}])"
      s"$t * $t"
    }.mkString(" + ")
    val pivots = (0 until m).map(s =>
      s"MAX(CASE WHEN enc.sub = $s THEN adc.qd2 END) AS t$s").mkString(", ")
    val total = (0 until m).map(s => s"t$s").mkString(" + ")
    s"""WITH cc AS MATERIALIZED (
       |  SELECT cell, centroid
       |  FROM parquet_scan('$dir/q_ann_ivfpq_centroids/*.parquet')
       |), cb AS MATERIALIZED (
       |  SELECT sub, code, centroid
       |  FROM parquet_scan('$dir/q_ann_ivfpq_codebooks/*.parquet')
       |), e AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
       |), q AS MATERIALIZED (
       |  SELECT embedding FROM embeddings WHERE vec_id = 0
       |), ed AS (
       |  SELECT e.vec_id, cc.cell, ${cellDist("e.embedding")} AS d2
       |  FROM e CROSS JOIN cc
       |), ea AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM ed) WHERE rn = 1
       |), qd AS (
       |  SELECT cc.cell, ${cellDist("q.embedding")} AS d2
       |  FROM cc CROSS JOIN q
       |), qc AS MATERIALIZED (
       |  SELECT cell FROM (
       |    SELECT cell, row_number() OVER (ORDER BY d2, cell) AS rn
       |    FROM qd) WHERE rn <= $nProbe
       |), encd AS (
       |  SELECT e.vec_id, ea.cell, cb.sub, cb.code, ${residDist("e.embedding")} AS d2
       |  FROM e JOIN ea ON ea.vec_id = e.vec_id
       |         JOIN cc ON cc.cell = ea.cell
       |         CROSS JOIN cb
       |), enc AS (
       |  SELECT vec_id, cell, sub, code FROM (
       |    SELECT vec_id, cell, sub, code,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |                              ORDER BY d2, code) AS rn
       |    FROM encd) WHERE rn = 1
       |), adc AS (
       |  SELECT cc.cell, cb.sub, cb.code, ${residDist("q.embedding")} AS qd2
       |  FROM cc JOIN qc ON qc.cell = cc.cell CROSS JOIN cb CROSS JOIN q
       |), scored AS (
       |  SELECT enc.vec_id, $pivots
       |  FROM enc JOIN adc ON adc.cell = enc.cell AND adc.sub = enc.sub
       |                   AND adc.code = enc.code
       |  GROUP BY enc.vec_id
       |)
       |SELECT vec_id, $total AS adc_d2
       |FROM scored ORDER BY $total, vec_id LIMIT $k""".stripMargin
  }

  /** Bit-exact SQL form of the engine's float-multiply dot product
    * (`Similarity.dot`): Spark's `zip_with(a, b, _ * _)` multiplies in
    * FLOAT and widens each product into the double accumulator. The double
    * product of two floats is EXACT (24-bit mantissas), and IEEE float
    * multiplication is that exact product correctly rounded — so
    * `(a::DOUBLE * b::DOUBLE)::REAL::DOUBLE` reproduces the JVM float
    * multiply bit-for-bit. Terms add left-to-right in index order,
    * matching the aggregate fold. */
  private def dotFSql(a: String, b: String, dim: Int): String =
    (0 until dim).map(j =>
      s"(($a[${j + 1}]::DOUBLE * $b[${j + 1}]::DOUBLE)::REAL::DOUBLE)")
      .mkString(" + ")

  /** The engine cosine (`Similarity.cosine`) over one data vector and the
    * q CTE's vector: `when(norm·norm = 0, 0).otherwise(dot / (norm·norm))`
    * with qn.nq the pre-computed query norm. */
  private def cosineSql(vec: String, dim: Int): String = {
    val den = s"sqrt(${dotFSql(vec, vec, dim)}) * qn.nq"
    s"CASE WHEN $den = 0 THEN 0.0 ELSE (${dotFSql(vec, "q.embedding", dim)}) / ($den) END"
  }

  /** TRUE-SQL oracle for q_simhash_pairs: DuckDB re-derives every
    * fingerprint from the EXPORTED token→xxh64 tabulation (a pure-function
    * table over the corpus vocabulary — the hash kernel itself is pinned
    * Column-spec == compiled twin in OpsSpec and xxh64 twin == Spark
    * xxhash64 in PropertySpec), then finds near-dup pairs by BRUTE all-pairs
    * Hamming — which is the point: the engine's Manku 20-table blocking is
    * pigeonhole-COMPLETE for Hamming ≤ 3, so its output must equal the
    * brute-force set, and this oracle verifies that completeness claim on
    * every run instead of replicating the blocking. All arithmetic is
    * integer (votes, masks, bit_count) — the compare is exact by
    * construction. Per-occurrence votes (not per-distinct-token): the
    * tokenizer multiset matches `TextAnalysis.tokens`. The +100000
    * duplicate rows carry their base row's text verbatim, so fingerprints
    * are derived once over the base docs and the duplicate half is a
    * doc_id-shifted copy of `fpb`. */
  def simHashTrueSql(maxDist: Int = 3): String = {
    // (j, 1L<<j) literals; j=63 spelled to stay inside BIGINT parsing
    val bits = (0 until 64).map { j =>
      val m = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"($j, $m::BIGINT)"
    }.mkString(", ")
    s"""WITH hs AS MATERIALIZED (
       |  SELECT tok, h FROM parquet_scan('$dir/q_simhash_hashes/*.parquet')
       |), bits(j, mask) AS (VALUES $bits),
       |d AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
       |  FROM documents WHERE doc_id < 200),
       |occ AS (
       |  SELECT d.doc_id, x.tok
       |  FROM d, LATERAL (SELECT unnest(d.t) AS tok) x),
       |votes AS (
       |  SELECT o.doc_id, b.j, b.mask,
       |         SUM(CASE WHEN (hs.h & b.mask) <> 0 THEN 1 ELSE -1 END) AS v
       |  FROM occ o JOIN hs ON hs.tok = o.tok
       |  CROSS JOIN bits b
       |  GROUP BY o.doc_id, b.j, b.mask),
       |fp0 AS (
       |  SELECT doc_id,
       |         SUM(CASE WHEN v > 0 THEN mask ELSE 0 END)::BIGINT AS sim
       |  FROM votes GROUP BY doc_id),
       |fpb AS MATERIALIZED (
       |  SELECT d.doc_id, COALESCE(fp0.sim, 0) AS sim
       |  FROM d LEFT JOIN fp0 ON fp0.doc_id = d.doc_id),
       |fp AS MATERIALIZED (
       |  SELECT doc_id, sim FROM fpb
       |  UNION ALL SELECT doc_id + 100000 AS doc_id, sim FROM fpb)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= $maxDist""".stripMargin
  }

  /** TRUE-SQL oracle for q_embedding_topk (exact brute-force cosine top-k):
    * the same bit-exact float-multiply cosine as the ANN oracles, over the
    * whole table — no bucketing, no export, no rounding, no tolerance.
    * Replaces the original `list_cosine_similarity` twin, which DuckDB
    * evaluates in FLOAT32 over float lists (~1e-8 off the engine's
    * float-multiply→double-accumulate cosine) and therefore needed 4-dp
    * rounding on both sides. */
  def bruteTopKTrueSql(dim: Int = 64, k: Int = 10): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |), q AS MATERIALIZED (
       |  SELECT embedding FROM embeddings WHERE vec_id = 0
       |), qn AS MATERIALIZED (
       |  SELECT sqrt(${dotFSql("q.embedding", "q.embedding", dim)}) AS nq FROM q
       |), scored AS (
       |  SELECT e.vec_id, ${cosineSql("e.embedding", dim)} AS sim
       |  FROM e CROSS JOIN q CROSS JOIN qn
       |)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin

  /** TRUE-SQL oracle for q_ann_ivf_trained: DuckDB re-derives the coarse
    * argmin assignment over the ENGINE-EXPORTED trained centroids
    * (bit-reproducible quantized-long Lloyd's, pinned engine-vs-seq-twin
    * in OpsSpec), the query's nProbe-cell selection, the exact
    * float-multiply cosine within the probed cells, and the (sim DESC, id)
    * top-k. All squared distances unroll left-to-right in index order —
    * both sides produce bit-identical doubles, raw (unrounded) sim
    * included. */
  def ivfTrainedTrueSql(dim: Int = 64, k: Int = 10,
                        nProbe: Int = 4): String = {
    // cell count is carried by the exported centroids table itself
    def cellDist(vec: String): String = (0 until dim).map { j =>
      val t = s"($vec[${j + 1}]::DOUBLE - cc.centroid[${j + 1}])"
      s"$t * $t"
    }.mkString(" + ")
    s"""WITH cc AS MATERIALIZED (
       |  SELECT cell, centroid
       |  FROM parquet_scan('$dir/q_ann_ivf_centroids/*.parquet')
       |), e AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |), q AS MATERIALIZED (
       |  SELECT embedding FROM embeddings WHERE vec_id = 0
       |), ed AS (
       |  SELECT e.vec_id, cc.cell, ${cellDist("e.embedding")} AS d2
       |  FROM e CROSS JOIN cc
       |), ea AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM ed) WHERE rn = 1
       |), qd AS (
       |  SELECT cc.cell, ${cellDist("q.embedding")} AS d2
       |  FROM cc CROSS JOIN q
       |), qc AS MATERIALIZED (
       |  SELECT cell FROM (
       |    SELECT cell, row_number() OVER (ORDER BY d2, cell) AS rn
       |    FROM qd) WHERE rn <= $nProbe
       |), qn AS MATERIALIZED (
       |  SELECT sqrt(${dotFSql("q.embedding", "q.embedding", dim)}) AS nq FROM q
       |), scored AS (
       |  SELECT e.vec_id, ${cosineSql("e.embedding", dim)} AS sim
       |  FROM e JOIN ea ON ea.vec_id = e.vec_id
       |         JOIN qc ON qc.cell = ea.cell
       |         CROSS JOIN q CROSS JOIN qn
       |)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }

  /** TRUE-SQL oracle for q_ann_lsh_topk: DuckDB re-derives the sign-bucket
    * of every vector over the EXPORTED ±1 hyperplane matrix (a
    * data-independent constant — `Similarity.planeSign`'s xxh64 chain, the
    * exact kernel definition), the query bucket, the multi-probe set
    * (bucket plus every 1-bit flip), the exact float-multiply cosine over
    * the probed buckets, and the (sim DESC, id) top-k. Projections are
    * float·(±1.0) products — exact in either engine — summed left-to-right
    * in index order; bucket bits assemble as sums of distinct powers of
    * two, order-invariant. */
  def lshTrueSql(dim: Int = 64, k: Int = 10): String = {
    // the plane count is carried by the exported plane table itself — the
    // bucket SUM and the probe set iterate whatever pl contains
    def proj(vec: String): String = (0 until dim).map(j =>
      s"($vec[${j + 1}]::DOUBLE * pl.plane[${j + 1}])").mkString(" + ")
    s"""WITH pl AS MATERIALIZED (
       |  SELECT p, plane
       |  FROM parquet_scan('$dir/q_ann_lsh_planes/*.parquet')
       |), e AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |), q AS MATERIALIZED (
       |  SELECT embedding FROM embeddings WHERE vec_id = 0
       |), eproj AS (
       |  SELECT e.vec_id, pl.p, ${proj("e.embedding")} AS proj
       |  FROM e CROSS JOIN pl
       |), ebuck AS MATERIALIZED (
       |  SELECT vec_id,
       |         SUM(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |  FROM eproj GROUP BY vec_id
       |), qproj AS (
       |  SELECT pl.p, ${proj("q.embedding")} AS proj
       |  FROM pl CROSS JOIN q
       |), qb AS MATERIALIZED (
       |  SELECT SUM(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |  FROM qproj
       |), probes AS (
       |  SELECT xor(qb.bucket, (1::BIGINT << pp.p)) AS b
       |  FROM qb CROSS JOIN (SELECT DISTINCT p FROM pl) pp
       |  UNION ALL SELECT bucket FROM qb
       |), qn AS MATERIALIZED (
       |  SELECT sqrt(${dotFSql("q.embedding", "q.embedding", dim)}) AS nq FROM q
       |), scored AS (
       |  SELECT e.vec_id, ${cosineSql("e.embedding", dim)} AS sim
       |  FROM e JOIN ebuck ON ebuck.vec_id = e.vec_id
       |         CROSS JOIN q CROSS JOIN qn
       |  WHERE ebuck.bucket IN (SELECT b FROM probes)
       |)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }

  /** TRUE-SQL oracle for q_semdedup: DuckDB re-derives the coarse argmin
    * assignment over the ENGINE-EXPORTED trained centroids (bit-reproducible
    * quantized-long Lloyd's), every within-cell pair's exact float-multiply
    * cosine against the 0.999 threshold, the transitive closure (recursive
    * CTE, same pattern as q_dedup_clusters), and the min-id canonical rule.
    * The union input (embeddings + id+100000 duplicates of vec_id < 100) is
    * the driver query's own construction, re-stated in SQL. */
  def semDedupTrueSql(dim: Int = 64): String = {
    def cellDist(vec: String): String = (0 until dim).map { j =>
      val t = s"($vec[${j + 1}]::DOUBLE - cc.centroid[${j + 1}])"
      s"$t * $t"
    }.mkString(" + ")
    def pairCos: String = {
      val den = s"sqrt(${dotFSql("a.embedding", "a.embedding", dim)}) * " +
        s"sqrt(${dotFSql("b.embedding", "b.embedding", dim)})"
      s"CASE WHEN $den = 0 THEN 0.0 ELSE (${dotFSql("a.embedding", "b.embedding", dim)}) / ($den) END"
    }
    s"""WITH RECURSIVE cc AS MATERIALIZED (
       |  SELECT cell, centroid
       |  FROM parquet_scan('$dir/q_semdedup_centroids/*.parquet')
       |), u AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
       |  WHERE vec_id < 100
       |), ed AS (
       |  SELECT u.vec_id, cc.cell, ${cellDist("u.embedding")} AS d2
       |  FROM u CROSS JOIN cc
       |), ea AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM ed) WHERE rn = 1
       |), m AS MATERIALIZED (
       |  SELECT u.vec_id, u.embedding, ea.cell
       |  FROM u JOIN ea ON ea.vec_id = u.vec_id
       |), pr AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE $pairCos >= 0.999::DOUBLE
       |), edges AS (
       |  SELECT id_a AS eu, id_b AS ev FROM pr
       |  UNION SELECT id_b, id_a FROM pr
       |), reach AS (
       |  SELECT vec_id AS src, vec_id AS dst FROM u
       |  UNION
       |  SELECT r.src, e.ev FROM reach r JOIN edges e ON r.dst = e.eu
       |)
       |SELECT r.src AS vec_id, ea.cell, MIN(r.dst) AS component,
       |       (MIN(r.dst) = r.src) AS is_canonical
       |FROM reach r JOIN ea ON ea.vec_id = r.src
       |GROUP BY r.src, ea.cell""".stripMargin
  }

  /** TRUE-SQL oracle for q_embedding_neardup (single band, 8 planes):
    * DuckDB re-derives every vector's sign bucket over the EXPORTED ±1
    * hyperplane matrix, the same-bucket candidate pairs, the exact
    * float-multiply cosine against the 0.999 threshold, and the 4-dp
    * rounding. The union input (vec_id < 100 plus id+100000 duplicates) is
    * the driver query's own construction, re-stated in SQL. */
  def neardupTrueSql(dim: Int = 64): String = {
    // the plane count is carried by the exported plane table itself
    def proj(vec: String): String = (0 until dim).map(j =>
      s"($vec[${j + 1}]::DOUBLE * pl.plane[${j + 1}])").mkString(" + ")
    def pairCos: String = {
      val den = s"sqrt(${dotFSql("a.embedding", "a.embedding", dim)}) * " +
        s"sqrt(${dotFSql("b.embedding", "b.embedding", dim)})"
      s"CASE WHEN $den = 0 THEN 0.0 ELSE (${dotFSql("a.embedding", "b.embedding", dim)}) / ($den) END"
    }
    s"""WITH pl AS MATERIALIZED (
       |  SELECT p, plane
       |  FROM parquet_scan('$dir/q_neardup_planes/*.parquet')
       |), u AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
       |  WHERE vec_id < 100
       |), eproj AS (
       |  SELECT u.vec_id, pl.p, ${proj("u.embedding")} AS proj
       |  FROM u CROSS JOIN pl
       |), ebuck AS MATERIALIZED (
       |  SELECT vec_id,
       |         SUM(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |  FROM eproj GROUP BY vec_id
       |), m AS MATERIALIZED (
       |  SELECT u.vec_id, u.embedding, eb.bucket
       |  FROM u JOIN ebuck eb ON eb.vec_id = u.vec_id
       |), scored AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, $pairCos AS c
       |  FROM m a JOIN m b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b, c AS cosine
       |FROM scored WHERE c >= 0.999::DOUBLE""".stripMargin
  }

  def writeAll(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val site = graft.SparkEntry.siteCfg
    val pages = (0L until Synth.pageCount(site)).map(Synth.pageAt(site, _))
    val pageMap = pages.map(p => p.url -> p).toMap
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")

    // ---- crawl-native fixtures from the sequential oracle -------------------
    val trace = SeqOracle.crawl(site, graft.SparkEntry.crawlCfg)

    write("crawl_visit_order",
      trace.visits.toDF("epoch", "visit_rank", "url", "depth"))

    write("crawl_docs_spans",
      trace.crawledDocs.flatMap { u =>
        pageMap(u).expectedSpans.map(s => (u, s.kind, s.text, s.media_ref, s.offset))
      }.toDF("doc_id", "kind", "text", "media_ref", "offset"))

    // TTL-recrawl expectation: the epoch-1-enqueued URLs, robots-allowed —
    // exactly what the engine revisits after expireEpoch(1) + rerun
    val robotsMap = Synth.robots(site).map(r => r.host -> r.rules).toMap
    write("crawl_recrawl",
      trace.enqueued.filter(_._4 == 1)
        .filter { case (u, h, _, _) =>
          graft.politeness.Robots.canFetch(robotsMap.getOrElse(h, null), u) }
        .map { case (u, _, d, _) => (u, d) }
        .toDF("url", "depth"))

    write("crawl_epoch_manifests",
      trace.stats.map(s => (s.epoch, s.fetched, s.failed, s.skippedRobots,
        s.newFrontier, s.seenTotal))
        .toDF("epoch", "fetched", "failed", "skipped_robots", "new_frontier", "seen_total"))

    // ---- generator-intent fixtures -----------------------------------------
    write("crawl_tables", (for {
      h <- 0 until site.nHosts
      c <- 0 until site.cats
      s <- 0 until site.subs
    } yield (Synth.urlOf(site, h, Synth.Sub(c, s)),
        s"Products in sub $s", "Name|Price", site.prods))
      .toDF("url", "caption", "headers", "n_rows"))

    write("crawl_metadata",
      pages.map(p => (p.url, p.title)).toDF("url", "title"))

    // media variants from generator intent: per Prod page, hero (1 variant)
    // + srcset image (src + two w-descriptor variants); the icon-context,
    // hidden, and data-URI-only images yield no variant rows
    write("crawl_media_variants", (for {
      h <- 0 until site.nHosts
      c <- 0 until site.cats
      s <- 0 until site.subs
      p <- 0 until site.prods
      row <- {
        val url = Synth.urlOf(site, h, Synth.Prod(c, s, p))
        Seq(
          (url, 0, s"/img/c${c}s${s}p$p-hero.jpg", Option.empty[Int],
            s"Product $p hero", "jpg", 4),
          (url, 1, s"/img/c${c}s${s}p$p-alt.png", Option.empty[Int], "", "png", 4),
          (url, 1, s"/img/p$p-480.png", Some(480), "", "png", 4),
          (url, 1, s"/img/p$p-960.png", Some(960), "", "png", 4))
      }
    } yield row).toDF("url", "group_id", "src", "width", "alt", "format", "score"))

    // ---- reference-derived markdown goldens --------------------------------
    // raw_markdown comes from the REFERENCE converter's emission (captured in
    // markdown_goldens.json); the citation columns are derived sequentially
    // from those reference strings by the (OpsSpec-pinned) rewrite function.
    val goldens = {
      val is = getClass.getResourceAsStream("/markdown_goldens.json")
      require(is != null, "markdown_goldens.json missing from resources")
      val raw = scala.io.Source.fromInputStream(is, "UTF-8").mkString
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(raw)
      (0 until root.size()).map { i =>
        val n = root.get(i)
        (n.get("name").asText(), n.get("base").asText(), n.get("md").asText())
      }
    }
    val tag = s"#prods=${site.prods}"
    write("crawl_markdown",
      goldens.collect { case (name, base, md) if name.endsWith(tag) =>
        val (cited, refs) = graft.scrape.Markdown.convertLinksToCitations(md, base)
        (base, md, cited, refs)
      }.toDF("doc_id", "raw_markdown", "markdown_with_citations", "references_markdown"))

    // ---- sequential twins of the bucketed dedup/ANN plans -------------------
    // q_minhash_lsh needs no fixture anymore: the driver query runs the md5
    // basis, whose whole pipeline the oracle SQL recomputes from the raw
    // text. The xxh64-basis sequential twin (SeqOracle.minHashLsh) stays
    // the oracle for q_minhash_incremental below.

    // q_pagerank is a TRUE SQL oracle ([[graft.SparkEntry.oracleSql]]):
    // DuckDB re-runs the whole fixed-point recurrence from the doc-id
    // arithmetic — nothing to export (the independent SeqOracle.pageRank
    // twin stays pinned bit-exact against the engine in OpsSpec).

    // q_simhash_pairs is a TRUE SQL oracle ([[simHashTrueSql]]): only the
    // token→xxh64 tabulation over the corpus vocabulary is exported (the
    // hash kernel is pinned spec==twin in OpsSpec/PropertySpec) — DuckDB
    // re-derives every fingerprint from scratch (per-occurrence votes, no
    // engine kernel) and brute-forces ALL pairs' Hamming, verifying the
    // Manku blocking's pigeonhole completeness on every run. OpsSpec keeps
    // its own brute-force blocking-completeness pin; the old shared-kernel
    // sequential twin (which reused Dedup.simHashFast) is superseded.
    write("q_simhash_hashes",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .where($"doc_id" < 200)
        .select(org.apache.spark.sql.functions.explode(
          graft.ops.TextAnalysis.tokens($"text")).as("tok"))
        .distinct()
        .select($"tok", org.apache.spark.sql.functions.xxhash64($"tok").as("h")))

    // incremental cross-snapshot probe: the sequential full self-join over
    // old ∪ incoming, restricted to cross pairs (old ids all < 150 < every
    // incoming id, so the pair's min side is the indexed doc)
    val oldSeq = spark.read.parquet(s"$sfDir/documents.parquet")
      .where($"doc_id" < 150).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val incomingSeq = spark.read.parquet(s"$sfDir/documents.parquet")
      .where($"doc_id" >= 150 && $"doc_id" < 250).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq ++
      oldSeq.collect { case (id, t) if id % 3 == 0 =>
        (id + 100000L, t + " incremental snapshot marker") }
    write("q_minhash_incremental",
      SeqOracle.minHashLsh(oldSeq ++ incomingSeq, k = 32, bands = 8,
          shingleLen = 3, minEstJaccard = 0.5)
        .collect { case (a, b, est) if a < 150 && b >= 150 => (b, a, est) }
        .toDF("new_id", "old_id", "est_jaccard"))

    // linear classifier: sequential twin of the distributed trainer — same
    // per-doc kernels (shared, labeled distribution twin), plain loop in
    // place of treeAggregate; quantized-long gradient sums make the two
    // bit-identical, which is exactly the property under test
    val clsRows = spark.read.parquet(s"$sfDir/documents.parquet")
      .where($"doc_id" < 300).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
      .map { case (id, t) =>
        if (id % 2 == 0) (id, t + " curated wellformed prose paragraph", 1.0)
        else (id, t + " boilerplate spam garbled listing", 0.0) }
    write("q_quality_classifier", {
      import graft.ops.QualityClassifier._
      val dim = 1 << 14
      val w = new Array[Double](dim + 1)
      val iters = 20
      (0 until iters).foreach { t =>
        val acc = new Array[Long](dim + 2)
        clsRows.foreach { case (_, txt, y) =>
          accumulate(acc, w, dim, bigrams = true, txt, y) }
        applyUpdate(w, acc, clsRows.length.toLong,
          50.0 * (1.0 - t.toDouble / iters.toDouble))
      }
      val m = LinearModel(dim, bigrams = true, w)
      clsRows.collect { case (id, txt, _) if id < 100 => (id, predict(m, txt)) }
        .toDF("doc_id", "prob")
    })

    val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val emb100 = embAll.filter(_._1 < 100)
    val embDim = embAll.head._2.length

    // q_embedding_neardup is a TRUE SQL oracle ([[neardupTrueSql]]): only
    // the data-independent ±1 hyperplane matrix (8 planes, band 0) is
    // exported — bucketing, candidate pairs, the exact float-multiply
    // cosine, and the rounding are all re-derived in DuckDB. The
    // independent SeqOracle.embeddingNearDup twin stays pinned against the
    // engine in OpsSpec at the driver's params.
    write("q_neardup_planes",
      (0 until 8).map(p =>
        (p, (0 until embDim).map(j => graft.ops.Similarity.planeSign(p, j))))
        .toDF("p", "plane"))

    // q_ann_lsh_topk / q_ann_ivf_trained are TRUE SQL oracles ([[lshTrueSql]]
    // / [[ivfTrainedTrueSql]]): only the data-independent ±1 hyperplane
    // matrix (Similarity.planeSign — the signBucketFast xxh64 chain) and the
    // trained coarse centroids (bit-reproducible quantized-long Lloyd's,
    // pinned engine-vs-seq-twin in OpsSpec) are exported — bucketing /
    // assignment, probe selection, the exact float-multiply cosine, and the
    // top-k are all re-derived arithmetically in DuckDB.
    write("q_ann_lsh_planes",
      (0 until 6).map(p =>
        (p, (0 until embDim).map(j => graft.ops.Similarity.planeSign(p, j))))
        .toDF("p", "plane"))
    val ivfCentroids = graft.ops.Similarity.trainIvf(
      spark.read.parquet(s"$sfDir/embeddings.parquet"),
      "vec_id", "embedding", cells = 8, iters = 3, trainFraction = 0.5)
    write("q_ann_ivf_centroids",
      ivfCentroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "centroid"))

    // q_ann_pq is a TRUE SQL oracle ([[pqTrueSql]]): only the trained
    // codebooks are exported here — encode, the query ADC table, and the
    // top-k are all re-derived arithmetically in DuckDB. Training itself is
    // bit-reproducible (quantized-long sums) and pinned engine-vs-seq-twin
    // in OpsSpec, so exporting it shares a VERIFIED artifact, not an answer.
    val cbPq = graft.ops.Similarity.trainPq(
      spark.read.parquet(s"$sfDir/embeddings.parquet"),
      "vec_id", "embedding", m = 8, k = 16, iters = 3, trainFraction = 0.5)
    write("q_ann_pq_codebooks",
      (for { s <- 0 until cbPq.m; c <- 0 until cbPq.k }
        yield (s, c, cbPq.centroids(s)(c).toSeq)).toDF("sub", "code", "centroid"))

    // q_ann_ivfpq is a TRUE SQL oracle ([[ivfPqTrueSql]]): only the trained
    // coarse centroids + residual codebooks are exported — assignment,
    // encode, probe selection, per-cell ADC tables, and the top-k are all
    // re-derived arithmetically in DuckDB. Both trainers are
    // bit-reproducible (quantized-long sums) and the composed search is
    // pinned engine-vs-seq-twin in OpsSpec at these exact params, so the
    // export shares a VERIFIED artifact, not an answer.
    val ivfPqModel = graft.ops.Similarity.trainIvfPq(
      spark.read.parquet(s"$sfDir/embeddings.parquet"),
      "vec_id", "embedding", cells = 8, m = 8, cbk = 16, iters = 3,
      trainFraction = 0.5)._1
    write("q_ann_ivfpq_centroids",
      ivfPqModel.centroids.zipWithIndex
        .map { case (c, i) => (i, c) }.toDF("cell", "centroid"))
    write("q_ann_ivfpq_codebooks",
      (for { s <- 0 until ivfPqModel.cb.m; c <- 0 until ivfPqModel.cb.k }
        yield (s, c, ivfPqModel.cb.centroids(s)(c).toSeq))
        .toDF("sub", "code", "centroid"))

    // q_semdedup is a TRUE SQL oracle ([[semDedupTrueSql]]): only the
    // trained coarse centroids are exported (bit-reproducible quantized-long
    // Lloyd's over the SAME union input and cellsFor sizing as the driver
    // query) — assignment, within-cell exact-cosine pairs, the recursive-CTE
    // transitive closure, and the min-id canonical rule are all re-derived
    // in DuckDB. The independent SeqOracle.semDedup twin stays pinned
    // against the engine in OpsSpec.
    val semInput = embAll ++ emb100.map { case (id, v) => (id + 100000L, v) }
    val semDf = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val semUnion = semDf.unionByName(semDf.where($"vec_id" < 100)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val semCentroids = graft.ops.Similarity.trainIvf(semUnion, "vec_id",
      "embedding", cells = graft.ops.Dedup.cellsFor(semInput.size.toLong),
      iters = 2, trainFraction = 0.5)
    write("q_semdedup_centroids",
      semCentroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "centroid"))

    // PDF pages: GENERATOR INTENT (what the builder put into each page),
    // computed without the parser — the distributed query must real-parse
    // its way back to exactly this
    val docs60Pdf = spark.read.parquet(s"$sfDir/documents.parquet")
      .where($"doc_id" < 60).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    write("q_pdf_pages",
      docs60Pdf.flatMap { case (id, text) =>
        graft.sources.Pdf.syntheticPdfIntent(id, text)
          .map(p => (id, p.page_no, p.text, p.n_images, p.links.mkString(",")))
      }.toDF("doc_id", "page_no", "text", "n_images", "links"))

    // BPE: sequential independent implementation (SeqBpe) over the same
    // collected slices, same determinism contract as the distributed trainer
    val bpeTexts200 = spark.read.parquet(s"$sfDir/documents.parquet")
      .where($"doc_id" < 200).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    write("q_bpe_merges",
      SeqBpe.train(bpeTexts200.map(_._2), merges = 30)
        .toDF("rank", "left", "right", "pair_cnt"))
    val bpeDocs100 = bpeTexts200.filter(_._1 < 100)
    write("q_bpe_tokens",
      SeqBpe.segment(bpeDocs100,
          SeqBpe.train(bpeDocs100.map(_._2), merges = 20)
            .map { case (k, l, r, _) => (k, l, r) })
        .toDF("doc_id", "pos", "piece"))

    // q_media_features needs no fixture anymore: the blob intent params are
    // md5-hex / doc-id arithmetic, so its oracle is direct DuckDB SQL.

    // INDEPENDENT sequential twin (own md5 embedding + agglomeration in
    // SeqOracle — no scrape/ops kernel on this path)
    val docs60 = spark.read.parquet(s"$sfDir/documents.parquet")
      .where($"doc_id" < 60).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    write("q_cosine_extract",
      docs60.flatMap { case (id, text) =>
        val sections = text.toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z]+").filter(_.nonEmpty)
          .grouped(10).map(_.mkString(" ")).toSeq
        SeqOracle.cosineExtract(sections, "spark window query",
            wordCountThreshold = 5, maxDist = 0.6)
          .map { case (idx, tags, content) => (id, idx, tags, content) }
      }.toDF("doc_id", "cluster_index", "tags", "content"))
  }
}
