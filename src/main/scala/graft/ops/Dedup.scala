package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline, each shaped for
  * 100 TB inputs:
  *
  *  - exact          — hash-groupBy on a content hash (one shuffle on the
  *    64-bit key; the payload column never shuffles). Mirrors the reference's
  *    content-addressed store dedup (async_database.py:527-541, xxh64).
  *  - minHashLsh     — shingle → k-minhash signature → banding → bucket
  *    join. Candidate generation is an equi-join on (band, band_hash): only
  *    same-bucket pairs shuffle, never the O(n²) cross product.
  *  - simHash        — 64-bit weighted bit-vote fingerprint; near-dup =
  *    Hamming ≤ d found via Manku et al. (WWW '07) multi-table blocking:
  *    C(d+3, 3) tables keyed on 3-block concatenations (~2^32 keys at d=3 —
  *    pigeonhole-complete, and bucket occupancy stays bounded where a 2^16
  *    single-band key space saturates at ~10^9 docs).
  *  - ngramJaccard   — exact Jaccard over distinct word shingles via an
  *    inverted-index self-join (explode → join on shingle → count ∩ / sizes),
  *    with an optional document-frequency cap on the posting lists (hot
  *    shingles make per-shingle groups quadratic at scale).
  *
  * Signature computation runs as compiled per-row JVM kernels (UDFs over
  * graft.core.Xxh64, the bit-identical twin of Spark's xxhash64): the
  * higher-order-function `aggregate`/`transform` lambdas are NOT
  * whole-stage-codegen'd in Spark 4 — they evaluate interpreted, k× per
  * shingle — so the hot candidate paths use the compiled loops instead. The
  * Column forms below remain as the executable spec; OpsSpec asserts the two
  * agree bit-for-bit.
  */
object Dedup {

  // ---- compiled per-row kernels --------------------------------------------

  private def tokenizeFast(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty)

  /** Word k-shingles, mirroring TextAnalysis.shingles (fallback: one shingle
    * of all tokens when fewer than k). */
  private def shinglesFast(text: String, k: Int): Array[String] = {
    val t = tokenizeFast(text)
    if (t.length < k) Array(t.mkString(" "))
    else Array.tabulate(t.length - k + 1)(i => t.slice(i, i + k).mkString(" "))
  }

  /** sig[i] = min over shingles of xxhash64(i, shingle) — bit-identical to
    * [[minHashSignature]] (Spark's seed chain: hashLong(i) then the string). */
  def minHashSignatureFast(text: String, k: Int, shingleLen: Int): Array[Long] = {
    val sh = shinglesFast(text, shingleLen)
    Array.tabulate(k) { i =>
      val seed = graft.core.Xxh64.hashInt(i, 42L)
      var m = Long.MaxValue
      var s = 0
      while (s < sh.length) {
        val h = graft.core.Xxh64.hashString(sh(s), seed)
        if (h < m) m = h
        s += 1
      }
      m
    }
  }

  /** Compiled twin of [[minHashSignatureMd5]]: sig[i] = lexicographic min
    * over shingles of the md5 hex of "i|shingle" — bit-identical to the
    * Column form (UTF-8 bytes, lowercase hex, string compare) and derivable
    * in DuckDB with string ops, which makes every pipeline built on it
    * (banding, est-Jaccard, the streaming curation ledger) SQL-oracle-able
    * end to end.
    */
  def minHashSignatureMd5Fast(text: String, k: Int, shingleLen: Int): Array[String] = {
    val sh = shinglesFast(text, shingleLen)
    // digest() leaves the MessageDigest reset; no explicit reset needed
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k) { i =>
      var m: String = null
      var s = 0
      while (s < sh.length) {
        val h = graft.core.Hex.lower(md.digest(s"$i|${sh(s)}".getBytes("UTF-8")))
        if (m == null || h.compareTo(m) < 0) m = h
        s += 1
      }
      m
    }
  }

  /** Signature kernel for `basis` ("xxh64" production | "md5" SQL-twin). */
  private def sigKernel(basis: String, k: Int, shingleLen: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = basis match {
    case "xxh64" => udf((text: String) => minHashSignatureFast(text, k, shingleLen))
    case "md5" => udf((text: String) => minHashSignatureMd5Fast(text, k, shingleLen))
    case other => throw new IllegalArgumentException(
      s"unknown minhash basis '$other' (xxh64 | md5)")
  }

  /** Bit-identical compiled twin of [[simHash]]. */
  def simHashFast(text: String): Long = {
    val votes = new Array[Int](64)
    tokenizeFast(text).foreach { t =>
      val h = graft.core.Xxh64.hashString(t, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Exact dedup: keep the smallest `idCol` per identical `textCol` content.
    * Returns (id, content_hash) of survivors.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("content_hash"))

  /** k-minhash signature as an array column: sig[i] = min over shingles of
    * xxhash64(i, shingle).
    */
  def minHashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => aggregate(shingles, lit(Long.MaxValue),
        (acc, s) => least(acc, xxhash64(i, s))))

  /** md5-keyed minhash signature: sig[i] = lexicographic min over shingles
    * of md5(i + "|" + shingle). Slower than the xxhash64 path (hex-string
    * compares) but expressible identically in ANSI-ish SQL — the
    * oracle-checkable twin of [[minHashSignature]].
    */
  def minHashSignatureMd5(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles, s => md5(concat(i, lit("|"), s)))))

  /** MinHash+LSH near-duplicate candidate pairs.
    *
    * @param df     input with an id column and a text column
    * @param k      signature length (bands × rowsPerBand must equal k)
    * @param bands  number of LSH bands
    * @return pairs (id_a < id_b, est_jaccard) whose signatures collide in at
    *         least one band, with the signature-estimated Jaccard attached
    */
  /** Lazy band-collision candidate pairs (id_a < id_b, deduped) for
    * [[minHashLsh]]. Band rows carry ONLY (band, band_hash, id): the
    * k-element signature arrays must not ride through the band exchange
    * (bands× the rows, each k×8 bytes — the dominant shuffle at corpus
    * scale). Exposed separately so the band-exchange payload stays
    * plan-inspectable (PlanSpec) after minHashLsh materializes it.
    */
  /** LSH band keys of a signature table (id, sig) → (band, band_hash, id).
    * The ONE definition of the banding function: the self-join candidates,
    * the persistable index, and the incremental probes must bucket
    * identically or cross-snapshot collisions are silently missed.
    */
  private def bandedKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, "bands must divide k")
    sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
          .as(Seq("band", "band_hash")))
      .select(col("band"), col("band_hash"), col("id"))
  }

  /** Raw band-join candidate rows (pre-dedup): one row per shared band per
    * pair. The cardinality of this frame is the blocking-stage cost
    * statistic SfSweep reports — it grows quadratically iff band buckets
    * saturate, independent of how much true near-dup mass the corpus has.
    */
  private[graft] def minHashCandidates(df: DataFrame, idCol: String,
                                       textCol: String, k: Int, bands: Int,
                                       shingleLen: Int,
                                       basis: String = "xxh64"): DataFrame = {
    val sigUdf = sigKernel(basis, k, shingleLen)
    val sigs = df.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
    val banded = bandedKeys(sigs, k, bands)
    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  def minHashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            k: Int, bands: Int, shingleLen: Int,
                            basis: String = "xxh64"): DataFrame =
    minHashCandidates(df, idCol, textCol, k, bands, shingleLen, basis)
      .dropDuplicates("id_a", "id_b")

  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 32, bands: Int = 8, shingleLen: Int = 3,
                 minEstJaccard: Double = 0.5,
                 basis: String = "xxh64"): DataFrame = {
    val sigUdf = sigKernel(basis, k, shingleLen)
    // Signatures come back AFTER the candidate pairs are deduped — and only
    // for the ids that actually survive: a left_semi against the
    // surviving-pair id set restricts the second signature pass to those
    // rows, so the signature kernel runs once over the corpus (banding) plus
    // once over the (much smaller) survivor slice, instead of full corpus
    // passes on both join sides.
    val pairIds = minHashCandidatePairs(df, idCol, textCol, k, bands, shingleLen, basis)
      // materialize ONCE: the pair set feeds three consumers (the final join
      // plus both survivor-signature branches) and without this the band
      // self-join — the expensive stage — would recompute per consumer.
      // localCheckpoint (not persist: the CacheManager would pin it for the
      // session) truncates lineage into block storage sized to the candidate
      // pairs, orders smaller than the corpus; freed by the ContextCleaner
      // when the returned plan is no longer referenced. LAZY: the returned
      // plan stays a plan — callers that only build/inspect/compose it
      // (Curate.curateCorpus documents a one-lazy-plan contract) pay the
      // band join at their first action, not here at call time. Known
      // trade-off: during that FIRST action the scheduler may submit the
      // three consumer stages concurrently and partitions not yet in the
      // block store can be computed more than once before the cache lands;
      // every later access hits the checkpoint. Eager would guarantee
      // exactly-once compute at the cost of running a job inside what is
      // documented as plan construction.
      .localCheckpoint(false)
    val survivorIds = pairIds.select(col("id_a").as("id"))
      .unionByName(pairIds.select(col("id_b").as("id")))
      .distinct()
    val survivorSigs = df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(survivorIds, Seq("id"), "left_semi")
      .select(col("id"), sigUdf(col("__t")).as("sig"))
      // same reasoning: joined as both sig_a and sig_b below — materialize
      // the (small) survivor slice so the corpus is scanned once, not twice
      .localCheckpoint(false)
    val pairs = pairIds
      .join(survivorSigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(survivorSigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
    pairs
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Persistable LSH index of an already-deduplicated corpus snapshot:
    * `bandIndex` (band, band_hash, id) for candidate lookup and `sigs`
    * (id, sig) for Jaccard verification. Write both as parquet — bucket
    * `bandIndex` by band_hash so incremental probes co-locate without
    * shuffling the indexed corpus — and dedup every incoming snapshot
    * against them with [[minHashLshAgainst]]: at 100 TB the index is built
    * (and paid for) ONCE; later snapshots never re-scan the old corpus text.
    */
  final case class MinHashIndex(bandIndex: DataFrame, sigs: DataFrame)

  /** Build a [[MinHashIndex]] in one pass over the corpus: the signature
    * kernel runs once (lazily checkpointed), the band keys derive from the
    * stored signatures rather than a second text scan.
    */
  def minHashIndex(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 32, bands: Int = 8, shingleLen: Int = 3,
                   basis: String = "xxh64"): MinHashIndex = {
    require(bands > 0 && k % bands == 0, "bands must divide k")
    val sigUdf = sigKernel(basis, k, shingleLen)
    val sigs = df.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
      .localCheckpoint(false)
    MinHashIndex(bandedKeys(sigs, k, bands), sigs)
  }

  /** Cross-snapshot near-dup pairs: every (new_id, old_id, est_jaccard)
    * where an incoming document collides with the indexed corpus in at
    * least one LSH band and the signature-estimated Jaccard clears the
    * threshold. Equivalent to running [[minHashLsh]] over old ∪ new and
    * keeping the cross pairs — without touching the old corpus text.
    *
    * Scale shape: the incoming batch is scanned once for signatures
    * (lazy-checkpointed — banding and verification reuse the blocks), the
    * probe join ships only (band, band_hash, id) rows against the band
    * index, and signatures rejoin by id for the collided slice only — the
    * same band-exchange payload discipline as [[minHashCandidatePairs]].
    * `k`, `bands`, `shingleLen` must match the values the index was built
    * with (the band keys are not comparable otherwise).
    */
  def minHashLshAgainst(incoming: DataFrame, idCol: String, textCol: String,
                        index: MinHashIndex, k: Int = 32, bands: Int = 8,
                        shingleLen: Int = 3,
                        minEstJaccard: Double = 0.5,
                        basis: String = "xxh64"): DataFrame = {
    val sigUdf = sigKernel(basis, k, shingleLen)
    val inSigs = incoming
      .select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
      .localCheckpoint(false)
    val hits = bandedKeys(inSigs, k, bands)
      .withColumnRenamed("id", "new_id")
      .join(index.bandIndex.withColumnRenamed("id", "old_id"),
        Seq("band", "band_hash"))
      .select(col("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")
    hits
      .join(inSigs.select(col("id").as("new_id"), col("sig").as("sig_new")),
        Seq("new_id"))
      .join(index.sigs.select(col("id").as("old_id"), col("sig").as("sig_old")),
        Seq("old_id"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_new"), col("sig_old"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("new_id"), col("old_id"), col("est_jaccard"))
  }

  /** Incremental corpus growth: the incoming rows that survive dedup
    * against an existing snapshot index AND within the batch itself —
    * drop anything near-duplicating the indexed corpus, then keep one
    * canonical (min-id) survivor per remaining in-batch near-dup cluster.
    * Ids must be disjoint from the index's. Append [[minHashIndex]] of the
    * survivors to the stored index to absorb the batch.
    */
  def dedupIncremental(incoming: DataFrame, idCol: String, textCol: String,
                       index: MinHashIndex, k: Int = 32, bands: Int = 8,
                       shingleLen: Int = 3,
                       minEstJaccard: Double = 0.5): DataFrame = {
    val crossIds = minHashLshAgainst(incoming, idCol, textCol, index,
        k, bands, shingleLen, minEstJaccard)
      .select(col("new_id").as(idCol)).distinct()
    val fresh = incoming.join(crossIds, Seq(idCol), "left_anti")
      .localCheckpoint(false) // feeds pair gen, cluster labels, and the semi-join
    val pairs = minHashLsh(fresh, idCol, textCol, k, bands, shingleLen, minEstJaccard)
    val canonical = clusterLabels(fresh, idCol, pairs)
      .where(col("is_canonical")).select(col(idCol))
    fresh.join(canonical, Seq(idCol), "left_semi")
  }

  /** 64-bit SimHash over word tokens: bit j of the result is the sign of the
    * sum over tokens of ±1 votes from bit j of xxhash64(token). Expressed as
    * a 64-slot vote-vector aggregate (pure columns, codegen'd).
    */
  def simHash(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    val votes = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, j) => a + when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1).otherwise(-1))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, j) => when(v > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Blocking-stage candidates for [[simHashPairs]]: raw (id_a, sim_a, id_b,
    * sim_b) join rows BEFORE Hamming verification and pair dedup — the
    * cardinality of this frame is the statistic that tells quadratic
    * candidate generation from genuine near-dup mass (SfSweep reports it).
    *
    * Blocking is Manku–Jain–Das Sarma (WWW '07, §3) multi-table: split the
    * 64-bit fingerprint into `maxDist + 3` contiguous blocks; two
    * fingerprints within Hamming `maxDist` differ in at most `maxDist`
    * blocks, so they AGREE exactly on at least 3 — keying candidates on
    * every C(maxDist+3, 3) concatenation of 3 blocks is pigeonhole-complete
    * while the key space is ~2^(3·64/(maxDist+3)) (≈2^32 at the default
    * maxDist=3) instead of the 2^16 of single-band blocking, whose buckets
    * saturate at ~10^9 docs and turn the self-join effectively quadratic.
    */
  private[graft] def simHashCandidates(df: DataFrame, idCol: String,
                                       textCol: String,
                                       maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 10,
      s"maxDist must be in [0, 10] (got $maxDist): C(maxDist+3, 3) blocking" +
        " tables grow cubically")
    val simUdf = udf((text: String) => simHashFast(text))
    val sigs = df.select(col(idCol).as("id"), simUdf(col(textCol)).as("sim"))
    val nBlocks = maxDist + 3
    // distribute 64 bits over the blocks as evenly as possible
    val widths = Array.tabulate(nBlocks)(i => 64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftrightunsigned(col("sim"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    // pack each 3-block combination into one ≤64-bit long key, tagged with
    // its table index by posexplode
    val keyExprs = (0 until nBlocks).combinations(3).toSeq.map { c =>
      shiftleft(block(c(0)), widths(c(1)) + widths(c(2)))
        .bitwiseOR(shiftleft(block(c(1)), widths(c(2))))
        .bitwiseOR(block(c(2)))
    }
    val keyed = sigs.select(col("id"), col("sim"),
      posexplode(array(keyExprs: _*)).as(Seq("tbl", "key")))
    val a = keyed.select(col("tbl"), col("key"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = keyed.select(col("tbl"), col("key"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("tbl", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("sim_a"), col("id_b"), col("sim_b"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Candidates come
    * from the Manku multi-table blocking of [[simHashCandidates]] (complete
    * for the requested distance, ~2^32-entry key space at the default);
    * Hamming verification runs BEFORE the pair dedup so the dropDuplicates
    * exchange carries only verified near-dup pairs, never the raw candidate
    * mass.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    simHashCandidates(df, idCol, textCol, maxDist)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))

  /** Exact n-gram Jaccard similarity pairs via inverted-index self-join:
    * explode distinct shingles, equi-join on shingle, count intersections,
    * join back the set sizes. Only same-shingle pairs ever shuffle.
    *
    * `docFreqCap` bounds the posting lists at scale: shingles occurring in
    * more than `docFreqCap` documents (stopword n-grams — each hot shingle
    * contributes df² join rows) are dropped from CANDIDATE GENERATION, and
    * surviving candidate pairs are then verified with the EXACT Jaccard over
    * their full shingle sets. Recall contract: a pair is found iff it shares
    * at least one sub-cap shingle — near-duplicates always do unless their
    * entire overlap is stopword-hot. Default (MaxValue) = fully exact.
    */
  /** Raw inverted-index join rows (one per shared sub-cap shingle per pair,
    * pre-dedup) — the blocking-stage cost statistic for [[ngramJaccardPairs]]
    * that SfSweep reports. Mirrors the candidate generation of the capped
    * branch below exactly (same kernel, same df cap semantics).
    */
  private[graft] def ngramJaccardCandidates(df: DataFrame, idCol: String,
                                            textCol: String, n: Int = 3,
                                            docFreqCap: Int = Int.MaxValue): DataFrame = {
    val shingleSet = udf((t: String) => shinglesFast(t, n).distinct.toSeq)
    val inv = df.select(col(idCol).as("id"), explode(shingleSet(col(textCol))).as("shingle"))
    val kept =
      if (docFreqCap == Int.MaxValue) inv
      else {
        val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
        inv.join(dfreq.where(col("df") <= docFreqCap).select("shingle"), Seq("shingle"))
      }
    kept.as("a").join(kept.as("b"), Seq("shingle"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.8,
                        docFreqCap: Int = Int.MaxValue): DataFrame = {
    // compiled shingle kernel (same strings as TextAnalysis.shingles +
    // array_distinct): the interpreted HOF would be re-evaluated on BOTH
    // sides of the self-join below
    val shingleSet = udf((t: String) => shinglesFast(t, n).distinct.toSeq)
    val sets = df.select(col(idCol).as("id"), shingleSet(col(textCol)).as("sh"))
      .withColumn("sz", size(col("sh")))
    val inv = sets.select(col("id"), col("sz"), explode(col("sh")).as("shingle"))
    if (docFreqCap == Int.MaxValue) {
      val ab = inv.as("a").join(inv.as("b"), Seq("shingle"))
        .where(col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
        .agg(count(lit(1)).as("inter"))
      ab.withColumn("jaccard",
          col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
        .where(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    } else {
      // capped posting lists for candidates; exact verify on the pair's sets
      val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
      val rare = inv.join(dfreq.where(col("df") <= docFreqCap).select("shingle"), Seq("shingle"))
      val candidates = rare.as("a").join(rare.as("b"), Seq("shingle"))
        .where(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      candidates
        .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), Seq("id_a"))
        .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
        .where(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Cells needed so the EXPECTED quantizer-cell occupancy is ≤
    * `targetCellSize` — the [[semDedup]] scaladoc's "pick cells ≈ n /
    * targetCellSize" as a callable, mirroring [[planesFor]]: the within-cell
    * self-join is then O(n·target) rows instead of O(n²/cells-fixed).
    * SemDeDup's own LAION-440M run uses 50k clusters — this ratio at
    * target ≈ 9k.
    *
    * NOT free: Lloyd's training and the per-row argmin assignment cost
    * O(iters·n·cells·dim), so cells ∝ n makes ASSIGNMENT the quadratic
    * stage. `maxCells` caps it (default 2¹⁶ — at the LAION-scale target
    * occupancy that covers ~10⁹ rows); past the cap, occupancy grows with n
    * again and the caller should bound the within-cell join with
    * [[semDedup]]'s `maxCellSize` sub-blocking, which is O(log cell-size)
    * sign-planes per oversized cell instead of more centroids. */
  def cellsFor(n: Long, targetCellSize: Int = 256,
               maxCells: Int = 1 << 16): Int =
    math.min(maxCells,
      math.max(1, math.ceil(n.toDouble / targetCellSize).toInt))

  /** Planes needed so the EXPECTED sign-bucket occupancy is ≤ `targetBucketSize`
    * (buckets = 2^planes): the in-bucket self-join is then O(n·target) rows
    * instead of O(n²/2^planes-fixed). */
  def planesFor(n: Long, targetBucketSize: Int = 64): Int =
    math.min(48, math.max(1,
      math.ceil(math.log(math.max(n.toDouble / targetBucketSize, 1.0)) / math.log(2.0)).toInt))

  /** Embedding near-duplicate pairs: cosine ≥ threshold, candidates blocked
    * by random-hyperplane LSH sign-buckets (see [[Similarity.signBucket]]),
    * verified by exact cosine.
    *
    * Scale controls (the fixed-8-planes default is a toy at 100 TB):
    *  - `targetBucketSize > 0` scales the plane count with the input
    *    ([[planesFor]]) so expected bucket occupancy stays bounded;
    *  - `bands > 1` probes that many INDEPENDENT plane families (minhash-style
    *    banding): more planes per band sharpens buckets (smaller joins) but
    *    splits true pairs across single-band boundaries — multiple bands
    *    restore recall to 1 − (1 − r^p)^bands.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       planes: Int = 8, minCosine: Double = 0.95,
                       bands: Int = 1, targetBucketSize: Int = 0): DataFrame = {
    val p =
      if (targetBucketSize > 0) math.max(planes, planesFor(df.count(), targetBucketSize))
      else planes
    embeddingNearDupCandidates(df, idCol, vecCol, p, bands)
      // compiled kernel (bit-identical twin of Similarity.cosine — OpsSpec).
      // Verify BEFORE the cross-band pair dedup: the dropDuplicates exchange
      // then carries only verified (id, id, cosine) triples — the vectors
      // themselves never ride a shuffle (cosine recomputes per band for the
      // few pairs two bands both catch; trivially cheaper than shuffling
      // dim-sized arrays)
      .withColumn("cosine", Similarity.cosineKernel(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Raw sign-bucket join rows (one per shared band bucket per pair,
    * pre-verify, pre-dedup) — the blocking-stage cost statistic for
    * [[embeddingNearDup]] that SfSweep reports. `planes` here is the FINAL
    * plane count (callers wanting occupancy-scaled planes resolve
    * [[planesFor]] first, as [[embeddingNearDup]] does).
    */
  private[graft] def embeddingNearDupCandidates(df: DataFrame, idCol: String,
                                                vecCol: String, planes: Int,
                                                bands: Int): DataFrame = {
    // a null vector must DROP the row, not NPE the job — and the guard has
    // to live here, before the sign-bucket kernel ever sees the row (a
    // null-guard only in the cosine verify stage would be unreachable)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .where(col("v").isNotNull)
    (0 until bands).map { b =>
      // compiled kernel (bit-identical twin of Similarity.signBucket)
      val bucketU = udf((v: Seq[Float]) => Similarity.signBucketFast(v, planes, b * planes))
      val bucketed = base.withColumn("bucket", bucketU(col("v")))
      val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
      val bb = bucketed.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
      a.join(bb, Seq("bucket"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"))
    }.reduce(_ unionByName _)
  }

  /** Text-input form of [[embeddingNearDup]]: vectors derived in-plan through
    * the [[Embedder]] seam (one embed per row, computed inside the scan
    * projection), then the same LSH-blocked near-dup join. Swapping in a real
    * model changes only the `embedder` argument.
    */
  def embeddingNearDupText(df: DataFrame, idCol: String, textCol: String,
                           embedder: Embedder = Embedder.default,
                           planes: Int = 8, minCosine: Double = 0.95,
                           bands: Int = 1, targetBucketSize: Int = 0): DataFrame =
    embeddingNearDup(
      df.withColumn("__emb", Embedder.embedCol(embedder)(col(textCol))),
      idCol, "__emb", planes, minCosine, bands, targetBucketSize)

  /** Distributed connected components over an undirected edge list, via
    * alternating large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — a published algorithm,
    * O(log² n) rounds on any graph).
    *
    * This is the missing last stage of fuzzy dedup at corpus scale: pairwise
    * near-dup candidates ([[minHashLsh]], [[simHashPairs]],
    * [[ngramJaccardPairs]], [[embeddingNearDup]]) chain transitively (A≈B,
    * B≈C), so keeping one document per PAIR over-deletes and keeping one per
    * edge endpoint under-deletes; the correct unit is the connected
    * component.
    *
    * Shape per round: one aggregation (min neighbor per node — no
    * collect_list, so a 10^9-member star never materializes a neighbor
    * array) plus one equi-join, both shuffling on the node id. Hot roots of
    * giant components skew that join; AQE skew-split handles it (the join
    * payload is two longs). Each round ends in an eager localCheckpoint:
    * iterative DataFrame algorithms otherwise stack O(rounds) of lineage and
    * re-execute the whole history every round.
    *
    * @param edges pairs with two id columns (any orientation, dups fine)
    * @return (id, component) for every node incident to an edge, where
    *         component = the smallest id in the node's component. Isolated
    *         nodes never appear — callers label them `component = id`.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 64): DataFrame = {
    // orient (u > v), drop self-loops/dups; every intermediate keeps this
    // invariant so "pointing at the component min" is representable
    var e = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(false)
    // fixpoint detection: the rounds are deterministic set transforms, so an
    // unchanged (count, hash-xor) signature means an unchanged edge set
    // (up to a 2^-64 collision) and every later round is identity. XOR, not
    // sum: ANSI mode makes a 64-bit hash sum overflow-fatal. Checkpoints are
    // LAZY: the signature action doubles as the job that materializes and
    // locally checkpoints each round, so a round costs ONE cluster-wide
    // barrier, not a checkpoint job plus a probe job — while lineage still
    // truncates to a leaf every round (an eager-persist variant without
    // truncation goes exponential: each round's plan embeds ~8 copies of the
    // previous round's tree, and the analyzer re-walks all of them).
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = signature(e)
    var it = 0
    var converged = prev._1 == 0L
    while (!converged && it < maxIter) {
      // large-star: over the symmetric view, link every LARGER neighbor of u
      // to m(u) = min(Γ(u) ∪ {u}) — output edges all point downward
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(m, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: all edges already point downward — re-link every smaller
      // neighbor (and u itself) to the minimum
      val m2 = ls.groupBy("u").agg(min("v").as("m"))
      val ss = ls.join(m2, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m2.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      val sig = signature(ss)
      converged = sig == prev
      prev = sig
      e = ss
      it += 1
    }
    // at the fixpoint e is a star forest: u → component min
    e.select(col("u").as("id"), col("v").as("component"))
      .unionByName(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** End-to-end fuzzy dedup: MinHash+LSH near-dup pairs →
    * [[connectedComponents]] → one canonical survivor (the smallest id) per
    * cluster. Returns every input row labeled (id, component, is_canonical);
    * `where(is_canonical)` is the deduplicated corpus.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 32, bands: Int = 8, shingleLen: Int = 3,
                      minEstJaccard: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, idCol, textCol, k, bands, shingleLen, minEstJaccard)
    clusterLabels(df, idCol, pairs)
  }

  /** Benchmark decontamination flags: for every training document, count the
    * distinct word k-grams it shares with an evaluation/benchmark corpus and
    * flag overlapping docs — the standard "13-gram decontamination" pass
    * (GPT-3 appendix C; PaLM; Llama) run before training.
    *
    * Scale shape: both sides reduce to DISTINCT (id, gram) / (gram) sets
    * before the join (map-side partial aggregation caps a gram repeated 10^6
    * times within one doc at one row), then one equi-join on the gram string.
    * At 100 TB the bench side is the small one by construction — millions of
    * eval grams vs trillions of corpus grams — so AQE broadcasts it and the
    * corpus side never shuffles; the final count is a partial-agg groupBy on
    * the doc id. A doc shorter than k tokens has no k-gram and is clean.
    *
    * @return one row per `docs` row: (id, n_grams, n_hit_grams,
    *         is_contaminated = n_hit_grams > 0)
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    k: Int = 13): DataFrame = {
    require(k >= 1, "gram length must be >= 1")
    // ONE gram builder for the whole pipeline: the decontamination grams are
    // TextAnalysis.wordGrams, the same expression the repetition/LM operators
    // tokenize with — a tokenizer change there changes this in lockstep
    def gramsOf(text: Column): Column = TextAnalysis.wordGrams(text, k)
    val docGrams = docs
      .select(col(idCol).as("id"), explode(gramsOf(col(textCol))).as("g"))
      .distinct()
    val benchGrams = bench
      .select(explode(gramsOf(col(benchTextCol))).as("g")).distinct()
    val hits = docGrams.join(benchGrams, Seq("g"))
      .groupBy("id").agg(count(lit(1)).as("n_hit_grams"))
    docs.select(col(idCol).as("id"),
        greatest(size(TextAnalysis.tokens(col(textCol)))
          - lit(k - 1), lit(0)).cast("long").as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** Corpus-wide exact duplicate-SPAN removal (the substring-dedup stage of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", and the span pass of C4's build): any word k-gram occurring
    * more than once in the whole corpus keeps only its globally-first
    * occurrence — ordered by (id, position) — and every token position
    * covered by a later occurrence is deleted; documents are reassembled
    * from their surviving tokens.
    *
    * Tokens are the standard pipeline tokens (lowercased, non-letter split),
    * so `clean_text` is normalized text, not original bytes. Removal is
    * computed in ONE pass over the original corpus: deletions do not cascade
    * into new adjacencies (single-pass semantics, as in the reference
    * implementations).
    *
    * Scale shape: span → first-occurrence reduction is min(struct(id,pos))
    * per span key — partial-aggregated, so a boilerplate span repeated 10^9
    * times never gathers its occurrences anywhere; later occurrences mark
    * covered positions via one explode + distinct; reassembly is a
    * left-anti join on (id, pos) + per-doc ordered concat. Hot span keys
    * skew only the occurrence⋈first equi-join (two-long payload, AQE
    * skew-split). Per-doc collect for reassembly bounds doc size to executor
    * memory — documents, not the corpus.
    *
    * @return one row per input doc: (id, n_tokens, n_removed, clean_text)
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int = 10): DataFrame = {
    require(k >= 1, "span length must be >= 1")
    // ids pass through untouched (string ids order lexicographically in the
    // first-occurrence reduction; numeric ids numerically) — no cast, so a
    // non-numeric id column can never null out and empty the corpus
    val docs = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))

    // one row per span occurrence: (id, pos of first covered token, gram)
    val nSpans = size(col("toks")) - lit(k - 1)
    val occ = docs
      .where(nSpans >= 1)
      .select(col("id"), explode(
        transform(sequence(lit(1), nSpans),
          i => struct(i.as("pos"), concat_ws(" ", slice(col("toks"), i, lit(k))).as("g"))))
        .as("sp"))
      .select(col("id"), col("sp.pos").as("pos"), col("sp.g").as("g"))
    // globally-first occurrence per span key: a min-reduction, never a window
    val firsts = occ.groupBy("g")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    // token positions covered by any NON-first occurrence
    val removedPos = occ.join(firsts, Seq("g"))
      .where(!(col("id") === col("first.id") && col("pos") === col("first.pos")))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    // reassemble: surviving tokens in order
    val tokenRows = docs.select(col("id"),
      posexplode(col("toks")).as(Seq("pos0", "tok")))
      .select(col("id"), (col("pos0") + lit(1)).as("pos"), col("tok"))
    val surviving = tokenRows.join(removedPos, Seq("id", "pos"), "left_anti")
    val reassembled = surviving.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    docs.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Label every row of `df` with its near-dup component (singletons get
    * their own id) and an `is_canonical` survivor flag, from an edge list
    * produced by any of the pairwise near-dup operators.
    */
  def clusterLabels(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "__cc_id")
    df.select(col(idCol).cast("long").as(idCol))
      .join(labels, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("is_canonical", col(idCol) === col("component"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540): k-means
    * the embedding space into `cells` clusters, compare pairs ONLY within a
    * cluster (the paper's core trick — clustering bounds the otherwise
    * quadratic pairwise search), connect transitive duplicates, and keep the
    * smallest-id document per semantic-duplicate component.
    *
    * Differences from [[embeddingNearDup]]: LSH sign-buckets are
    * data-oblivious random planes with banding to recover recall; SemDeDup's
    * blocking is a DATA-ADAPTED quantizer (the same trained coarse quantizer
    * as [[Similarity.trainIvf]]), which is what the paper runs at LAION/web
    * scale. Pairs crossing a cluster boundary are missed by construction —
    * the paper accepts that (duplicates are near-identical, so they land in
    * the same cell except at cell boundaries).
    *
    * Scale shape: training runs on a deterministic hash-sample
    * (`trainFraction`); assignment is one argmin-kernel projection per row
    * over a broadcast C·dim centroid matrix; the within-cell self-join
    * shuffles on `cell` and is quadratic only in the cell occupancy — pick
    * `cells ≈ n / targetCellSize` so occupancy stays bounded (the paper uses
    * 50k clusters for LAION-440M). The assignment projection is materialized
    * once (lazy localCheckpoint) because it feeds the occupancy agg, both
    * join sides, and the final label join; left unmaterialized, Spark would
    * re-run trainIvf's scan + the argmin per consumer. Component labeling is
    * the O(log² n)-round
    * [[connectedComponents]], never a driver loop.
    *
    * Reference semantic twin: crawl4ai clusters cosine-similar chunks the
    * same keep-one-representative way in its CosineStrategy
    * (`extraction_strategy.py:121-461`); SemDeDup is that semantics lifted
    * to corpus scale with a trained quantizer as the blocker.
    *
    * A collapsed quantizer is the failure mode at scale: if k-means lands
    * most of the corpus in one cell, the within-cell join goes quadratic in
    * THAT cell. `maxCellSize > 0` bounds it: any cell over the limit is
    * sub-blocked by random-hyperplane sign-buckets (⌈log₂(size/limit)⌉
    * planes, per-cell plane family) and pairs are generated within a
    * sub-block only. Identical vectors always share every sign, so
    * exact-duplicate recall is unaffected; near-identical pairs can split
    * across a plane with the same bounded probability as
    * [[embeddingNearDup]]'s banding — the price of the bound, documented
    * here rather than discovered at 3 a.m. over 100 TB.
    *
    * Id convention: `idCol` must be non-null and long-castable (the
    * component labeling runs on long keys). Enforced with an in-plan
    * `raise_error` — a silently-nulled id would corrupt cell assignment and
    * component labels, the hazard spanDedup avoids by leaving ids untouched.
    *
    * @return one row per input doc: (id, cell, component, is_canonical) —
    *         `is_canonical = false` rows are the semantic duplicates to drop
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               cells: Int, minCosine: Double = 0.95, iters: Int = 3,
               trainFraction: Double = 1.0, maxCellSize: Int = 0): DataFrame = {
    require(cells >= 1, "cells must be >= 1")
    val centroids = Similarity.trainIvf(df, idCol, vecCol, cells, iters, trainFraction)
    // untracked kernel broadcast: it must stay live until the lazy checkpoint
    // below first executes (inside the caller's first action), so it is freed
    // by the ContextCleaner with the plan, not destroyed here — the same
    // contract as ivfTopKTrained
    val cellOf = Similarity.nearestCellKernel(df.sparkSession, centroids)
    // the assignment pass (corpus scan + O(cells·dim) argmin per row) is the
    // expensive projection — checkpoint IT, so the occupancy collect below
    // materializes it once and the sub-block key is derived from cached
    // blocks (signBucketFast over the few oversized cells is cheap enough to
    // re-evaluate per consumer; re-running the argmin per consumer is not)
    val idLong = col(idCol).cast("long")
    val assignedRaw = df
      .select(
        when(idLong.isNull, raise_error(concat(
            lit("semDedup requires non-null long-castable ids; got: "),
            coalesce(col(idCol).cast("string"), lit("null")))))
          .otherwise(idLong).as("id"),
        col(vecCol).as("v"))
      .withColumn("cell", cellOf(col("v").cast("array<double>")))
      .localCheckpoint(false)
    val assigned =
      if (maxCellSize > 0) {
        // per-cell plane count from the occupancy (one bounded-size agg over
        // the now-materialized assignment); sub-block key from a per-cell
        // plane family so one giant cell's split does not correlate with
        // another's
        val sizes = assignedRaw.groupBy("cell").agg(count(lit(1)).as("n"))
          .collect().map { r =>
            val n = r.getLong(1)
            val planes =
              if (n <= maxCellSize) 0
              else math.ceil(math.log(n.toDouble / maxCellSize) / math.log(2.0)).toInt
            r.getInt(0) -> planes
          }.toMap
        val subOf = udf((cell: Int, v: Seq[Float]) => {
          val p = sizes.getOrElse(cell, 0)
          if (p == 0) 0L else Similarity.signBucketFast(v, p, planeOffset = cell * 64)
        })
        assignedRaw.withColumn("sub", subOf(col("cell"), col("v")))
      } else assignedRaw.withColumn("sub", lit(0L))
    val a = assigned.select(col("cell"), col("sub"), col("id").as("id_a"), col("v").as("v_a"))
    val b = assigned.select(col("cell"), col("sub"), col("id").as("id_b"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("cell", "sub"))
      .where(col("id_a") < col("id_b"))
      // compiled kernel (bit-identical twin of Similarity.cosine — OpsSpec):
      // within-cell verification evaluates O(cell²) pairs, the hot path
      .withColumn("cosine", Similarity.cosineKernel(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"))
    clusterLabels(assigned.select(col("id")), "id", pairs)
      .join(assigned.select(col("id"), col("cell")), Seq("id"))
      .select(col("id").as(idCol), col("cell"), col("component"), col("is_canonical"))
  }
}
