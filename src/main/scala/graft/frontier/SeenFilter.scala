package graft.frontier

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.io.BufferedInputStream
import java.nio.file.{Files, Path, Paths}

/** One probabilistic membership pre-filter over url-hash keys — the thing the
  * crawl loop consults BEFORE the exact anti-join so definitely-new candidates
  * are never looked up in the seen set. Implementations: [[BloomDelta]]
  * (append-only, smallest) and [[ShardedCuckoo]] (deletable).
  * Correctness never depends on the filter: a false positive only routes a row
  * into the exact anti-join; the no-false-negative contract is what makes the
  * definitely-new fast path sound.
  */
trait SeenDelta extends Serializable {
  def mightContain(key: Long): Boolean
}

/** Bloom-backed delta ([[BloomStore]] builds these via the distributed
  * `DataFrame.stat.bloomFilter` treeAggregate). */
final class BloomDelta(val bloom: BloomFilter) extends SeenDelta {
  override def mightContain(key: Long): Boolean = bloom.mightContainLong(key)
}

/** Filter-vector operations shared by both filter families. The vector holds
  * one delta filter per epoch since the last compaction (bounded by
  * `seenCompactEvery`); a key is maybe-seen if ANY delta might contain it.
  */
object SeenFilters {

  /** Split `candidates` into (definitelyNew, maybeSeen) and return the
    * broadcast handle so the caller can `destroy()` it once the epoch's jobs
    * complete (one filter-vector broadcast per epoch must not live for the
    * crawl's JVM lifetime).
    */
  def splitTracked(spark: SparkSession, candidates: DataFrame, hashCol: String,
                   filters: Seq[SeenDelta])
      : (DataFrame, DataFrame, Broadcast[Array[SeenDelta]]) = {
    val bc = spark.sparkContext.broadcast(filters.toArray)
    val mightContain = udf { (h: Long) =>
      val fs = bc.value; var i = 0; var hit = false
      while (i < fs.length && !hit) { hit = fs(i).mightContain(h); i += 1 }
      hit
    }.asNondeterministic()
    val flagged = candidates.withColumn("__maybe_seen", mightContain(col(hashCol)))
    (flagged.where(!col("__maybe_seen")).drop("__maybe_seen"),
      flagged.where(col("__maybe_seen")).drop("__maybe_seen"),
      bc)
  }

  /** Filter-accelerated anti-join, equivalent to a plain left_anti on
    * `hashCol`, plus the broadcast handle for end-of-epoch destroy.
    *
    * A semi-join reduction: `hits` are the seen rows whose hash is among the
    * maybe-seen keys. The maybe-seen side is the small one, so the planner
    * broadcasts it and `seen` is only scanned and probed map-side; only the
    * hits move into the final anti-join. That holds when the maybe-seen
    * side's size estimate is under the broadcast threshold at planning time;
    * otherwise the semi-join is planned as a shuffle join and the seen rows
    * are exchanged (AQE may still switch it to a broadcast at run time).
    * Definitely-new rows are in no hit (no false negatives), so the
    * anti-join against the hits needs no separate definitely-new branch.
    *
    * Both the maybe-seen broadcast and the anti-join's probe side read the
    * candidates, so their plan is evaluated once ([[Once.now]]): its rows are
    * persisted on first read and both consumers scan those blocks, which are
    * left to Spark's ContextCleaner. Candidates that are already an
    * evaluated frame are read as they are.
    */
  def antiJoinTracked(spark: SparkSession, candidates: DataFrame, seen: DataFrame,
                      hashCol: String, filters: Seq[SeenDelta])
      : (DataFrame, Broadcast[Array[SeenDelta]]) = {
    val once = Once.now(candidates)
    val (_, maybeSeen, bc) = splitTracked(spark, once.frame, hashCol, filters)
    val hits = seen.join(maybeSeen.select(hashCol), Seq(hashCol), "left_semi")
    (once.frame.join(hits, Seq(hashCol), "left_anti"), bc)
  }
}

/** Build, persist and resume policy for the per-epoch seen-delta filters:
  * the `CrawlConfig.seenFilter` seam. The two families differ only in how a
  * filter is built and stored; the protocol ([[over]], [[resume]]) is the
  * same for both, so `Crawl.run` and `Crawl.expireEpoch` never branch on the
  * family.
  *
  * Filter files are DERIVED caches of the seen parquet deltas: each covers
  * its epoch's delta (a compaction's, the full set), and no filter ever
  * loses a key, so the vector has no false negative against the monotone
  * seen ledger. `Crawl.run` commits an epoch's manifest before its filter
  * file lands, and a missing file is rebuilt from the epoch's seen delta.
  * The crawl's key column is `url_hash`.
  */
sealed trait SeenStore {
  /** The filter this family builds, saves and loads. */
  type F <: SeenDelta
  def name: String
  def path(runDir: String, epoch: Int): Path = Paths.get(f"$runDir/${name}_$epoch%04d.bin")
  def build(spark: SparkSession, delta: DataFrame, colName: String,
            expectedItems: Long): F
  def empty(): F
  def save(f: F, p: Path): Unit
  def load(p: Path): F

  /** The filter over the `n` keys of `keys`: the empty filter when there are
    * none (the build's aggregate yields no filter over no rows). */
  def over(spark: SparkSession, keys: DataFrame, n: Long): F =
    if (n == 0) empty() else build(spark, keys, SeenStore.Key, n)

  /** Epoch `epoch`'s filter for a resumed run: its saved file, else one
    * [[over]] the epoch's seen `delta` (also how a run resumed under the
    * other family gets its filters). Only an absent delta means an empty
    * filter: one over a delta that has rows would let its URLs past the
    * exact probe as new, so a delta that cannot be read fails the run
    * instead. A file from which an earlier version's expiry evicted keys
    * (it left a `.evicted_<epoch>_<expired>` marker) is treated as lost. */
  def resume(spark: SparkSession, runDir: String, epoch: Int,
             delta: => Option[DataFrame]): F = {
    val p = path(runDir, epoch)
    if (Files.exists(p) && !SeenStore.evictedFrom(runDir, epoch)) load(p)
    else delta.fold(empty())(d => over(spark, d, d.count()))
  }
}

/** Bloom pre-filter for the URL-seen set (reference's experimental bloom
  * frontier, /root/reference/crawl4ai/deep_crawling/crazy.py:102-165,
  * re-expressed on Spark's sketch library): append-only and smallest.
  *
  * Blooms are INCREMENTAL: each epoch builds a bloom over that epoch's seen
  * DELTA only (never re-aggregating history), and the check consults the
  * vector of per-epoch blooms. Every `seenCompactEvery` epochs the crawl loop
  * compacts the deltas and replaces the vector with one full-set bloom, which
  * bounds both the vector length and the effective false-positive rate
  * (k deltas at fpp each ≈ k·fpp combined — acceptable for a pre-filter whose
  * misses only cost exact-probe volume, never correctness).
  */
final class BloomStore(fpp: Double) extends SeenStore {
  type F = BloomDelta
  override def name = "bloom"
  // a distributed treeAggregate: no driver-side row collection
  override def build(spark: SparkSession, delta: DataFrame, colName: String,
                     expectedItems: Long): BloomDelta =
    new BloomDelta(delta.stat.bloomFilter(colName, math.max(expectedItems, 64L), fpp))
  override def empty(): BloomDelta = new BloomDelta(BloomFilter.create(64L, fpp))
  override def save(f: BloomDelta, p: Path): Unit = AtomicFile.write(p)(f.bloom.writeTo(_))
  override def load(p: Path): BloomDelta = {
    val is = new BufferedInputStream(Files.newInputStream(p))
    try new BloomDelta(BloomFilter.readFrom(is)) finally is.close()
  }
}

/** Sharded cuckoo filters ([[CuckooSeen]]): the deletable structure, kept
  * as the second family. The crawl never deletes from one: a TTL expiry
  * requeues URLs without touching any filter. */
final class CuckooStore extends SeenStore {
  type F = ShardedCuckoo
  override def name = "cuckoo"
  // a shard is bounded (CuckooFilter.create caps at 2^27 want units ≈ 5×10^8
  // keys at 0.95 load); scale the shard count with the delta so a compacted
  // full set at 10^10 keys still builds — each shard's filter is assembled
  // inside one executor task. 2.5×10^8 keys/shard keeps the post-headroom
  // per-shard capacity comfortably inside the create() cap.
  private def shardsFor(expectedItems: Long): Int =
    math.max(32, ((expectedItems + 250000000L - 1) / 250000000L).toInt)
  override def build(spark: SparkSession, delta: DataFrame, colName: String,
                     expectedItems: Long): ShardedCuckoo =
    CuckooSeen.buildSharded(delta, colName, math.max(expectedItems, 64L),
      shardsFor(expectedItems))
  override def empty(): ShardedCuckoo = new ShardedCuckoo(Array(CuckooFilter.create(64)))
  override def save(f: ShardedCuckoo, p: Path): Unit = AtomicFile.write(p)(_.write(f.serialize()))
  override def load(p: Path): ShardedCuckoo = ShardedCuckoo.deserialize(Files.readAllBytes(p))
}

object SeenStore {
  /** False-positive rate of every crawl's bloom filters. One value, so a
    * store [[detect]]ed from a run dir builds the filters the run built. */
  private val BloomFpp = 0.03

  /** The key column of the crawl's seen frames. */
  private[frontier] val Key = "url_hash"

  def forConfig(seenFilter: String): SeenStore =
    seenFilter match {
      case "cuckoo" => new CuckooStore
      case "bloom"  => new BloomStore(BloomFpp)
      case other    => throw new IllegalArgumentException(
        s"unknown seenFilter '$other' (expected bloom|cuckoo)")
    }

  /** Detect which filter family a committed run used (by which derived cache
    * files exist) — lets `Crawl.expireEpoch` stay config-free. */
  def detect(runDir: String, epoch: Int): SeenStore = {
    val cuckoo = new CuckooStore
    if (Files.exists(cuckoo.path(runDir, epoch))) cuckoo else new BloomStore(BloomFpp)
  }

  /** Whether an earlier version's `Crawl.expireEpoch` evicted keys from
    * epoch `epoch`'s filter file: it left a marker
    * `.evicted_<epoch>_<expired>` for each eviction. */
  private def evictedFrom(runDir: String, epoch: Int): Boolean = {
    val marker = f".evicted_$epoch%04d_"
    val it = Files.list(Paths.get(runDir))
    try it.anyMatch(_.getFileName.toString.startsWith(marker)) finally it.close()
  }
}
