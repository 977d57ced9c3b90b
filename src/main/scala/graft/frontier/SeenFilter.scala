package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.nio.file.{Files, Path, Paths}

/** One probabilistic membership pre-filter over url-hash keys — the thing the
  * crawl loop consults BEFORE the exact anti-join so definitely-new candidates
  * are never looked up in the seen set. Implementations: [[BloomDelta]]
  * (append-only, smallest) and [[ShardedCuckoo]] (deletable — supports TTL
  * eviction without rebuild).
  * Correctness never depends on the filter: a false positive only routes a row
  * into the exact anti-join; the no-false-negative contract is what makes the
  * definitely-new fast path sound.
  */
trait SeenDelta extends Serializable {
  def mightContain(key: Long): Boolean
}

/** Bloom-backed delta ([[BloomSeen]] builds these via the distributed
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
      : (DataFrame, DataFrame, org.apache.spark.broadcast.Broadcast[Array[SeenDelta]]) = {
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
    * broadcasts it and `seen` is only scanned and probed map-side — never
    * exchanged; only the hits move into the final anti-join. Definitely-new
    * rows are in no hit (no false negatives), so the anti-join against the
    * hits needs no separate definitely-new branch. A maybe-seen side over the
    * broadcast threshold falls back to a shuffle join.
    */
  def antiJoinTracked(spark: SparkSession, candidates: DataFrame, seen: DataFrame,
                      hashCol: String, filters: Seq[SeenDelta])
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Array[SeenDelta]]) = {
    val (_, maybeSeen, bc) = splitTracked(spark, candidates, hashCol, filters)
    val hits = seen.join(maybeSeen.select(hashCol), Seq(hashCol), "left_semi")
    (candidates.join(hits, Seq(hashCol), "left_anti"), bc)
  }
}

/** Build/persist strategy for per-epoch seen-delta filters — the
  * `CrawlConfig.seenFilter` seam. Filter files are DERIVED caches of the seen
  * parquet deltas (minus any cuckoo evictions): a missing file is rebuilt
  * from its delta; a rebuilt file conservatively loses evictions, which only
  * costs exact-join traffic, never correctness.
  */
sealed trait SeenStore {
  def name: String
  def path(runDir: String, epoch: Int): Path
  def build(spark: SparkSession, delta: DataFrame, colName: String,
            expectedItems: Long): SeenDelta
  def empty(): SeenDelta
  def save(f: SeenDelta, p: Path): Unit
  def load(p: Path): SeenDelta
}

final class BloomStore(fpp: Double) extends SeenStore {
  override def name = "bloom"
  override def path(runDir: String, epoch: Int): Path =
    Paths.get(f"$runDir/bloom_$epoch%04d.bin")
  override def build(spark: SparkSession, delta: DataFrame, colName: String,
                     expectedItems: Long): SeenDelta =
    new BloomDelta(BloomSeen.build(delta, colName, expectedItems, fpp))
  override def empty(): SeenDelta = new BloomDelta(BloomSeen.empty(fpp))
  override def save(f: SeenDelta, p: Path): Unit =
    BloomSeen.save(f.asInstanceOf[BloomDelta].bloom, p)
  override def load(p: Path): SeenDelta = new BloomDelta(BloomSeen.load(p))
}

final class CuckooStore(shards: Int = 32) extends SeenStore {
  override def name = "cuckoo"
  override def path(runDir: String, epoch: Int): Path =
    Paths.get(f"$runDir/cuckoo_$epoch%04d.bin")
  // a shard is bounded (CuckooFilter.create caps at 2^27 want units ≈ 5×10^8
  // keys at 0.95 load); scale the shard count with the delta so a compacted
  // full set at 10^10 keys still builds — each shard's filter is assembled
  // inside one executor task. 2.5×10^8 keys/shard keeps the post-headroom
  // per-shard capacity comfortably inside the create() cap.
  private def shardsFor(expectedItems: Long): Int =
    math.max(shards, ((expectedItems + 250000000L - 1) / 250000000L).toInt)
  override def build(spark: SparkSession, delta: DataFrame, colName: String,
                     expectedItems: Long): SeenDelta =
    CuckooSeen.buildSharded(delta, colName, math.max(expectedItems, 64L),
      shardsFor(expectedItems))
  override def empty(): SeenDelta =
    new ShardedCuckoo(Array(CuckooFilter.create(64)))
  override def save(f: SeenDelta, p: Path): Unit =
    CuckooSeen.saveSharded(f.asInstanceOf[ShardedCuckoo], p)
  override def load(p: Path): SeenDelta = CuckooSeen.loadSharded(p)
}

object SeenStore {
  def forConfig(seenFilter: String, fpp: Double, shards: Int = 32): SeenStore =
    seenFilter match {
      case "cuckoo" => new CuckooStore(shards)
      case "bloom"  => new BloomStore(fpp)
      case other    => throw new IllegalArgumentException(
        s"unknown seenFilter '$other' (expected bloom|cuckoo)")
    }

  /** Detect which filter family a committed run used (by which derived cache
    * files exist) — lets `Crawl.expireEpoch` stay config-free. */
  def detect(runDir: String, epoch: Int): SeenStore = {
    val cuckoo = new CuckooStore()
    if (Files.exists(cuckoo.path(runDir, epoch))) cuckoo else new BloomStore(0.03)
  }
}
