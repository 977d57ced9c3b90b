package graft.frontier

import graft.core.Xxh64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cuckoo filter for the URL-seen set — the DELETABLE alternative to the
  * bloom of [[BloomStore]] (the north-star names "bloom/cuckoo-filter
  * URL-seen").
  *
  * Standard partial-key cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher,
  * "Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014 — public
  * algorithm): buckets of 4 × 16-bit fingerprints, candidate buckets
  * i1 = h(x) mod m and i2 = i1 XOR (h(fp) mod m) (self-inverse, so either
  * bucket derives the other), bounded evict-and-kick insertion.
  *
  *  - no false negatives for present keys; FP rate ≈ 2·4/2^16 ≈ 1.2e-4
  *  - `delete` removes one copy of a fingerprint (only a key known to be
  *    present may be deleted: an absent one can strip a colliding live
  *    fingerprint)
  *  - the epoch protocol is the bloom's ([[SeenStore]]): one filter per seen
  *    DELTA, vector consulted at candidate time, compaction merges. The
  *    crawl never deletes: a TTL expiry leaves every filter as it is.
  *
  * Capacity: `m` buckets × 4 slots; sized for ~0.95 load factor. At 10^10
  * URLs the filter is partitioned exactly like the seen deltas themselves
  * (one per epoch delta, bounded by compaction) — a single monolithic filter
  * is never built.
  */
final class CuckooFilter private (val numBuckets: Int,
                                  private val table: Array[Short],
                                  private val stash: scala.collection.mutable.ArrayBuffer[(Int, Short)] =
                                    scala.collection.mutable.ArrayBuffer.empty) extends Serializable {
  import CuckooFilter._

  private[frontier] def slots: Array[Short] = table

  /** Count of occupied slots (fingerprint 0 = empty) + stashed orphans. */
  def size: Int = { var c = 0; var i = 0; while (i < table.length) { if (table(i) != 0) c += 1; i += 1 }; c + stash.size }

  // numBuckets is a power of two: i2 = i1 XOR (h(fp) & mask) is then
  // self-inverse, so either bucket derives the other — the property the
  // kick loop's relocation depends on (a plain modulo breaks it and
  // manufactures false negatives after evictions).
  private val mask = numBuckets - 1

  private def bucketIndex(h: Long): Int = (h & mask).toInt

  private def altIndex(i: Int, fp: Short): Int =
    i ^ (Xxh64.hashInt(fp & 0xffff, AltSeed) & mask).toInt

  private def tryInsertAt(i: Int, fp: Short): Boolean = {
    val base = i * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(base + s) == 0) { table(base + s) = fp; return true }
      s += 1
    }
    false
  }

  private def bucketContains(i: Int, fp: Short): Boolean = {
    val base = i * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(base + s) == fp) return true
      s += 1
    }
    false
  }

  /** Insert a key; false when the filter is at capacity (kick budget spent). */
  def insert(key: Long): Boolean = {
    val fp = fingerprint(key)
    val i1 = bucketIndex(Xxh64.hashLong(key, IndexSeed))
    val i2 = altIndex(i1, fp)
    if (tryInsertAt(i1, fp) || tryInsertAt(i2, fp)) return true
    // evict loop: kick a random-ish (deterministic) resident fingerprint
    var i = if ((Xxh64.hashLong(key, KickSeed) & 1L) == 0L) i1 else i2
    var f = fp
    var kicks = 0
    while (kicks < MaxKicks) {
      val slot = (Xxh64.hashLong(key + kicks, KickSeed) & 0x7fffffffL).toInt % SlotsPerBucket
      val base = i * SlotsPerBucket
      val displaced = table(base + slot)
      table(base + slot) = f
      f = displaced
      i = altIndex(i, f)
      if (tryInsertAt(i, f)) return true
      kicks += 1
    }
    // kick budget spent: the last displaced fingerprint would otherwise be
    // ORPHANED — a silent false negative for a previously-inserted key,
    // breaking the no-false-negative contract antiJoin's definitely-new fast
    // path depends on. Park it in a bounded stash instead (consulted by
    // contains/delete); only a full stash reports failure.
    if (stash.size < StashCap) { stash += ((i, f)); true } else false
  }

  def contains(key: Long): Boolean = {
    val fp = fingerprint(key)
    val i1 = bucketIndex(Xxh64.hashLong(key, IndexSeed))
    if (bucketContains(i1, fp)) return true
    val i2 = altIndex(i1, fp)
    if (bucketContains(i2, fp)) return true
    // a stashed orphan's bucket pair is {b, alt(b, fp)} == {i1, i2} iff b hits
    stash.exists { case (b, f) => f == fp && (b == i1 || b == i2) }
  }

  /** Remove one copy of the key's fingerprint; false if absent. */
  def delete(key: Long): Boolean = {
    val fp = fingerprint(key)
    val i1 = bucketIndex(Xxh64.hashLong(key, IndexSeed))
    val i2 = altIndex(i1, fp)
    for (i <- Seq(i1, i2)) {
      val base = i * SlotsPerBucket
      var s = 0
      while (s < SlotsPerBucket) {
        if (table(base + s) == fp) { table(base + s) = 0; return true }
        s += 1
      }
    }
    val si = stash.indexWhere { case (b, f) => f == fp && (b == i1 || b == i2) }
    if (si >= 0) { stash.remove(si); true } else false
  }

  def serialize(): Array[Byte] = {
    val size = 8L + table.length.toLong * 2 + stash.size.toLong * 6
    require(size <= Int.MaxValue,
      s"cuckoo filter too large to serialize (${table.length} slots); shard it")
    val bb = java.nio.ByteBuffer.allocate(size.toInt)
    bb.putInt(numBuckets)
    table.foreach(bb.putShort)
    bb.putInt(stash.size)
    stash.foreach { case (b, f) => bb.putInt(b); bb.putShort(f) }
    bb.array()
  }
}

object CuckooFilter {
  final val SlotsPerBucket = 4
  final val MaxKicks = 500
  final val StashCap = 32
  private final val IndexSeed = 0x51ab1e5eedL
  private final val AltSeed = 0xa17e4a7eL
  private final val KickSeed = 0x6b1c6b1cL

  /** Nonzero 16-bit fingerprint of a key. */
  def fingerprint(key: Long): Short = {
    val h = (Xxh64.hashLong(key, 42L) & 0xffffL).toShort
    if (h == 0) 1.toShort else h
  }

  /** Sized for `expectedItems` at ≤ ~0.95 load, rounded up to a power of two
    * (required by the self-inverse alternate-bucket derivation). The bound is
    * 2^27 buckets-worth: that keeps BOTH the table array (2^27 × 4 shorts)
    * and its serialized form (× 2 bytes, `serialize()`) inside Int range —
    * one step higher and the serialized byte length overflows. */
  def create(expectedItems: Long): CuckooFilter = {
    val want = math.max(8L, math.ceil(expectedItems / (SlotsPerBucket * 0.95)).toLong)
    require(want <= (1L << 27),
      s"single cuckoo partition too large ($expectedItems items); shard it")
    val buckets = java.lang.Long.highestOneBit(want * 2 - 1).toInt
    new CuckooFilter(buckets, new Array[Short](buckets * SlotsPerBucket))
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buckets = bb.getInt
    val table = new Array[Short](buckets * SlotsPerBucket)
    var i = 0
    while (i < table.length) { table(i) = bb.getShort; i += 1 }
    val stash = scala.collection.mutable.ArrayBuffer.empty[(Int, Short)]
    if (bb.remaining() >= 4) {
      val n = bb.getInt
      (0 until n).foreach(_ => stash += ((bb.getInt, bb.getShort)))
    }
    new CuckooFilter(buckets, table, stash)
  }
}

/** Hash-sharded cuckoo filter: shard s owns keys with floorMod(key, n) == s.
  * The 10^10-scale form — each shard is bounded, built executor-side, and a
  * lookup touches exactly one shard, and so does a delete.
  */
final class ShardedCuckoo(val shardArr: Array[CuckooFilter]) extends SeenDelta {
  private def shardOf(key: Long): Int = ShardedCuckoo.shardOf(key, shardArr.length)
  def contains(key: Long): Boolean = shardArr(shardOf(key)).contains(key)
  def delete(key: Long): Boolean = shardArr(shardOf(key)).delete(key)
  def size: Int = shardArr.map(_.size).sum
  override def mightContain(key: Long): Boolean = contains(key)

  def serialize(): Array[Byte] = {
    val parts = shardArr.map(_.serialize())
    val bb = java.nio.ByteBuffer.allocate(4 + parts.map(_.length + 4).sum)
    bb.putInt(parts.length)
    parts.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }
}

object ShardedCuckoo {
  /** The ONE shard-assignment rule (floorMod of the key) — build, lookup
    * and delete must agree on it, so they all call here. */
  private[frontier] def shardOf(key: Long, n: Int): Int =
    ((key % n).toInt + n) % n

  def deserialize(bytes: Array[Byte]): ShardedCuckoo = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = (0 until n).map { _ =>
      val len = bb.getInt
      val p = new Array[Byte](len)
      bb.get(p)
      CuckooFilter.deserialize(p)
    }.toArray
    new ShardedCuckoo(arr)
  }
}

/** The sharded cuckoo build behind [[CuckooStore]]: executor-side over the
  * hash-sharded form, so only compact serialized filters ever cross the
  * driver boundary, never row data.
  */
object CuckooSeen {

  /** Distributed build: the delta is hash-sharded, each shard's filter is
    * built inside ONE executor task (`mapGroups` over the shard key), and
    * only the compact filters come back to the driver — no row collect at
    * any scale. A key's shard is `floorMod(key, shards)`; lookups consult
    * exactly one shard ([[ShardedCuckoo.contains]]), so the probe cost does
    * not grow with shard count.
    */
  def buildSharded(df: DataFrame, colName: String, expectedItems: Long,
                   shards: Int = 32): ShardedCuckoo = {
    val spark = df.sparkSession
    import spark.implicits._
    val perShard = math.max(64L, expectedItems / shards + expectedItems / (4 * shards))
    val built = df.select(col(colName).cast("long")).distinct().as[Long]
      .groupByKey(h => ShardedCuckoo.shardOf(h, shards))
      .mapGroups { (shard, keys) =>
        val cf = CuckooFilter.create(perShard)
        var overflow = 0L
        keys.foreach { k => if (!cf.insert(k)) overflow += 1 }
        (shard, cf.serialize(), overflow)
      }
      .collect()
    require(built.forall(_._3 == 0L),
      s"cuckoo shard overflow — raise shards or expectedItems ($expectedItems/$shards)")
    val arr = new Array[CuckooFilter](shards)
    built.foreach { case (s, bytes, _) => arr(s) = CuckooFilter.deserialize(bytes) }
    // empty shards (no keys hashed there) get minimal filters
    (0 until shards).foreach(s => if (arr(s) == null) arr(s) = CuckooFilter.create(64))
    new ShardedCuckoo(arr)
  }
}
