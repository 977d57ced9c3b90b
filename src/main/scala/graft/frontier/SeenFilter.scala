package graft.frontier

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
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
    * `hashCol`, plus the broadcast handle for end-of-epoch destroy. The
    * materialized candidate rows are left to Spark's ContextCleaner; a caller
    * that can release them sooner uses [[probe]].
    */
  def antiJoinTracked(spark: SparkSession, candidates: DataFrame, seen: DataFrame,
                      hashCol: String, filters: Seq[SeenDelta])
      : (DataFrame, Broadcast[Array[SeenDelta]]) = {
    val p = probe(spark, candidates, seen, hashCol, filters)
    (p.fresh, p.filterBc)
  }

  /** The probe behind [[antiJoinTracked]], with a handle that releases what
    * it holds.
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
    * candidates, so their plan is evaluated once per probe: its rows are
    * persisted on first read and both consumers scan those blocks.
    */
  def probe(spark: SparkSession, candidates: DataFrame, seen: DataFrame,
            hashCol: String, filters: Seq[SeenDelta]): SeenProbe = {
    val (once, rows) = evaluatedOnce(candidates)
    val (_, maybeSeen, bc) = splitTracked(spark, once, hashCol, filters)
    val hits = seen.join(maybeSeen.select(hashCol), Seq(hashCol), "left_semi")
    SeenProbe(once.join(hits, Seq(hashCol), "left_anti"), bc, rows)
  }

  /** `df` evaluated once, and the persisted rows if that took any. A plan
    * that optimizes to a local relation was already evaluated on the driver
    * and is reused as it is. Any other plan is computed on its first read and
    * persisted as [[RowPages]] (memory, spilling to disk); every later read
    * scans the pages. The lineage stays, so a lost block is recomputed from
    * `df`'s plan. The frame carries `df`'s size estimate, read after
    * `toRdd`: under AQE that call has already materialized `df`'s cached and
    * shuffled inputs, so the estimate sees their real sizes (in `Crawl.run`,
    * the scraped cache's). A `Dataset.persist` would pin the rows in the
    * CacheManager until an explicit unpersist; these blocks also go once the
    * frame is unreachable.
    */
  private def evaluatedOnce(df: DataFrame): (DataFrame, Option[RDD[Array[Byte]]]) = {
    val qe = df.queryExecution
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    def over(plan: LogicalPlan) = new classic.Dataset[Row](session, plan, Encoders.row(df.schema))
    qe.optimizedPlan match {
      case local: LocalRelation => (over(local), None)
      case opt =>
        val schema = df.schema
        val pages = qe.toRdd.mapPartitions(RowPages.pack(schema))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val rows = pages.mapPartitions(RowPages.unpack(schema.length))
        val est = Statistics(opt.stats.sizeInBytes, opt.stats.rowCount)
        (over(LogicalRDD(opt.output, rows)(session, Some(est))), Some(pages))
    }
  }
}

/** A partition's rows as `UnsafeRow` bytes in a few large byte-array pages,
  * each row an 8-byte length and its bytes. The block manager then stores
  * one object per page instead of one per row: persisting deserialized rows
  * costs about as much CPU as recomputing a canonicalize + hash plan, and
  * pages cost a copy.
  */
private object RowPages {
  private val PageBytes = 32 << 20

  def pack(schema: StructType)(rows: Iterator[InternalRow]): Iterator[Array[Byte]] = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    new Iterator[Array[Byte]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Array[Byte] = {
        var page = new Array[Byte](1 << 16)
        var used = 0
        while (rows.hasNext && used < PageBytes) {
          val row = rows.next() match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          val n = row.getSizeInBytes
          if (used + 8 + n > page.length)
            page = java.util.Arrays.copyOf(page, math.max(2 * page.length, used + 8 + n))
          Platform.putLong(page, Platform.BYTE_ARRAY_OFFSET + used, n)
          row.writeToMemory(page, Platform.BYTE_ARRAY_OFFSET + used + 8)
          used += 8 + n
        }
        java.util.Arrays.copyOf(page, used)
      }
    }
  }

  /** The rows of `pages`; the returned row is reused from one call of
    * `next` to the next, as Spark's own scans do. */
  def unpack(numFields: Int)(pages: Iterator[Array[Byte]]): Iterator[InternalRow] =
    pages.flatMap { page =>
      val row = new UnsafeRow(numFields)
      var off = 0
      new Iterator[InternalRow] {
        def hasNext: Boolean = off < page.length
        def next(): InternalRow = {
          val n = Platform.getLong(page, Platform.BYTE_ARRAY_OFFSET + off).toInt
          row.pointTo(page, Platform.BYTE_ARRAY_OFFSET + off + 8, n)
          off += 8 + n
          row
        }
      }
    }
}

/** One seen probe: the candidates not in the seen set, the filter-vector
  * broadcast, and the candidate rows persisted for it. */
final case class SeenProbe(fresh: DataFrame, filterBc: Broadcast[Array[SeenDelta]],
                           candidateRows: Option[RDD[Array[Byte]]]) {
  /** Destroy the broadcast and drop the persisted rows; call once every job
    * that reads `fresh` has finished. */
  def release(): Unit = {
    filterBc.destroy()
    candidateRows.foreach(_.unpersist(blocking = false))
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
  /** False-positive rate of every crawl's bloom filters. One value, so a
    * store [[detect]]ed from a run dir builds the filters the run built. */
  private val BloomFpp = 0.03

  def forConfig(seenFilter: String, shards: Int = 32): SeenStore =
    seenFilter match {
      case "cuckoo" => new CuckooStore(shards)
      case "bloom"  => new BloomStore(BloomFpp)
      case other    => throw new IllegalArgumentException(
        s"unknown seenFilter '$other' (expected bloom|cuckoo)")
    }

  /** Detect which filter family a committed run used (by which derived cache
    * files exist) — lets `Crawl.expireEpoch` stay config-free. */
  def detect(runDir: String, epoch: Int): SeenStore = {
    val cuckoo = new CuckooStore()
    if (Files.exists(cuckoo.path(runDir, epoch))) cuckoo else new BloomStore(BloomFpp)
  }
}
