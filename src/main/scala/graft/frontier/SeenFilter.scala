package graft.frontier

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.io.BufferedInputStream
import scala.annotation.unused
import java.nio.file.{Files, Path, Paths}

/** One probabilistic membership pre-filter over url-hash keys — the thing the
  * crawl loop consults BEFORE the exact anti-join so definitely-new candidates
  * are never looked up in the seen set. The crawl's is [[BloomDelta]].
  * Correctness never depends on the filter: a false positive only routes a row
  * into the exact anti-join; the no-false-negative contract is what makes the
  * definitely-new fast path sound. The probe's filter vector and the
  * benchmark's seen kernels (`perfbench/`) are typed by this trait.
  */
trait SeenDelta extends Serializable {
  def mightContain(key: Long): Boolean
}

/** Bloom-backed delta ([[BloomStore]] builds these via the distributed
  * `DataFrame.stat.bloomFilter` treeAggregate). */
final class BloomDelta(val bloom: BloomFilter) extends SeenDelta {
  override def mightContain(key: Long): Boolean = bloom.mightContainLong(key)
}

/** Filter-vector operations. The vector holds one delta filter per epoch
  * since the last compaction (bounded by `seenCompactEvery`); a key is
  * maybe-seen if ANY delta might contain it.
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

/** Bloom pre-filter for the URL-seen set (reference's experimental bloom
  * frontier, /root/reference/crawl4ai/deep_crawling/crazy.py:102-165,
  * re-expressed on Spark's sketch library): how the per-epoch seen-delta
  * filters are built, persisted and resumed.
  *
  * Blooms are INCREMENTAL: each epoch builds a bloom over that epoch's seen
  * DELTA only (never re-aggregating history), and the check consults the
  * vector of per-epoch blooms. Every `seenCompactEvery` epochs the crawl loop
  * compacts the deltas and replaces the vector with one full-set bloom, which
  * bounds both the vector length and the effective false-positive rate
  * (k deltas at fpp each ≈ k·fpp combined — acceptable for a pre-filter whose
  * misses only cost exact-probe volume, never correctness).
  *
  * Filter files are DERIVED caches of the seen parquet deltas: each covers
  * its epoch's delta (a compaction's, the full set), and no filter ever
  * loses a key, so the vector has no false negative against the monotone
  * seen ledger. `Crawl.run` commits an epoch's manifest before its filter
  * file lands, and a missing file is rebuilt from the epoch's seen delta.
  * The crawl's key column is `url_hash`.
  */
final class BloomStore(fpp: Double) {
  def path(runDir: String, epoch: Int): Path = Paths.get(f"$runDir/bloom_$epoch%04d.bin")

  // a distributed treeAggregate: no driver-side row collection. It runs in
  // `delta`'s session; `spark` stays in the signature the benchmark's
  // sources (`perfbench/`) compile against
  def build(@unused spark: SparkSession, delta: DataFrame, colName: String,
            expectedItems: Long): BloomDelta =
    new BloomDelta(delta.stat.bloomFilter(colName, math.max(expectedItems, 64L), fpp))

  def empty(): BloomDelta = new BloomDelta(BloomFilter.create(64L, fpp))

  def save(f: BloomDelta, p: Path): Unit = AtomicFile.write(p)(f.bloom.writeTo(_))

  def load(p: Path): BloomDelta = {
    val is = new BufferedInputStream(Files.newInputStream(p))
    try new BloomDelta(BloomFilter.readFrom(is)) finally is.close()
  }

  /** The filter over the `n` keys of `keys`: the empty filter when there are
    * none (the build's aggregate yields no filter over no rows). */
  def over(spark: SparkSession, keys: DataFrame, n: Long): BloomDelta =
    if (n == 0) empty() else build(spark, keys, BloomStore.Key, n)

  /** Epoch `epoch`'s filter for a resumed run: its saved file, else one
    * [[over]] the epoch's seen `delta`. Only an absent delta means an empty
    * filter: one over a delta that has rows would let its URLs past the
    * exact probe as new, so a delta that cannot be read fails the run
    * instead. A run dir written by an earlier version under the cuckoo
    * family holds `cuckoo_<epoch>.bin` files (and perhaps `.evicted_*`
    * markers) and no bloom file, so each of its filters is rebuilt here. */
  def resume(spark: SparkSession, runDir: String, epoch: Int,
             delta: => Option[DataFrame]): BloomDelta = {
    val p = path(runDir, epoch)
    if (Files.exists(p)) load(p)
    else delta.fold(empty())(d => over(spark, d, d.count()))
  }
}

object BloomStore {
  /** The key column of the crawl's seen frames. */
  private[frontier] val Key = "url_hash"

  /** The store of every crawl's filters: one false-positive rate, so a
    * resumed or expired run builds the filters the run built. */
  private[frontier] val crawl = new BloomStore(0.03)
}
