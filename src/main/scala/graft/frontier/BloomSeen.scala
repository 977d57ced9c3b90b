package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.nio.file.{Files, Path}

/** Bloom pre-filter for the URL-seen set (reference's experimental bloom
  * frontier, /root/reference/crawl4ai/deep_crawling/crazy.py:102-165,
  * re-expressed on Spark's sketch library).
  *
  * Exact dedup stays equal to a `left_anti` join on `url_hash`; the bloom
  * filter's job is to shrink the set of keys the exact probe looks up: at
  * 10^10-URL scale most discovered links are new, so only the (small)
  * maybe-seen fraction plus false positives (~fpp) is probed. That slice is
  * broadcast into a semi-join over the seen files when its size estimate is
  * under the broadcast threshold, and then the seen set is scanned map-side
  * and not exchanged; only its hits move (see [[SeenFilters.probe]], which
  * also says when the estimate misses).
  *
  * Blooms are INCREMENTAL: each epoch builds a bloom over that epoch's seen
  * DELTA only (never re-aggregating history), and the check consults the
  * vector of per-epoch blooms. Every `seenCompactEvery` epochs the crawl loop
  * compacts the deltas and replaces the vector with one full-set bloom, which
  * bounds both the vector length and the effective false-positive rate
  * (k deltas at fpp each ≈ k·fpp combined — acceptable for a pre-filter whose
  * misses only cost exact-probe volume, never correctness).
  */
object BloomSeen {

  /** Build a bloom over a LongType column (distributed treeAggregate —
    * `DataFrame.stat.bloomFilter` — no driver-side row collection).
    */
  def build(df: DataFrame, colName: String, expectedItems: Long,
            fpp: Double = 0.03): BloomFilter =
    df.stat.bloomFilter(colName, math.max(expectedItems, 64L), fpp)

  /** An empty bloom (used for epochs whose seen delta has no rows). */
  def empty(fpp: Double = 0.03): BloomFilter = BloomFilter.create(64L, fpp)

  def save(bloom: BloomFilter, path: Path): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName.toString + ".tmp")
    val os = Files.newOutputStream(tmp)
    try bloom.writeTo(os) finally os.close()
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def load(path: Path): BloomFilter = {
    val is = Files.newInputStream(path)
    try BloomFilter.readFrom(is) finally is.close()
  }
}
