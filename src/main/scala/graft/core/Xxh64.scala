package graft.core

import java.nio.charset.StandardCharsets

/** XXH64 (public algorithm, https://github.com/Cyan4973/xxHash spec).
  * Matches Spark SQL's `xxhash64(...)` for string inputs when seed = 42
  * (Spark hashes a string column as XXH64 over its UTF-8 bytes, seed 42) —
  * asserted by a unit test against the column function. The reference keys
  * its content store the same way (xxh64, crawl4ai/utils.py:2681-2683).
  *
  * Also the engine's deterministic "randomness": seeded synth generation
  * derives every choice from mix(seed, ordinal) instead of an RNG.
  */
object Xxh64 {
  private final val P1 = 0x9E3779B185EBCA87L
  private final val P2 = 0xC2B2AE3D27D4EB4FL
  private final val P3 = 0x165667B19E3779F9L
  private final val P4 = 0x85EBCA77C2B2AE63L
  private final val P5 = 0x27D4EB2F165667C5L

  def hashString(s: String, seed: Long = 42L): Long =
    hashBytes(s.getBytes(StandardCharsets.UTF_8), seed)

  def hashBytes(data: Array[Byte], seed: Long): Long = {
    val len = data.length
    var hash =
      if (len >= 32) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        var i = 0
        val limit = len - 32
        while (i <= limit) {
          v1 = round(v1, readLong(data, i))
          v2 = round(v2, readLong(data, i + 8))
          v3 = round(v3, readLong(data, i + 16))
          v4 = round(v4, readLong(data, i + 24))
          i += 32
        }
        var h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
          java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
        h = mergeRound(h, v1); h = mergeRound(h, v2)
        h = mergeRound(h, v3); h = mergeRound(h, v4)
        h
      } else seed + P5
    hash += len
    var i = len & ~31
    while (i + 8 <= len) {
      hash ^= round(0L, readLong(data, i))
      hash = java.lang.Long.rotateLeft(hash, 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= len) {
      hash ^= (readInt(data, i) & 0xffffffffL) * P1
      hash = java.lang.Long.rotateLeft(hash, 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      hash ^= (data(i) & 0xffL) * P5
      hash = java.lang.Long.rotateLeft(hash, 11) * P1
      i += 1
    }
    fmix(hash)
  }

  /** Hash a 4-byte int — the path Spark's xxhash64 takes for IntegerType
    * columns (int literals in a hash chain hash differently from longs). */
  def hashInt(v: Int, seed: Long = 42L): Long = {
    var hash = seed + P5 + 4L
    hash ^= (v & 0xffffffffL) * P1
    hash = java.lang.Long.rotateLeft(hash, 23) * P2 + P3
    fmix(hash)
  }

  /** Hash a long (for hash-chaining / deterministic pseudo-randomness). */
  def hashLong(v: Long, seed: Long = 42L): Long = {
    var hash = seed + P5 + 8L
    hash ^= round(0L, v)
    hash = java.lang.Long.rotateLeft(hash, 27) * P1 + P4
    fmix(hash)
  }

  /** Deterministic int in [0, n) from (seed, ordinal). */
  def intBelow(seed: Long, ordinal: Long, n: Int): Int =
    ((hashLong(ordinal, seed) >>> 1) % n).toInt

  private def fmix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= P2
    h ^= h >>> 29; h *= P3
    h ^= h >>> 32
    h
  }

  private def round(acc: Long, input: Long): Long =
    java.lang.Long.rotateLeft(acc + input * P2, 31) * P1

  private def mergeRound(acc0: Long, v: Long): Long = {
    val acc = acc0 ^ round(0L, v)
    acc * P1 + P4
  }

  private def readLong(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) | ((b(i + 7) & 0xffL) << 56)

  private def readInt(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
}
