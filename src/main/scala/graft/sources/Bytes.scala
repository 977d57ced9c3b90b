package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII
import scala.collection.mutable.ArrayBuffer

/** The byte layout every container and codec parser reads and writes
  * through: a bounded view with fixed-width big/little-endian integer reads,
  * the ISO-BMFF box walk and box writer, the TIFF header and IFD entry read,
  * and the byte packers of the encoder twins.
  *
  * A read outside a view throws [[Bytes.Overrun]], so a short structure
  * cannot read its neighbour's bytes. Each parser's entry point already turns
  * an exception into `None`: an overrun fails closed. */
object Bytes {

  /** A read outside a view's bounds. No stack trace: hostile input can raise
    * one per record. */
  final class Overrun(msg: String) extends RuntimeException(msg, null, false, false)

  /** The bytes `[from, to)` of `data`, read at offsets relative to `from`.
    * `le` picks the byte order of `u16`/`u32` (TIFF's "II"); `u64` and
    * `uint` are big-endian. `pos` is a cursor for sequential header reads. */
  final class View private[Bytes] (data: Array[Byte], val from: Int, val to: Int,
                                   le: Boolean) {
    var pos: Int = 0
    def length: Int = to - from

    /** Absolute index of the `n` bytes at `off`, or [[Overrun]]. */
    private def at(off: Int, n: Int): Int =
      if (off < 0 || n < 0 || off > length - n)
        throw new Overrun(s"$n bytes at $off of a $length-byte view")
      else from + off

    def u8(off: Int): Int = data(at(off, 1)) & 0xff
    def u16(off: Int): Int = {
      val i = at(off, 2)
      if (le) (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8)
      else ((data(i) & 0xff) << 8) | (data(i + 1) & 0xff)
    }
    def u32(off: Int): Long = {
      val i = at(off, 4)
      if (le) (data(i) & 0xffL) | ((data(i + 1) & 0xffL) << 8) |
        ((data(i + 2) & 0xffL) << 16) | ((data(i + 3) & 0xffL) << 24)
      else ((data(i) & 0xffL) << 24) | ((data(i + 1) & 0xffL) << 16) |
        ((data(i + 2) & 0xffL) << 8) | (data(i + 3) & 0xffL)
    }
    def u64(off: Int): Long = (u32(off) << 32) | u32(off + 4)
    /** `n` bytes at `off` as one big-endian unsigned value (the high bytes
      * of a field over 8 bytes shift out). */
    def uint(off: Int, n: Int): Long = {
      val i = at(off, n)
      var v = 0L
      var k = 0
      while (k < n) { v = (v << 8) | (data(i + k) & 0xffL); k += 1 }
      v
    }
    def ascii(off: Int, n: Int): String = new String(data, at(off, n), n, US_ASCII)
    def fourcc(off: Int): String = ascii(off, 4)
    def bytes(off: Int, n: Int): Array[Byte] = {
      val i = at(off, n)
      java.util.Arrays.copyOfRange(data, i, i + n)
    }
    def toArray: Array[Byte] = bytes(0, length)
    /** The `n` bytes at `off` as a view of their own, in this byte order. */
    def slice(off: Int, n: Int): View = { val i = at(off, n); new View(data, i, i + n, le) }
    /** The same bytes in another byte order. */
    def order(littleEndian: Boolean): View = new View(data, from, to, littleEndian)

    def readU8(): Int = { val v = u8(pos); pos += 1; v }
    def readU16(): Int = { val v = u16(pos); pos += 2; v }
    def readU32(): Long = { val v = u32(pos); pos += 4; v }
    def readBytes(n: Int): Array[Byte] = { val v = bytes(pos, n); pos += n; v }
    def skip(n: Int): Unit = { at(pos, n); pos += n }
  }

  /** All of `data`, big-endian unless `le`. */
  def view(data: Array[Byte], le: Boolean = false): View =
    new View(data, 0, data.length, le)

  // ---- ISO base media file format boxes (ISO/IEC 14496-12 §4.2) ------------

  /** One box: its type and its payload. */
  final case class Box(typ: String, body: View)

  /** The boxes of `v` in order. Layout: size(4) type(4), then a 64-bit size
    * when size == 1; size 0 runs to the end of `v`. A box shorter than its
    * header, or one running past `v`, ends the walk, so hostile sizes can
    * neither stall nor reverse it. */
  def boxes(v: View): Seq[Box] = {
    val out = new ArrayBuffer[Box]()
    var i = 0
    while (i + 8 <= v.length) {
      val sz = v.u32(i)
      val (hdr, len) =
        if (sz == 1) {
          if (i + 16 > v.length) return out.toSeq
          (16, v.u64(i + 8))
        } else if (sz == 0) (8, (v.length - i).toLong)
        else (8, sz)
      if (len < hdr || i + len > v.length) return out.toSeq
      out += Box(v.fourcc(i + 4), v.slice(i + hdr, len.toInt - hdr))
      i += len.toInt
    }
    out.toSeq
  }

  /** A box with a 32-bit size. */
  def box(typ: String, body: Array[Byte]): Array[Byte] =
    be(4)(8L + body.length) ++ typ.getBytes(US_ASCII) ++ body

  // ---- TIFF (TIFF 6.0 §2) ----------------------------------------------------

  /** A TIFF header's view in its declared byte order ("II" little-endian,
    * "MM" big-endian) when the magic number 42 follows; None otherwise. */
  def tiff(v: View): Option[View] =
    if (v.length < 4) None
    else {
      val order = v.u16(0)
      if (order != 0x4949 && order != 0x4d4d) None
      else Some(v.order(order == 0x4949)).filter(_.u16(2) == 42)
    }

  /** One 12-byte IFD entry: tag, field type, value count, and the offset of
    * its 4-byte value field (the value itself when it fits, else an offset). */
  final case class IfdEntry(tag: Int, typ: Int, count: Long, valueAt: Int)

  /** The entries of the IFD at `at` in `t`: none when `at` lies outside `t`
    * or the entry count is hostile (over 512); the walk stops at the first
    * entry that runs past `t`. */
  def ifd(t: View, at: Long): Seq[IfdEntry] = {
    if (at < 0 || at + 2 > t.length) return Nil
    val n = t.u16(at.toInt)
    if (n > 512) return Nil
    val out = new ArrayBuffer[IfdEntry](n)
    var e = at.toInt + 2
    while (out.length < n && e + 12 <= t.length) {
      out += IfdEntry(t.u16(e), t.u16(e + 2), t.u32(e + 4), e + 8)
      e += 12
    }
    out.toSeq
  }

  // ---- packers ---------------------------------------------------------------

  /** Each value's low `width` bytes, most significant first. */
  def be(width: Int)(vs: Long*): Array[Byte] = {
    val out = new Array[Byte](width * vs.length)
    var j = 0
    for (v <- vs; k <- width - 1 to 0 by -1) { out(j) = (v >>> (8 * k)).toByte; j += 1 }
    out
  }

  /** Each value's low `width` bytes, least significant first. */
  def le(width: Int)(vs: Long*): Array[Byte] = {
    val out = new Array[Byte](width * vs.length)
    var j = 0
    for (v <- vs; k <- 0 until width) { out(j) = (v >>> (8 * k)).toByte; j += 1 }
    out
  }
}
