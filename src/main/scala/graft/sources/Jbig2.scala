package graft.sources

import scala.collection.mutable.ArrayBuffer
import Bytes.be

/** JBIG2 (ITU-T T.88) — the bi-level image codec PDF embeds behind
  * /JBIG2Decode (ISO 32000 §7.4.7), which the reference consumes through
  * its PDF processor's image extraction (processors/pdf/processor.py:57-430
  * hands rasterised pages to PIL; scanned-text PDFs are overwhelmingly
  * CCITT/JBIG2 inside). Everything here is the published algorithm set:
  *
  *  - the MQ arithmetic coder (T.88 Annex E): the 47-state probability
  *    estimation table and the software-conventions DECODE/BYTEIN and
  *    ENCODE/BYTEOUT/FLUSH procedures (the encoder exists so the test
  *    corpus can be generated forward, exactly like [[PdfCrypt]]'s
  *    encryptor — round-trip equality is the testable property);
  *  - generic region decoding (T.88 §6.2.5.7) for GBTEMPLATE 0 — the
  *    16-bit context template with its four movable AT pixels — including
  *    TPGDON typical-prediction row copying (context 0x9B25);
  *  - the EMBEDDED segment stream organisation PDF uses (T.88 Annex;
  *    no file header): segment headers with short/long referred-segment
  *    forms, page information segments, and immediate (lossless) generic
  *    region segments.
  *
  * MMR-coded generic regions (T.6 coding, MMR=1) decode through [[Ccitt]]
  * (T.88 §6.2.6 defers to the T.4/T.6 run-length decoder). All four
  * generic-region context templates (GBTEMPLATE 0-3, §6.2.5.3) decode and
  * encode; scanned-text streams decode through symbol dictionary segments
  * (§6.5, arithmetic non-refinement) and text region segments (§6.4) built
  * on the Annex A arithmetic integer decoder; halftone streams decode
  * through pattern dictionary (§6.7) and halftone region (§6.6) segments
  * with Annex C.5 gray-coded bitplanes and skew-capable grids — all
  * composed onto the page bitmap per the segment combination operators.
  * Out of scope (returns None; the caller labels the image unsupported):
  * Huffman-coded symbol data, refinement/aggregate coding, and the
  * halftone skip-bitmap form — a stream that uses them falls back rather
  * than guessing.
  */
object Jbig2 {

  // ---- MQ probability estimation table (T.88 Table E.1) ---------------------
  // columns: Qe, NMPS, NLPS, SWITCH
  private val Qe = Array(
    0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221, 0x5601, 0x5401,
    0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601, 0x5601, 0x5401,
    0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801, 0x2401, 0x2201,
    0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101, 0x0AC1, 0x09C1,
    0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141, 0x0111, 0x0085,
    0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001, 0x5601)
  private val Nmps = Array(
    1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29, 15, 16, 17, 18, 19, 20,
    21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 36, 37, 38,
    39, 40, 41, 42, 43, 44, 45, 45, 46)
  private val Nlps = Array(
    1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20, 21, 14, 14, 15, 16, 17,
    18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 36, 37, 38, 39, 40, 41, 42, 43, 46)
  private val Switch = Array(
    1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Adaptive context state: index into the estimation table + current MPS
    * sense, one per context value. */
  final class Contexts(n: Int) {
    val idx = new Array[Byte](n)
    val mps = new Array[Byte](n)
  }

  // ---- MQ decoder (T.88 E.3.2-E.3.5, software conventions) -------------------

  final class MqDecoder(data: Array[Byte]) {
    private var bp = 0
    private var c: Long = 0L
    private var a: Int = 0
    private var ct: Int = 0

    // INITDEC
    c = (byteAt(0).toLong << 16)
    bytein()
    c = (c << 7) & 0xFFFFFFFFL
    ct -= 7
    a = 0x8000

    private def byteAt(i: Int): Int =
      if (i < data.length) data(i) & 0xff else 0xff // past the end: marker bytes

    private def bytein(): Unit = {
      if (byteAt(bp) == 0xff) {
        if (byteAt(bp + 1) > 0x8f) { c += 0xff00L; ct = 8 }
        else { bp += 1; c += byteAt(bp).toLong << 9; ct = 7 }
      } else { bp += 1; c += byteAt(bp).toLong << 8; ct = 8 }
    }

    /** DECODE one bit under context `cx` of `ctx`. */
    def decode(ctx: Contexts, cx: Int): Int = {
      val i = ctx.idx(cx) & 0xff
      val qe = Qe(i)
      var d = 0
      a -= qe
      if (((c >>> 16) & 0xffff) < qe) {
        // LPS subinterval selected (before conditional exchange)
        if (a < qe) { d = ctx.mps(cx); ctx.idx(cx) = Nmps(i).toByte }
        else {
          d = 1 - ctx.mps(cx)
          if (Switch(i) == 1) ctx.mps(cx) = (1 - ctx.mps(cx)).toByte
          ctx.idx(cx) = Nlps(i).toByte
        }
        a = qe
        renorm()
      } else {
        c -= qe.toLong << 16
        if ((a & 0x8000) == 0) {
          if (a < qe) {
            d = 1 - ctx.mps(cx)
            if (Switch(i) == 1) ctx.mps(cx) = (1 - ctx.mps(cx)).toByte
            ctx.idx(cx) = Nlps(i).toByte
          } else { d = ctx.mps(cx); ctx.idx(cx) = Nmps(i).toByte }
          renorm()
        } else d = ctx.mps(cx)
      }
      d
    }

    private def renorm(): Unit = {
      while ({
        if (ct == 0) bytein()
        a <<= 1
        c = (c << 1) & 0xFFFFFFFFL
        ct -= 1
        (a & 0x8000) == 0
      }) ()
    }
  }

  // ---- MQ encoder (T.88 E.3.6-E.3.9) — forward direction for the test corpus

  final class MqEncoder {
    private var a: Int = 0x8000
    private var c: Long = 0L
    private var ct: Int = 12
    private var b: Int = 0 // pending byte; virtual until first push
    private var started = false
    private val out = new ArrayBuffer[Byte]()

    private def push(): Unit = {
      // the initial pending byte is a carry guard outside the codestream:
      // dropped when it stayed 0, emitted when a carry made it real
      if (started || b != 0) out += b.toByte
      started = true
    }

    private def byteout(): Unit = {
      if (b == 0xff) { push(); b = (c >>> 20).toInt; c &= 0xFFFFFL; ct = 7 }
      else if (c < 0x8000000L) { push(); b = (c >>> 19).toInt; c &= 0x7FFFFL; ct = 8 }
      else {
        // carry: fold bit 27 into the pending byte, then CLEAR it before
        // extracting the next byte — leaving it set would leak the carry
        // into b a second time (visible only near flush on short streams)
        b += 1
        c &= 0x7FFFFFFL
        if (b == 0xff) { push(); b = (c >>> 20).toInt; c &= 0xFFFFFL; ct = 7 }
        else { push(); b = (c >>> 19).toInt; c &= 0x7FFFFL; ct = 8 }
      }
    }

    private def renorm(): Unit = {
      while ({
        if (ct == 0) byteout()
        a <<= 1
        c = (c << 1) & 0xFFFFFFFFL
        ct -= 1
        (a & 0x8000) == 0
      }) ()
    }

    /** ENCODE one bit under context `cx` of `ctx`. */
    def encode(ctx: Contexts, cx: Int, bit: Int): Unit = {
      val i = ctx.idx(cx) & 0xff
      val qe = Qe(i)
      if (bit == ctx.mps(cx)) { // CODEMPS
        a -= qe
        if ((a & 0x8000) == 0) {
          if (a < qe) a = qe else c += qe
          ctx.idx(cx) = Nmps(i).toByte
          renorm()
        } else c += qe
      } else { // CODELPS
        a -= qe
        if (a < qe) c += qe else a = qe
        if (Switch(i) == 1) ctx.mps(cx) = (1 - ctx.mps(cx)).toByte
        ctx.idx(cx) = Nlps(i).toByte
        renorm()
      }
    }

    /** FLUSH: SETBITS + two byteouts + the FF AC terminator. */
    def finish(): Array[Byte] = {
      // SETBITS: raise the low 16 bits, stepping back half an interval if
      // that overshoots [C, C+A) — always lands inside because A >= 0x8000
      // after renormalisation
      val temp = c + a
      c |= 0xFFFFL
      if (c >= temp) c -= 0x8000L
      c = (c << ct) & 0xFFFFFFFFL
      byteout()
      c = (c << ct) & 0xFFFFFFFFL
      byteout()
      push() // commit the last pending byte
      if (out.isEmpty || (out.last & 0xff) != 0xff) out += 0xff.toByte
      out += 0xac.toByte
      out.toArray
    }
  }

  // ---- Generic region, GBTEMPLATE 0 (T.88 §6.2.5.7) --------------------------

  /** A 1-bpp bitmap, row-major, one byte per pixel (0/1) for simplicity —
    * region decode is a parse-time operation, never a per-row Spark kernel. */
  final case class Bitmap(width: Int, height: Int, bits: Array[Byte]) {
    def get(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= width || y >= height) 0 else bits(y * width + x)
    def set(x: Int, y: Int, v: Int): Unit = bits(y * width + x) = v.toByte
    /** Packed 1-bpp MSB-first rows — the /JBIG2Decode output PDF expects. */
    def packed: Array[Byte] = {
      val stride = (width + 7) / 8
      val out = new Array[Byte](stride * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          if (bits(y * width + x) != 0)
            out(y * stride + (x >> 3)) = (out(y * stride + (x >> 3)) | (0x80 >> (x & 7))).toByte
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Template-0 AT pixel positions (dx, dy); nominal values per the spec
    * figure: A1=(+3,-1), A2=(-3,-1), A3=(+2,-2), A4=(-2,-2). */
  final case class AtPixels(a1: (Int, Int) = (3, -1), a2: (Int, Int) = (-3, -1),
                            a3: (Int, Int) = (2, -2), a4: (Int, Int) = (-2, -2))

  /** The template context at (x, y), bits in raster order of the NOMINAL
    * slot positions (MSB first) — a moved AT pixel keeps its bit slot. Any
    * fixed pattern→label bijection interoperates (the adaptive state array
    * is merely permuted, and both sides read the same pixel SET), so the
    * raster ordering is safe for foreign streams too. Widths: template 0 =
    * 16 bits, 1 = 13, 2-3 = 10 (§6.2.5.3 figures 4-7; templates 1-3 carry
    * a single movable AT pixel, A1). */
  private def contextOf(template: Int, bm: Bitmap, x: Int, y: Int, at: AtPixels): Int =
    template match {
      case 0 =>
        var cx = bm.get(x + at.a4._1, y + at.a4._2)
        cx = (cx << 1) | bm.get(x - 1, y - 2)
        cx = (cx << 1) | bm.get(x, y - 2)
        cx = (cx << 1) | bm.get(x + 1, y - 2)
        cx = (cx << 1) | bm.get(x + at.a3._1, y + at.a3._2)
        cx = (cx << 1) | bm.get(x + at.a2._1, y + at.a2._2)
        cx = (cx << 1) | bm.get(x - 2, y - 1)
        cx = (cx << 1) | bm.get(x - 1, y - 1)
        cx = (cx << 1) | bm.get(x, y - 1)
        cx = (cx << 1) | bm.get(x + 1, y - 1)
        cx = (cx << 1) | bm.get(x + 2, y - 1)
        cx = (cx << 1) | bm.get(x + at.a1._1, y + at.a1._2)
        cx = (cx << 1) | bm.get(x - 4, y)
        cx = (cx << 1) | bm.get(x - 3, y)
        cx = (cx << 1) | bm.get(x - 2, y)
        cx = (cx << 1) | bm.get(x - 1, y)
        cx
      case 1 =>
        var cx = bm.get(x - 1, y - 2)
        cx = (cx << 1) | bm.get(x, y - 2)
        cx = (cx << 1) | bm.get(x + 1, y - 2)
        cx = (cx << 1) | bm.get(x + 2, y - 2)
        cx = (cx << 1) | bm.get(x - 2, y - 1)
        cx = (cx << 1) | bm.get(x - 1, y - 1)
        cx = (cx << 1) | bm.get(x, y - 1)
        cx = (cx << 1) | bm.get(x + 1, y - 1)
        cx = (cx << 1) | bm.get(x + 2, y - 1)
        cx = (cx << 1) | bm.get(x + at.a1._1, y + at.a1._2)
        cx = (cx << 1) | bm.get(x - 3, y)
        cx = (cx << 1) | bm.get(x - 2, y)
        cx = (cx << 1) | bm.get(x - 1, y)
        cx
      case 2 =>
        var cx = bm.get(x - 1, y - 2)
        cx = (cx << 1) | bm.get(x, y - 2)
        cx = (cx << 1) | bm.get(x + 1, y - 2)
        cx = (cx << 1) | bm.get(x - 2, y - 1)
        cx = (cx << 1) | bm.get(x - 1, y - 1)
        cx = (cx << 1) | bm.get(x, y - 1)
        cx = (cx << 1) | bm.get(x + 1, y - 1)
        cx = (cx << 1) | bm.get(x + at.a1._1, y + at.a1._2)
        cx = (cx << 1) | bm.get(x - 2, y)
        cx = (cx << 1) | bm.get(x - 1, y)
        cx
      case _ =>
        var cx = bm.get(x - 3, y - 1)
        cx = (cx << 1) | bm.get(x - 2, y - 1)
        cx = (cx << 1) | bm.get(x - 1, y - 1)
        cx = (cx << 1) | bm.get(x, y - 1)
        cx = (cx << 1) | bm.get(x + 1, y - 1)
        cx = (cx << 1) | bm.get(x + at.a1._1, y + at.a1._2)
        cx = (cx << 1) | bm.get(x - 4, y)
        cx = (cx << 1) | bm.get(x - 3, y)
        cx = (cx << 1) | bm.get(x - 2, y)
        cx = (cx << 1) | bm.get(x - 1, y)
        cx
    }

  /** Context width in bits per GBTEMPLATE. */
  private val CtxBits = Array(16, 13, 10, 10)

  /** TPGDON pseudo-pixel contexts per template (T.88 §6.2.5.7). */
  private val TpgdCx = Array(0x9B25, 0x0795, 0x00E5, 0x0195)

  /** Decode a w×h generic-region bitmap from an EXISTING decoder with an
    * EXISTING context set — the form symbol-dictionary decoding requires
    * (§6.5.8.1: every symbol bitmap shares one decoder and one GB context
    * array). TPGDON row-copy prediction included for the region path. */
  private def decodeGenericInto(dec: MqDecoder, ctx: Contexts, w: Int, h: Int,
                                tpgdon: Boolean, template: Int, at: AtPixels): Bitmap = {
    val bm = Bitmap(w, h, new Array[Byte](w * h))
    var ltp = 0
    var y = 0
    while (y < h) {
      if (tpgdon) ltp ^= dec.decode(ctx, TpgdCx(template))
      if (tpgdon && ltp == 1) {
        // typical row: copy the row above (row 0 copies the all-0 border)
        if (y > 0) System.arraycopy(bm.bits, (y - 1) * w, bm.bits, y * w, w)
      } else {
        var x = 0
        while (x < w) {
          bm.set(x, y, dec.decode(ctx, contextOf(template, bm, x, y, at)))
          x += 1
        }
      }
      y += 1
    }
    bm
  }

  /** Encoder twin of [[decodeGenericInto]] — shared encoder + contexts. */
  private def encodeGenericInto(enc: MqEncoder, ctx: Contexts, bm: Bitmap,
                                tpgdon: Boolean, template: Int, at: AtPixels): Unit = {
    var ltp = 0
    var y = 0
    while (y < bm.height) {
      val typical = tpgdon && y > 0 &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(bm.bits, (y - 1) * bm.width, y * bm.width),
          java.util.Arrays.copyOfRange(bm.bits, y * bm.width, (y + 1) * bm.width))
      if (tpgdon) {
        val want = if (typical) 1 else 0
        enc.encode(ctx, TpgdCx(template), ltp ^ want)
        ltp = want
      }
      if (!(tpgdon && typical)) {
        var x = 0
        while (x < bm.width) {
          enc.encode(ctx, contextOf(template, bm, x, y, at), bm.get(x, y))
          x += 1
        }
      }
      y += 1
    }
  }

  /** Decode a generic region bitmap of w×h from MQ data (GBTEMPLATE 0-3). */
  def decodeGenericRegion(data: Array[Byte], w: Int, h: Int, tpgdon: Boolean,
                          at: AtPixels = AtPixels(), template: Int = 0): Bitmap = {
    val dec = new MqDecoder(data)
    val ctx = new Contexts(1 << CtxBits(template))
    decodeGenericInto(dec, ctx, w, h, tpgdon, template, at)
  }

  /** Encode a bitmap as a generic region (test-corpus forward direction;
    * the decoder must reproduce it exactly). */
  def encodeGenericRegion(bm: Bitmap, tpgdon: Boolean,
                          at: AtPixels = AtPixels(), template: Int = 0): Array[Byte] = {
    val enc = new MqEncoder
    val ctx = new Contexts(1 << CtxBits(template))
    encodeGenericInto(enc, ctx, bm, tpgdon, template, at)
    enc.finish()
  }

  // ---- Arithmetic integer decoding (T.88 Annex A) -----------------------------

  /** Decode one integer with the Annex A procedure over a 512-entry context
    * set (IADH/IADW/IAEX/IADT/IAFS/IADS/IAIT all use this shape). None is
    * the OOB value (S=1, V=0). */
  def decodeInt(dec: MqDecoder, cx: Contexts): Option[Int] = {
    var prev = 1
    def bit(): Int = {
      val b = dec.decode(cx, prev)
      prev = if (prev < 256) (prev << 1) | b
             else ((((prev << 1) | b) & 511) | 256)
      b
    }
    def bits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    val s = bit()
    val v: Long =
      if (bit() == 0) bits(2)
      else if (bit() == 0) bits(4) + 4
      else if (bit() == 0) bits(6) + 20
      else if (bit() == 0) bits(8) + 84
      else if (bit() == 0) bits(12) + 340
      else bits(32) + 4436
    if (s == 1 && v == 0) None // OOB
    else if (v > Int.MaxValue) None // hostile 32-bit bucket: refuse, don't wrap
    else Some(if (s == 1) -v.toInt else v.toInt)
  }

  /** Encoder twin of [[decodeInt]]; None encodes OOB. */
  def encodeInt(enc: MqEncoder, cx: Contexts, value: Option[Int]): Unit = {
    var prev = 1
    def bit(b: Int): Unit = {
      enc.encode(cx, prev, b)
      prev = if (prev < 256) (prev << 1) | b
             else ((((prev << 1) | b) & 511) | 256)
    }
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >> i) & 1L).toInt); i -= 1 }
    }
    val (s, v) = value match {
      case None => (1, 0L)
      case Some(x) => (if (x < 0) 1 else 0, math.abs(x.toLong))
    }
    bit(s)
    if (v < 4) { bit(0); bits(v, 2) }
    else if (v < 20) { bit(1); bit(0); bits(v - 4, 4) }
    else if (v < 84) { bit(1); bit(1); bit(0); bits(v - 20, 6) }
    else if (v < 340) { bit(1); bit(1); bit(1); bit(0); bits(v - 84, 8) }
    else if (v < 4436) { bit(1); bit(1); bit(1); bit(1); bit(0); bits(v - 340, 12) }
    else { bit(1); bit(1); bit(1); bit(1); bit(1); bits(v - 4436, 32) }
  }

  /** IAID decode (T.88 A.3): `codeLen` bits through a context tree of
    * 2^(codeLen+1) entries. */
  private def decodeIaid(dec: MqDecoder, cx: Contexts, codeLen: Int): Int = {
    var prev = 1; var i = 0
    while (i < codeLen) { prev = (prev << 1) | dec.decode(cx, prev); i += 1 }
    prev - (1 << codeLen)
  }

  private def encodeIaid(enc: MqEncoder, cx: Contexts, codeLen: Int, id: Int): Unit = {
    var prev = 1; var i = codeLen - 1
    while (i >= 0) {
      val b = (id >> i) & 1
      enc.encode(cx, prev, b)
      prev = (prev << 1) | b
      i -= 1
    }
  }

  /** SBSYMCODELEN: the spec text says ceil(log2(SBNUMSYMS)) but deployed
    * encoders (and the published erratum) use a 1-bit floor for the
    * one-symbol case; both sides here agree, and foreign single-symbol
    * streams are overwhelmingly written with the floor. */
  private def symCodeLen(numSyms: Int): Int = {
    var n = 1
    while ((1 << n) < numSyms) n += 1
    n
  }

  // ---- Embedded segment stream (T.88 §7; the PDF organisation) ---------------

  final case class Segment(number: Long, segType: Int, page: Long,
                           data: Array[Byte], refs: Seq[Long] = Nil)

  /** Parse the embedded (no file header) segment stream. Returns None on a
    * malformed header or an unknown-length segment. Trailing CR/LF bytes
    * after the last segment are tolerated — a PDF scanner that delimits
    * streams by the endstream keyword over-captures the EOL before it, and
    * the explicit segment lengths make the padding unambiguous. */
  def parseSegments(data: Array[Byte]): Option[Seq[Segment]] = {
    val out = new ArrayBuffer[Segment]()
    val c = Bytes.view(data)
    try {
      while (c.pos < data.length) {
        val i = c.pos
        if (data.length - i <= 2 &&
            (i until data.length).forall(k => data(k) == '\n' || data(k) == '\r'))
          return Some(out.toSeq)
        val number = c.readU32()
        val flags = c.readU8()
        val segType = flags & 0x3f
        val pageAssoc4 = (flags & 0x40) != 0
        var refCount = c.u8(c.pos) >>> 5
        if (refCount == 7) { // long form: 4-byte count + retain bits
          refCount = (c.readU32() & 0x1FFFFFFFL).toInt
          c.skip((refCount + 8) / 8)
        } else c.skip(1)
        // referred segment numbers: sized by THIS segment's number — a text
        // region finds its symbol dictionaries through these
        val refs = Vector.fill(refCount) {
          if (number <= 256) c.readU8().toLong
          else if (number <= 65536) c.readU16().toLong
          else c.readU32()
        }
        val page = if (pageAssoc4) c.readU32() else c.readU8().toLong
        val len = c.readU32()
        if (len == 0xFFFFFFFFL) return None
        out += Segment(number, segType, page, c.readBytes(len.toInt), refs)
      }
      Some(out.toSeq)
    } catch { case _: Bytes.Overrun => None }
  }

  /** A decoded generic region with its placement on the page. */
  final case class Region(x: Int, y: Int, bitmap: Bitmap)

  /** Decode the FIRST immediate generic region in an embedded JBIG2 stream:
    * segment types 36/38/39, arithmetic GBTEMPLATE 0-3 or MMR (T.6 via
    * [[Ccitt]]) — symbol/text-region-only streams return None here; use
    * [[decodeEmbedded]] for full page composition. */
  def decodeFirstGenericRegion(data: Array[Byte]): Option[Region] =
    parseSegments(data).flatMap { segs =>
      segs.find(s => s.segType == 36 || s.segType == 38 || s.segType == 39)
        .flatMap(regionOfGenericSegment(_).map(_._1))
    }

  /** Same, with a PDF /JBIG2Globals stream: the globals are their OWN
    * segment stream (ISO 32000 §7.4.7), so each parses separately — byte
    * concatenation would put one stream's trailing EOL padding between
    * segments of the other. */
  def decodeFirstGenericRegion(globals: Array[Byte], data: Array[Byte]): Option[Region] =
    for {
      gsegs <- if (globals.isEmpty) Some(Seq.empty[Segment]) else parseSegments(globals)
      segs  <- parseSegments(data)
      r     <- (gsegs ++ segs)
                 .find(s => s.segType == 36 || s.segType == 38 || s.segType == 39)
                 .flatMap(regionOfGenericSegment(_).map(_._1))
    } yield r

  /** Pixels of the largest page or region decoded, and cells of the
    * largest halftone grid. */
  private val MaxPixels = 64L * 1024 * 1024
  private val MaxGridCells = 16L * 1024 * 1024

  /** Decode one generic-region segment's bitmap and its external
    * combination operator (region info byte 16, low 3 bits). A region of
    * more than `maxPixels` pixels fails before any decoding. */
  private def regionOfGenericSegment(seg: Segment,
                                     maxPixels: Long = MaxPixels): Option[(Region, Int)] = {
    val d = seg.data
    if (d.length < 18) return None
    val v = Bytes.view(d)
    val w = v.u32(0).toInt
    val h = v.u32(4).toInt
    val x = v.u32(8).toInt
    val y = v.u32(12).toInt
    val combOp = d(16) & 7
    val flags = d(17) & 0xff
    val mmr = (flags & 1) != 0
    val template = (flags >> 1) & 3
    val tpgdon = (flags & 8) != 0
    if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) return None
    if (mmr) {
      // MMR regions are T.6-coded, full-width, no AT bytes in the
      // header (T.88 §7.4.6.2) and no typical prediction (§6.2.6)
      if (tpgdon) return None
      val data = java.util.Arrays.copyOfRange(d, 18, d.length)
      Ccitt.decodeG4(data, w, h).map(bm => (Region(x, y, bm), combOp))
    } else {
      // AT pixel bytes are signed; template 0 carries four pairs,
      // templates 1-3 a single movable A1 (§7.4.6.3)
      val nAt = if (template == 0) 4 else 1
      if (d.length < 18 + 2 * nAt) return None
      val at =
        if (template == 0)
          AtPixels((d(18), d(19)), (d(20), d(21)), (d(22), d(23)), (d(24), d(25)))
        else AtPixels(a1 = (d(18), d(19)))
      val mq = java.util.Arrays.copyOfRange(d, 18 + 2 * nAt, d.length)
      try Some((Region(x, y, decodeGenericRegion(mq, w, h, tpgdon, at, template)), combOp))
      catch { case _: Exception => None }
    }
  }

  // ---- Symbol dictionary (T.88 §6.5 / §7.4.3) --------------------------------

  /** Decode a symbol dictionary segment payload: arithmetic, non-refinement
    * (SDHUFF=0, SDREFAGG=0 — the form PDF scanners emit for lossless text).
    * `inputs` are the exported symbols of the dictionaries this segment
    * refers to, in referred order. Returns the EXPORTED symbols. */
  private def decodeSymbolDict(data: Array[Byte],
                               inputs: IndexedSeq[Bitmap]): Option[IndexedSeq[Bitmap]] = {
    if (data.length < 2) return None
    val v = Bytes.view(data)
    val flags = v.u16(0)
    val sdhuff = (flags & 1) != 0
    val refagg = (flags & 2) != 0
    val template = (flags >> 10) & 3
    if (sdhuff || refagg) return None // Huffman / refinement-aggregate: out of scope
    var p = 2
    val nAt = if (template == 0) 4 else 1
    if (data.length < p + 2 * nAt + 8) return None
    val at =
      if (template == 0)
        AtPixels((data(p), data(p + 1)), (data(p + 2), data(p + 3)),
          (data(p + 4), data(p + 5)), (data(p + 6), data(p + 7)))
      else AtPixels(a1 = (data(p), data(p + 1)))
    p += 2 * nAt
    val numEx = v.u32(p).toInt
    val numNew = v.u32(p + 4).toInt
    p += 8
    if (numNew < 0 || numNew > 100000 || numEx < 0 ||
        numEx > inputs.length + numNew) return None
    val dec = new MqDecoder(java.util.Arrays.copyOfRange(data, p, data.length))
    val gb = new Contexts(1 << CtxBits(template))
    val iadh = new Contexts(512)
    val iadw = new Contexts(512)
    val iaex = new Contexts(512)
    val newSyms = new ArrayBuffer[Bitmap](numNew)
    var hcHeight = 0
    var area = 0L
    // The decoder pads a truncated stream with marker bytes and never throws,
    // so a hostile stream can repeat an empty height class (dh = 0, then OOB)
    // or a zero export run forever: both loops are bounded, and running out
    // of rounds fails closed.
    var hcRounds = numNew + 8
    try {
      while (newSyms.length < numNew) {
        hcRounds -= 1
        if (hcRounds < 0) return None
        hcHeight += decodeInt(dec, iadh).getOrElse(return None)
        if (hcHeight <= 0 || hcHeight > 4096) return None
        var symWidth = 0
        var classDone = false
        while (!classDone) {
          decodeInt(dec, iadw) match {
            case None => classDone = true // OOB ends the height class
            case Some(dw) =>
              symWidth += dw
              if (symWidth <= 0 || symWidth > 4096 ||
                  newSyms.length >= numNew) return None
              area += symWidth.toLong * hcHeight
              if (area > MaxPixels) return None
              newSyms += decodeGenericInto(dec, gb, symWidth, hcHeight,
                tpgdon = false, template, at)
          }
        }
      }
      // export flags (§6.5.10): alternating not-exported/exported run lengths
      // over (inputs ++ new symbols), starting not-exported
      val all = inputs ++ newSyms
      val exported = new ArrayBuffer[Bitmap](numEx)
      var i = 0
      var curFlag = false
      var exRounds = 2 * (all.length + 1)
      while (exported.length < numEx) {
        exRounds -= 1
        if (exRounds < 0) return None
        val run = decodeInt(dec, iaex).getOrElse(return None)
        if (run < 0 || i + run > all.length) return None
        if (curFlag) exported ++= all.slice(i, i + run)
        i += run
        curFlag = !curFlag
      }
      if (exported.length != numEx) return None
      Some(exported.toIndexedSeq)
    } catch { case _: Exception => None }
  }

  // ---- Text region (T.88 §6.4 / §7.4.4) --------------------------------------

  /** Decode a text region segment payload against the referred dictionaries'
    * exported symbols. Arithmetic, non-refinement (SBHUFF=0, SBREFINE=0);
    * both transposed orientations, all four reference corners, and the four
    * symbol combination operators are honoured. */
  private def decodeTextRegion(data: Array[Byte],
                               syms: IndexedSeq[Bitmap]): Option[(Region, Int)] = {
    if (data.length < 17 + 2 + 4 || syms.isEmpty) return None
    val v = Bytes.view(data)
    val w = v.u32(0).toInt
    val h = v.u32(4).toInt
    val x = v.u32(8).toInt
    val y = v.u32(12).toInt
    val extCombOp = data(16) & 7
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
    val flags = v.u16(17)
    val sbhuff = (flags & 1) != 0
    val refine = (flags & 2) != 0
    val logStrips = (flags >> 2) & 3
    val refCorner = (flags >> 4) & 3
    val transposed = (flags >> 6) & 1
    val combOp = (flags >> 7) & 3
    val defPixel = (flags >> 9) & 1
    var dsOffset = (flags >> 10) & 0x1f
    if (dsOffset > 15) dsOffset -= 32 // signed 5-bit
    if (sbhuff || refine) return None
    var p = 19
    if (data.length < p + 4) return None
    val numInstances = v.u32(p).toInt
    p += 4
    if (numInstances < 0 || numInstances > 1000000) return None
    val strips = 1 << logStrips
    val codeLen = symCodeLen(syms.length)
    val dec = new MqDecoder(java.util.Arrays.copyOfRange(data, p, data.length))
    val iadt = new Contexts(512)
    val iafs = new Contexts(512)
    val iads = new Contexts(512)
    val iait = new Contexts(512)
    val iaid = new Contexts(1 << (codeLen + 1))
    val bm = Bitmap(w, h, new Array[Byte](w * h))
    if (defPixel != 0) java.util.Arrays.fill(bm.bits, 1.toByte)
    try {
      var stripT = -decodeInt(dec, iadt).getOrElse(return None) * strips
      var firstS = 0
      var inst = 0
      while (inst < numInstances) {
        stripT += decodeInt(dec, iadt).getOrElse(return None) * strips
        firstS += decodeInt(dec, iafs).getOrElse(return None)
        var curS = firstS
        var first = true
        var stripDone = false
        while (!stripDone && inst < numInstances) {
          if (!first) {
            decodeInt(dec, iads) match {
              case None => stripDone = true
              case Some(ids) => curS += ids + dsOffset
            }
          }
          if (!stripDone) {
            val curT = if (strips == 1) 0 else decodeInt(dec, iait).getOrElse(return None)
            val t = stripT + curT
            val id = decodeIaid(dec, iaid, codeLen)
            if (id < 0 || id >= syms.length) return None
            val sym = syms(id)
            if (transposed == 0) {
              // §6.4.5 3(c)(vi/x): right corners advance CURS BEFORE the
              // draw, left corners after — either way the symbol's left
              // column lands at the pre-draw CURS and CURS ends on its
              // rightmost column
              val x0 = curS
              val y0 = if (refCorner == 0 || refCorner == 2) t - sym.height + 1 else t
              drawOp(bm, sym, x0, y0, combOp)
              curS += sym.width - 1
            } else {
              // transposed: T is the horizontal axis, S the vertical one
              val y0 = curS
              val x0 = if (refCorner == 2 || refCorner == 3) t - sym.width + 1 else t
              drawOp(bm, sym, x0, y0, combOp)
              curS += sym.height - 1
            }
            inst += 1
            first = false
          }
        }
      }
      Some((Region(x, y, bm), extCombOp))
    } catch { case _: Exception => None }
  }

  /** Draw `sym` onto `page` at (x0, y0) with a T.88 combination operator
    * (0 OR, 1 AND, 2 XOR, 3 XNOR, else REPLACE), clipped to the page. */
  private def drawOp(page: Bitmap, sym: Bitmap, x0: Int, y0: Int, op: Int): Unit = {
    var yy = 0
    while (yy < sym.height) {
      val py = y0 + yy
      if (py >= 0 && py < page.height) {
        var xx = 0
        while (xx < sym.width) {
          val px = x0 + xx
          if (px >= 0 && px < page.width) {
            val s = sym.bits(yy * sym.width + xx)
            val d = page.bits(py * page.width + px)
            val v = op match {
              case 0 => d | s
              case 1 => d & s
              case 2 => d ^ s
              case 3 => 1 - (d ^ s)
              case _ => s.toInt
            }
            page.bits(py * page.width + px) = v.toByte
          }
          xx += 1
        }
      }
      yy += 1
    }
  }

  // ---- Pattern dictionary + halftone region (T.88 §6.6-6.7) ------------------

  /** Decode a pattern dictionary segment payload (§6.7.5 / §7.4.4): one
    * COLLECTIVE generic-region bitmap of (GRAYMAX+1)·HDPW × HDPH pixels
    * (A1 fixed at (-HDPW, 0) per the spec, no AT bytes on the wire; MMR
    * collective bitmaps go through T.6), split into the patterns. */
  private def decodePatternDict(data: Array[Byte]): Option[IndexedSeq[Bitmap]] = {
    if (data.length < 7) return None
    val flags = data(0) & 0xff
    val mmr = (flags & 1) != 0
    val template = (flags >> 1) & 3
    val hdpw = data(1) & 0xff
    val hdph = data(2) & 0xff
    val grayMax = Bytes.view(data).u32(3).toInt
    if (hdpw <= 0 || hdph <= 0 || grayMax < 0 || grayMax > 10000) return None
    val cw = (grayMax + 1) * hdpw
    if (cw.toLong * hdph > 16L * 1024 * 1024) return None
    val coded = java.util.Arrays.copyOfRange(data, 7, data.length)
    val collective =
      if (mmr) Ccitt.decodeG4(coded, cw, hdph).getOrElse(return None)
      else try decodeGenericRegion(coded, cw, hdph, tpgdon = false,
        AtPixels(a1 = (-hdpw, 0)), template)
      catch { case _: Exception => return None }
    Some((0 to grayMax).map { k =>
      val bits = new Array[Byte](hdpw * hdph)
      var yy = 0
      while (yy < hdph) {
        System.arraycopy(collective.bits, yy * cw + k * hdpw, bits, yy * hdpw, hdpw)
        yy += 1
      }
      Bitmap(hdpw, hdph, bits)
    })
  }

  /** Decode a halftone region segment payload (§6.6.5 / §7.4.5) against the
    * referred pattern dictionary: the GRAY-SCALE image decodes as Annex C.5
    * gray-coded bitplanes (MSB first, ONE shared decoder + context set),
    * then each grid cell stamps its pattern at the skew-capable grid
    * position. Arithmetic coding only; HENABLESKIP and MMR planes are out
    * of scope (None). A grid of more than `maxCells` cells fails before any
    * decoding. */
  private def decodeHalftoneRegion(data: Array[Byte], patterns: IndexedSeq[Bitmap],
                                   maxCells: Long): Option[(Region, Int)] = {
    if (data.length < 38 || patterns.isEmpty) return None
    val v = Bytes.view(data)
    val w = v.u32(0).toInt
    val h = v.u32(4).toInt
    val x = v.u32(8).toInt
    val y = v.u32(12).toInt
    val extCombOp = data(16) & 7
    val flags = data(17) & 0xff
    val mmr = (flags & 1) != 0
    val template = (flags >> 1) & 3
    val enableSkip = (flags & 8) != 0
    val combOp = (flags >> 4) & 7
    val defPixel = (flags >> 7) & 1
    if (mmr || enableSkip) return None
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
    val hgw = v.u32(18).toInt
    val hgh = v.u32(22).toInt
    val hgx = v.u32(26).toInt // signed 32-bit grid origin
    val hgy = v.u32(30).toInt
    val hrx = v.u16(34)
    val hry = v.u16(36)
    if (hgw <= 0 || hgh <= 0 || hgw.toLong * hgh > maxCells) return None
    val bitsPerValue = symCodeLen(patterns.length)
    val coded = java.util.Arrays.copyOfRange(data, 38, data.length)
    val dec = new MqDecoder(coded)
    val gb = new Contexts(1 << CtxBits(template))
    val at = if (template <= 1) AtPixels(a1 = (3, -1)) else AtPixels(a1 = (2, -1))
    try {
      val planes = (0 until bitsPerValue).map(_ =>
        decodeGenericInto(dec, gb, hgw, hgh, tpgdon = false, template, at))
      val bm = Bitmap(w, h, new Array[Byte](w * h))
      if (defPixel != 0) java.util.Arrays.fill(bm.bits, 1.toByte)
      var mg = 0
      while (mg < hgh) {
        var ng = 0
        while (ng < hgw) {
          // gray-code: MSB plane is the value bit; lower bits XOR upward
          var value = 0
          var bit = 0
          var j = 0
          while (j < bitsPerValue) {
            bit ^= planes(j).bits(mg * hgw + ng)
            value = (value << 1) | bit
            j += 1
          }
          val pat = patterns(math.min(value, patterns.length - 1))
          val x0 = hgx + mg * hry + ng * hrx
          val y0 = hgy + mg * hrx - ng * hry
          drawOp(bm, pat, x0, y0, combOp)
          ng += 1
        }
        mg += 1
      }
      Some((Region(x, y, bm), extCombOp))
    } catch { case _: Exception => None }
  }

  // ---- Page composition (T.88 §8.2; the PDF embedded organisation) -----------

  /** Decode a full embedded JBIG2 stream — page information, symbol
    * dictionaries, text regions, and generic regions — composing every
    * region onto the page bitmap with its external combination operator.
    * Falls back to the lone region when no page information segment gives
    * the page its dimensions. Any undecodable region fails the whole page
    * (the caller labels the image undecoded, exactly like a broken JPEG). */
  def decodeEmbedded(globals: Array[Byte], data: Array[Byte]): Option[Region] =
    for {
      gsegs <- if (globals.isEmpty) Some(Seq.empty[Segment]) else parseSegments(globals)
      segs  <- parseSegments(data)
      r     <- decodePage(gsegs ++ segs)
    } yield r

  private def decodePage(segs: Seq[Segment]): Option[Region] = {
    val dicts = scala.collection.mutable.Map.empty[Long, IndexedSeq[Bitmap]]
    val patDicts = scala.collection.mutable.Map.empty[Long, IndexedSeq[Bitmap]]
    var pageW = -1
    var pageH = -1
    // once the page size is known, no region nor halftone grid may have more
    // pixels than the page: its excess could only be clipped away
    def pagePixels(limit: Long): Long =
      if (pageW > 0 && pageH > 0) math.min(limit, pageW.toLong * pageH) else limit
    val regions = new ArrayBuffer[(Region, Int)]()
    for (seg <- segs) seg.segType match {
      case 16 => // pattern dictionary
        decodePatternDict(seg.data) match {
          case Some(ps) => patDicts(seg.number) = ps
          case None => return None
        }
      case 20 | 22 | 23 => // halftone region
        val pats = seg.refs.flatMap(patDicts.get).flatten.toIndexedSeq
        decodeHalftoneRegion(seg.data, pats, pagePixels(MaxGridCells)) match {
          case Some(rc) => regions += rc
          case None => return None
        }
      case 48 => // page information: width, height (0xFFFFFFFF = striped/unknown)
        if (seg.data.length >= 8) {
          val info = Bytes.view(seg.data)
          val w = info.u32(0)
          val h = info.u32(4)
          if (w > 0 && w < Int.MaxValue) pageW = w.toInt
          if (h > 0 && h < Int.MaxValue) pageH = h.toInt
          // an oversized page fails now, before its regions are decoded
          if (pageW > 0 && pageH > 0 && pageW.toLong * pageH > MaxPixels) return None
        }
      case 0 => // symbol dictionary: inputs are its referred dicts' exports
        val inputs = seg.refs.flatMap(dicts.get).flatten.toIndexedSeq
        decodeSymbolDict(seg.data, inputs) match {
          case Some(sy) => dicts(seg.number) = sy
          case None => return None
        }
      case 4 | 6 | 7 => // text region (intermediate / immediate / lossless)
        val syms = seg.refs.flatMap(dicts.get).flatten.toIndexedSeq
        decodeTextRegion(seg.data, syms) match {
          case Some(rc) => regions += rc
          case None => return None
        }
      case 36 | 38 | 39 => // generic region
        regionOfGenericSegment(seg, pagePixels(MaxPixels)) match {
          case Some(rc) => regions += rc
          case None => return None
        }
      case _ => () // tables, extensions, end-of-page/stripe: no pixels
    }
    if (regions.isEmpty) return None
    if (pageW <= 0 || pageH <= 0) {
      // no usable page geometry: a lone region IS the image; multiple
      // regions without a page frame are unplaceable
      return if (regions.length == 1) Some(regions.head._1) else None
    }
    val page = Bitmap(pageW, pageH, new Array[Byte](pageW * pageH))
    for ((r, op) <- regions) drawOp(page, r.bitmap, r.x, r.y, op)
    Some(Region(0, 0, page))
  }

  // ---- Embedded-stream writer (test corpus) ----------------------------------

  def segmentBytes(number: Long, segType: Int, page: Int,
                   payload: Array[Byte],
                   refs: Seq[Long] = Nil): Array[Byte] = {
    require(refs.length <= 4 && number <= 256,
      "writer emits the short referred-segment form only")
    val out = new ArrayBuffer[Byte]()
    out ++= be(4)(number)
    out += segType.toByte // flags: short page assoc, not deferred
    out += (refs.length << 5).toByte // short form: count in the top 3 bits
    refs.foreach(r => out += r.toByte) // 1-byte refs (this number <= 256)
    out += page.toByte
    out ++= be(4)(payload.length)
    out ++= payload
    out.toArray
  }

  /** The two embedded-stream segments for `bm`: the page information
    * segment (type 48) and an immediate lossless generic region segment
    * (type 39; arithmetic template 0, or T.6-coded when `mmr`) —
    * separately, so a caller can ship the page info in a PDF
    * /JBIG2Globals stream and the region in the image stream (the split
    * organisation ISO 32000 §7.4.7 allows). */
  def encodeSegments(bm: Bitmap, tpgdon: Boolean = false,
                     at: AtPixels = AtPixels(),
                     mmr: Boolean = false,
                     template: Int = 0): (Array[Byte], Array[Byte]) = {
    // page information segment: width, height, xres, yres, flags, striping
    val pageInfo = be(4)(bm.width, bm.height, 0, 0) ++
      Array(0x01.toByte) ++ Array(0x00.toByte, 0x00.toByte)
    val regionFlags = (if (mmr) 1 else 0) | ((template & 3) << 1) |
      (if (tpgdon && !mmr) 8 else 0)
    val atB =
      if (template == 0) Array(at.a1._1, at.a1._2, at.a2._1, at.a2._2,
        at.a3._1, at.a3._2, at.a4._1, at.a4._2).map(_.toByte)
      else Array(at.a1._1.toByte, at.a1._2.toByte)
    val coded =
      if (mmr) Ccitt.encode(bm) // T.6, no AT bytes in the header
      else atB ++ encodeGenericRegion(bm, tpgdon, at, template)
    val regionInfo = be(4)(bm.width, bm.height, 0, 0) ++
      Array(0x00.toByte) ++ // combOp OR
      Array(regionFlags.toByte) ++ coded
    (segmentBytes(0, 48, 1, pageInfo), segmentBytes(1, 39, 1, regionInfo))
  }

  /** Write a minimal embedded JBIG2 stream: page info + one immediate
    * lossless generic region carrying `bm` (template 0). */
  def encodeEmbedded(bm: Bitmap, tpgdon: Boolean = false,
                     at: AtPixels = AtPixels()): Array[Byte] = {
    val (page, region) = encodeSegments(bm, tpgdon, at)
    page ++ region
  }

  /** Encode a symbol dictionary payload (arithmetic, SDHUFF=0, SDREFAGG=0):
    * symbols grouped into ascending height classes, each class a signed-
    * delta width chain closed by OOB, bitmaps through ONE shared generic
    * coder; exports everything. Returns (payload, perm) where perm(i) is
    * the exported id of input symbol i — text-region instance ids must go
    * through it because export order is height-class order, not input
    * order. */
  def encodeSymbolDictPayload(symbols: IndexedSeq[Bitmap], template: Int = 0,
                              at: AtPixels = AtPixels()): (Array[Byte], Array[Int]) = {
    require(symbols.nonEmpty, "symbol dictionary needs at least one symbol")
    val order = symbols.indices.sortBy(i => (symbols(i).height, i))
    val perm = new Array[Int](symbols.length)
    order.zipWithIndex.foreach { case (orig, ex) => perm(orig) = ex }
    val enc = new MqEncoder
    val gb = new Contexts(1 << CtxBits(template))
    val iadh = new Contexts(512)
    val iadw = new Contexts(512)
    val iaex = new Contexts(512)
    var hcHeight = 0
    var i = 0
    while (i < order.length) {
      val h = symbols(order(i)).height
      encodeInt(enc, iadh, Some(h - hcHeight))
      hcHeight = h
      var symWidth = 0
      while (i < order.length && symbols(order(i)).height == h) {
        val sym = symbols(order(i))
        encodeInt(enc, iadw, Some(sym.width - symWidth))
        symWidth = sym.width
        encodeGenericInto(enc, gb, sym, tpgdon = false, template, at)
        i += 1
      }
      encodeInt(enc, iadw, None) // OOB closes the height class
    }
    encodeInt(enc, iaex, Some(0)) // zero-length not-exported run…
    encodeInt(enc, iaex, Some(symbols.length)) // …then export every new symbol
    val flags = (template & 3) << 10
    val atB =
      if (template == 0) Array(at.a1._1, at.a1._2, at.a2._1, at.a2._2,
        at.a3._1, at.a3._2, at.a4._1, at.a4._2).map(_.toByte)
      else Array(at.a1._1.toByte, at.a1._2.toByte)
    val payload = be(2)(flags) ++ atB ++ be(4)(symbols.length, symbols.length) ++ enc.finish()
    (payload, perm)
  }

  /** Encode a text region payload (arithmetic, SBHUFF=0, SBREFINE=0,
    * SBSTRIPS=1, non-transposed). `instances` are (exported symbol id,
    * leftmost column, strip T) — T is the symbol's TOP row for top
    * reference corners and its BOTTOM row for bottom corners; within a
    * strip instances must be left-to-right. `syms` is the referred
    * dictionary's EXPORTED symbol list (widths drive the CURS chain). */
  def encodeTextRegionPayload(w: Int, h: Int, x: Int, y: Int,
                              syms: IndexedSeq[Bitmap],
                              instances: Seq[(Int, Int, Int)],
                              refCorner: Int = 1): Array[Byte] = {
    val codeLen = symCodeLen(syms.length)
    val enc = new MqEncoder
    val iadt = new Contexts(512)
    val iafs = new Contexts(512)
    val iads = new Contexts(512)
    val iaid = new Contexts(1 << (codeLen + 1))
    encodeInt(enc, iadt, Some(0)) // initial STRIPT = 0
    var stripT = 0
    var firstS = 0
    for ((t, insts0) <- instances.groupBy(_._3).toSeq.sortBy(_._1)) {
      val insts = insts0.sortBy(_._2)
      encodeInt(enc, iadt, Some(t - stripT))
      stripT = t
      var curS = 0
      var first = true
      for ((id, s, _) <- insts) {
        if (first) {
          encodeInt(enc, iafs, Some(s - firstS))
          firstS = s
          curS = s
          first = false
        } else {
          encodeInt(enc, iads, Some(s - curS)) // IDS; SBDSOFFSET = 0
          curS = s
        }
        encodeIaid(enc, iaid, codeLen, id)
        curS += syms(id).width - 1 // decoder leaves CURS on the last column
      }
      encodeInt(enc, iads, None) // OOB closes the strip
    }
    val flags = (refCorner & 3) << 4 // everything else zero: arithmetic,
    // no refinement, LOGSBSTRIPS 0, non-transposed, OR, defpixel 0,
    // DSOFFSET 0, template 0
    val regionInfo = be(4)(w, h, x, y) ++ Array(0x00.toByte) // external combOp OR
    regionInfo ++ be(2)(flags) ++ be(4)(instances.length) ++ enc.finish()
  }

  /** Segments for a symbol/text organisation of `bm` — the layout scanned-
    * text PDFs actually use: page information, a symbol dictionary of the
    * ≤`chunkW`-wide vertical slices of `bm` (pixel-identical slices DEDUPED
    * so symbol reuse is exercised), and one immediate lossless text region
    * reassembling them left-to-right. The composed page is bit-identical to
    * `bm`. Returns (page info, symbol dict, text region) segments; the text
    * region refers to the dictionary. */
  def encodeTextSegments(bm: Bitmap, template: Int = 0, refCorner: Int = 1,
                         chunkW: Int = 8,
                         at: AtPixels = AtPixels()): (Array[Byte], Array[Byte], Array[Byte]) = {
    val chunks = (0 until bm.width by chunkW).map { x0 =>
      val w = math.min(chunkW, bm.width - x0)
      val bits = new Array[Byte](w * bm.height)
      var yy = 0
      while (yy < bm.height) {
        System.arraycopy(bm.bits, yy * bm.width + x0, bits, yy * w, w)
        yy += 1
      }
      (x0, Bitmap(w, bm.height, bits))
    }
    val uniq = new ArrayBuffer[Bitmap]()
    val placed = chunks.map { case (x0, c) =>
      val k = uniq.indexWhere(u =>
        u.width == c.width && java.util.Arrays.equals(u.bits, c.bits))
      val id = if (k >= 0) k else { uniq += c; uniq.length - 1 }
      (x0, id)
    }
    val (dictPayload, perm) = encodeSymbolDictPayload(uniq.toIndexedSeq, template, at)
    val exported = uniq.indices.sortBy(perm).map(uniq) // exported order
    val tRow = if (refCorner == 0 || refCorner == 2) bm.height - 1 else 0
    val instances = placed.map { case (x0, id) => (perm(id), x0, tRow) }
    val textPayload = encodeTextRegionPayload(
      bm.width, bm.height, 0, 0, exported.toIndexedSeq, instances, refCorner)
    val pageInfo = be(4)(bm.width, bm.height, 0, 0) ++
      Array(0x01.toByte) ++ Array(0x00.toByte, 0x00.toByte)
    (segmentBytes(0, 48, 1, pageInfo),
      segmentBytes(1, 0, 1, dictPayload),
      segmentBytes(2, 7, 1, textPayload, refs = Seq(1L)))
  }

  /** Encode a pattern dictionary payload: patterns laid side by side into
    * the collective bitmap, generic-coded with the spec-fixed A1. All
    * patterns must share one geometry. */
  def encodePatternDictPayload(patterns: IndexedSeq[Bitmap],
                               template: Int = 0): Array[Byte] = {
    require(patterns.nonEmpty && patterns.length <= 10000)
    val hdpw = patterns.head.width
    val hdph = patterns.head.height
    require(patterns.forall(p => p.width == hdpw && p.height == hdph))
    require(hdpw <= 255 && hdph <= 255)
    val cw = patterns.length * hdpw
    val collective = Bitmap(cw, hdph, new Array[Byte](cw * hdph))
    patterns.zipWithIndex.foreach { case (p, k) =>
      var yy = 0
      while (yy < hdph) {
        System.arraycopy(p.bits, yy * hdpw, collective.bits, yy * cw + k * hdpw, hdpw)
        yy += 1
      }
    }
    val coded = encodeGenericRegion(collective, tpgdon = false,
      AtPixels(a1 = (-hdpw, 0)), template)
    Array(((template & 3) << 1).toByte, hdpw.toByte, hdph.toByte) ++
      be(4)(patterns.length - 1) ++ coded
  }

  /** Encode a halftone region payload: the grid of pattern indices `gi`
    * (row-major HGH×HGW) gray-coded into bitplanes (MSB first, one shared
    * coder), grid geometry as given. */
  def encodeHalftoneRegionPayload(w: Int, h: Int, x: Int, y: Int,
                                  nPatterns: Int, gi: Array[Int],
                                  hgw: Int, hgh: Int, hgx: Int, hgy: Int,
                                  hrx: Int, hry: Int,
                                  template: Int = 0): Array[Byte] = {
    require(gi.length == hgw * hgh && nPatterns >= 1)
    require(gi.forall(v => v >= 0 && v < nPatterns))
    val bitsPerValue = symCodeLen(nPatterns)
    val enc = new MqEncoder
    val gb = new Contexts(1 << CtxBits(template))
    val at = if (template <= 1) AtPixels(a1 = (3, -1)) else AtPixels(a1 = (2, -1))
    var j = bitsPerValue - 1
    var prevPlane: Array[Byte] = null
    while (j >= 0) {
      // gray-coding (Annex C.5): MSB plane = the value bit; each lower
      // plane XORs against the bit above it
      val plane = new Array[Byte](hgw * hgh)
      var i = 0
      while (i < gi.length) {
        val bit = (gi(i) >> j) & 1
        plane(i) = (if (prevPlane == null) bit else bit ^ prevPlane(i)).toByte
        i += 1
      }
      // track the RAW value bits for the next plane's XOR, not the coded plane
      val rawBits = new Array[Byte](hgw * hgh)
      i = 0
      while (i < gi.length) { rawBits(i) = ((gi(i) >> j) & 1).toByte; i += 1 }
      encodeGenericInto(enc, gb, Bitmap(hgw, hgh, plane), tpgdon = false, template, at)
      prevPlane = rawBits
      j -= 1
    }
    val regionInfo = be(4)(w, h, x, y) ++ Array(0x00.toByte) // external combOp OR
    regionInfo ++ Array(((template & 3) << 1).toByte) ++ // arithmetic, no skip, OR
      be(4)(hgw, hgh, hgx, hgy) ++ be(2)(hrx, hry) ++ enc.finish()
  }

  /** Segments for a HALFTONE organisation of `bm`: a two-pattern 1×1
    * dictionary (white/black) and a 1:1 grid whose gray-scale image IS the
    * bitmap — a legal T.88 halftone whose composed page is bit-identical to
    * `bm`, so the same pixel oracle covers this path too. */
  def encodeHalftoneSegments(bm: Bitmap,
                             template: Int = 0): (Array[Byte], Array[Byte], Array[Byte]) = {
    val patterns = IndexedSeq(
      Bitmap(1, 1, Array[Byte](0)), Bitmap(1, 1, Array[Byte](1)))
    val dictPayload = encodePatternDictPayload(patterns, template)
    val gi = new Array[Int](bm.width * bm.height)
    var i = 0
    while (i < gi.length) { gi(i) = bm.bits(i); i += 1 }
    val htPayload = encodeHalftoneRegionPayload(bm.width, bm.height, 0, 0,
      nPatterns = 2, gi, hgw = bm.width, hgh = bm.height,
      hgx = 0, hgy = 0, hrx = 1, hry = 0, template = template)
    val pageInfo = be(4)(bm.width, bm.height, 0, 0) ++
      Array(0x01.toByte) ++ Array(0x00.toByte, 0x00.toByte)
    (segmentBytes(0, 48, 1, pageInfo),
      segmentBytes(1, 16, 1, dictPayload),
      segmentBytes(2, 23, 1, htPayload, refs = Seq(1L)))
  }
}
