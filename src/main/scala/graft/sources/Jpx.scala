package graft.sources

import scala.collection.mutable.ArrayBuffer
import Bytes.be

/** JPEG 2000 Part 1 (ITU-T T.800) — the wavelet codec behind PDF's
  * /JPXDecode (ISO 32000 §7.4.9), consumed by the reference through its
  * PDF processor's rasterisation path (processors/pdf/processor.py:57-430).
  * Everything here is the published algorithm set, re-implemented from the
  * spec exactly like [[Jbig2]] (whose MQ coder — T.88 Annex E — is the
  * SAME arithmetic coder as T.800 Annex C and is reused verbatim):
  *
  *  - codestream syntax (Annex A): SOC/SIZ/COD/QCD/SOT/SOD/EOC, raw or
  *    inside a JP2 box container (the jp2c box);
  *  - Tier-2 packet decoding (Annex B): tag-tree coded inclusion and
  *    zero-bit-plane signalling, coding-pass counts, Lblock length codes,
  *    bit-stuffed packet headers, LRCP progression;
  *  - Tier-1 EBCOT coefficient coding (Annex D): significance-propagation,
  *    magnitude-refinement and cleanup passes over 4-row stripes with the
  *    19-context model (zero coding per subband orientation, sign coding
  *    with XOR bit, run-length and UNIFORM contexts) on the shared MQ
  *    coder with the Table D.7 initial states;
  *  - the reversible 5/3 wavelet (Annex F) with symmetric extension, and
  *    the DC level shift.
  *
  * Supported subset (both directions — the encoder exists so the test
  * corpus is generated forward and round-trip equality is the testable
  * property): one tile, one 8-bit unsigned component, no multiple-component
  * transform, LRCP, single quality layer, default precincts (one per
  * resolution), code-block style 0, reversible 5/3, lossless. Streams
  * outside the subset (multi-tile/component, 9/7 irreversible, bypass
  * modes, …) return None and the caller labels the image unsupported.
  */
object Jpx {

  // ---- bit I/O with 0xFF stuffing (packet headers, T.800 B.10.1) -----------

  private[graft] final class BitWriter {
    private val out = new ArrayBuffer[Byte]()
    private var cur = 0
    private var nbits = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nbits += 1
      val full = if (out.nonEmpty && (out.last & 0xff) == 0xff) 7 else 8
      if (nbits == full) { out += cur.toByte; cur = 0; nbits = 0 }
    }
    def bits(v: Int, n: Int): Unit = { var i = n - 1; while (i >= 0) { bit((v >>> i) & 1); i -= 1 } }
    /** Byte-align with 0 bits; a trailing 0xFF gets a 0x00 chaser so the
      * header never ends in 0xFF (B.10.1). */
    def finish(): Array[Byte] = {
      while (nbits != 0) bit(0)
      if (out.nonEmpty && (out.last & 0xff) == 0xff) out += 0x00.toByte
      out.toArray
    }
  }

  private[graft] final class BitReader(data: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    private var lastByte = 0
    def bit(): Int = {
      if (nbits == 0) {
        val stuffed = lastByte == 0xff
        cur = if (pos < data.length) data(pos) & 0xff else 0
        pos += 1
        lastByte = cur
        nbits = if (stuffed) 7 else 8
      }
      nbits -= 1
      (cur >>> nbits) & 1
    }
    def bits(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    /** Position of the first body byte after the header (byte-aligned; a
      * terminal 0xFF gets its stuffed chaser consumed). */
    def align(): Int = {
      nbits = 0
      if (lastByte == 0xff) { pos += 1; lastByte = 0 }
      pos
    }
  }

  // ---- tag trees (T.800 B.10.2) ---------------------------------------------

  /** Quad-tree over a w×h grid of non-negative values; `low` is the bound
    * the decoder has learned so far, `known` marks a fully decoded value. */
  private[graft] final class TagTree(val w: Int, val h: Int) {
    // level 0 = leaves; each level halves (ceil) until 1×1
    private val dims = {
      val b = ArrayBuffer((w, h))
      while (b.last._1 > 1 || b.last._2 > 1)
        b += (((b.last._1 + 1) / 2, (b.last._2 + 1) / 2))
      b.toArray
    }
    val levels: Int = dims.length
    private val offs = dims.scanLeft(0) { case (acc, (dw, dh)) => acc + dw * dh }
    private val n = offs.last
    val value = new Array[Int](n)
    val low = new Array[Int](n)
    val known = new Array[Boolean](n)

    private def idx(level: Int, x: Int, y: Int) = offs(level) + y * dims(level)._1 + x

    /** Set leaf values and fold mins upward (encoder side). */
    def build(leaf: (Int, Int) => Int): Unit = {
      for (y <- 0 until h; x <- 0 until w) value(idx(0, x, y)) = leaf(x, y)
      for (l <- 1 until levels; y <- 0 until dims(l)._2; x <- 0 until dims(l)._1) {
        var m = Int.MaxValue
        for (dy <- 0 until 2; dx <- 0 until 2) {
          val cx = 2 * x + dx; val cy = 2 * y + dy
          if (cx < dims(l - 1)._1 && cy < dims(l - 1)._2)
            m = math.min(m, value(idx(l - 1, cx, cy)))
        }
        value(idx(l, x, y)) = m
      }
    }

    private def path(x: Int, y: Int): Array[Int] = {
      val p = new Array[Int](levels)
      var cx = x; var cy = y
      var l = 0
      while (l < levels) { p(levels - 1 - l) = idx(l, cx, cy); cx /= 2; cy /= 2; l += 1 }
      p // root .. leaf
    }

    /** Encoder: emit bits so the decoder learns whether value(leaf) < t.
      * Mirrors [[decode]] exactly, including the early stop when a node on
      * the path stalls at low ≥ t without resolving. */
    def encode(bw: BitWriter, x: Int, y: Int, t: Int): Unit = {
      var lo = 0
      val p = path(x, y)
      var i = 0
      while (i < p.length) {
        val node = p(i)
        if (low(node) < lo) low(node) = lo
        while (!known(node) && low(node) < t) {
          if (low(node) == value(node)) { bw.bit(1); known(node) = true }
          else { bw.bit(0); low(node) += 1 }
        }
        lo = low(node)
        if (!known(node)) return // low >= t: threshold exhausted
        i += 1
      }
    }

    /** Decoder twin: returns true when value(leaf) < t is established. */
    def decode(br: BitReader, x: Int, y: Int, t: Int): Boolean = {
      var lo = 0
      val p = path(x, y)
      var i = 0
      while (i < p.length) {
        val node = p(i)
        if (low(node) < lo) low(node) = lo
        while (!known(node) && low(node) < t) {
          if (br.bit() == 1) { known(node) = true; value(node) = low(node) }
          else low(node) += 1
        }
        lo = low(node)
        if (!known(node)) return false // low >= t: value >= t
        i += 1
      }
      value(p.last) < t
    }

    /** Encode a leaf's exact value (zero-bit-plane signalling): raise the
      * threshold until the decoder's [[decodeFull]] loop terminates. */
    def encodeFull(bw: BitWriter, x: Int, y: Int): Unit = {
      val leaf = path(x, y).last
      var t = 1
      var done = false
      while (!done) {
        encode(bw, x, y, t)
        done = known(leaf) && value(leaf) < t
        t += 1
      }
    }

    /** Decode a leaf's exact value (zero-bit-plane signalling). A truncated
      * header reads as 0 bits, which never resolve the value: past 64 (over
      * any code-block's Mb) the walk stops and returns that bound. */
    def decodeFull(br: BitReader, x: Int, y: Int): Int = {
      var t = 1
      while (!decode(br, x, y, t)) { t += 1; if (t > 64) return t }
      value(path(x, y).last)
    }
  }

  // ---- Tier-1 EBCOT (T.800 Annex D) -----------------------------------------

  // zero-coding context from (h, v, d) neighbour significance counts
  private def zcContext(band: Int, h: Int, v: Int, d: Int): Int = band match {
    case 0 | 2 => // LL and LH orientations (Table D.1 col 1); HL swaps h/v
      if (h == 2) 8
      else if (h == 1) { if (v >= 1) 7 else if (d >= 1) 6 else 5 }
      else { if (v == 2) 4 else if (v == 1) 3 else if (d >= 2) 2 else if (d == 1) 1 else 0 }
    case 1 => zcContext(0, v, h, d) // HL
    case _ => // HH (Table D.1 col 3)
      if (d >= 3) 8
      else if (d == 2) { if (h + v >= 1) 7 else 6 }
      else if (d == 1) { if (h + v >= 2) 5 else if (h + v == 1) 4 else 3 }
      else { if (h + v >= 2) 2 else if (h + v == 1) 1 else 0 }
  }

  // sign-coding (ctx, xor) from clamped H/V contributions (Table D.2)
  private def scContext(hc: Int, vc: Int): (Int, Int) = (hc, vc) match {
    case (1, 1)   => (13, 0); case (1, 0)  => (12, 0); case (1, -1)  => (11, 0)
    case (0, 1)   => (10, 0); case (0, 0)  => (9, 0);  case (0, -1)  => (10, 1)
    case (-1, 1)  => (11, 1); case (-1, 0) => (12, 1); case _        => (13, 1)
  }

  private val CtxRlc = 17
  private val CtxUni = 18
  private val NCtx = 19

  /** Fresh per-code-block context set with the Table D.7 initial states:
    * UNIFORM starts at state 46, RLC at 3, ZC context 0 at 4, rest 0. */
  private def freshContexts(): Jbig2.Contexts = {
    val c = new Jbig2.Contexts(NCtx)
    c.idx(CtxUni) = 46
    c.idx(CtxRlc) = 3
    c.idx(0) = 4
    c
  }

  /** Code-block coefficient state shared by both T1 directions. */
  private final class BlockState(val w: Int, val h: Int) {
    val sigma = new Array[Boolean](w * h)
    val pi = new Array[Boolean](w * h)      // coded in the current plane's SPP
    val refined = new Array[Boolean](w * h) // had a refinement already
    val mag = new Array[Int](w * h)
    val neg = new Array[Boolean](w * h)

    def sig(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= w || y >= h) 0 else if (sigma(y * w + x)) 1 else 0
    def signC(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= w || y >= h || !sigma(y * w + x)) 0
      else if (neg(y * w + x)) -1 else 1
    def hvd(x: Int, y: Int): (Int, Int, Int) = (
      sig(x - 1, y) + sig(x + 1, y),
      sig(x, y - 1) + sig(x, y + 1),
      sig(x - 1, y - 1) + sig(x + 1, y - 1) + sig(x - 1, y + 1) + sig(x + 1, y + 1))
    def scOf(x: Int, y: Int): (Int, Int) = {
      val hc = math.max(-1, math.min(1, signC(x - 1, y) + signC(x + 1, y)))
      val vc = math.max(-1, math.min(1, signC(x, y - 1) + signC(x, y + 1)))
      scContext(hc, vc)
    }
    def anySigNeighbor(x: Int, y: Int): Boolean = {
      val (a, b, c) = hvd(x, y); a + b + c > 0
    }
  }

  /** Encode one code-block losslessly; returns (mq bytes, numbps, passes). */
  private[graft] def t1Encode(band: Int, w: Int, h: Int,
                       coeff: Array[Int]): (Array[Byte], Int, Int) = {
    var maxMag = 0
    coeff.foreach(v => maxMag = math.max(maxMag, math.abs(v)))
    val numbps = 32 - Integer.numberOfLeadingZeros(maxMag) // 0 if all zero
    if (numbps == 0) return (Array.emptyByteArray, 0, 0)
    val st = new BlockState(w, h)
    for (i <- coeff.indices) { st.mag(i) = math.abs(coeff(i)); st.neg(i) = coeff(i) < 0 }
    val enc = new Jbig2.MqEncoder
    val ctx = freshContexts()
    var passes = 0

    def bitOf(i: Int, p: Int): Int = (st.mag(i) >>> p) & 1

    def spp(p: Int): Unit = stripes { (x, y) =>
      val i = y * w + x
      if (!st.sigma(i) && st.anySigNeighbor(x, y)) {
        val (hh, vv, dd) = st.hvd(x, y)
        val b = bitOf(i, p)
        enc.encode(ctx, zcContext(band, hh, vv, dd), b)
        if (b == 1) { st.sigma(i) = true; encSign(x, y, i) }
        st.pi(i) = true
      }
    }

    def mrp(p: Int): Unit = stripes { (x, y) =>
      val i = y * w + x
      if (st.sigma(i) && !st.pi(i)) {
        enc.encode(ctx, mrCtx(st, x, y, i), bitOf(i, p))
        st.refined(i) = true
      }
    }

    def cup(p: Int): Unit = {
      var y0 = 0
      while (y0 < h) {
        val sh = math.min(4, h - y0)
        var x = 0
        while (x < w) {
          var y = 0
          // run-length mode: full 4-high column, all four uncoded,
          // insignificant, and neighbour-free
          val rl = sh == 4 && (0 until 4).forall { dy =>
            val i = (y0 + dy) * w + x
            !st.sigma(i) && !st.pi(i) && !st.anySigNeighbor(x, y0 + dy)
          }
          if (rl) {
            val first = (0 until 4).indexWhere(dy => bitOf((y0 + dy) * w + x, p) == 1)
            if (first < 0) { enc.encode(ctx, CtxRlc, 0); y = 4 }
            else {
              enc.encode(ctx, CtxRlc, 1)
              enc.encode(ctx, CtxUni, (first >>> 1) & 1)
              enc.encode(ctx, CtxUni, first & 1)
              val i = (y0 + first) * w + x
              st.sigma(i) = true
              encSign(x, y0 + first, i)
              y = first + 1
            }
          }
          while (y < sh) {
            val i = (y0 + y) * w + x
            if (!st.sigma(i) && !st.pi(i)) {
              val (hh, vv, dd) = st.hvd(x, y0 + y)
              val b = bitOf(i, p)
              enc.encode(ctx, zcContext(band, hh, vv, dd), b)
              if (b == 1) { st.sigma(i) = true; encSign(x, y0 + y, i) }
            }
            y += 1
          }
          x += 1
        }
        y0 += 4
      }
      java.util.Arrays.fill(st.pi, false)
    }

    def encSign(x: Int, y: Int, i: Int): Unit = {
      val (c, xor) = st.scOf(x, y)
      enc.encode(ctx, c, (if (st.neg(i)) 1 else 0) ^ xor)
    }

    def stripes(f: (Int, Int) => Unit): Unit = {
      var y0 = 0
      while (y0 < h) {
        var x = 0
        while (x < w) {
          var y = y0
          val yEnd = math.min(y0 + 4, h)
          while (y < yEnd) { f(x, y); y += 1 }
          x += 1
        }
        y0 += 4
      }
    }

    var p = numbps - 1
    cup(p); passes += 1
    p -= 1
    while (p >= 0) {
      spp(p); passes += 1
      mrp(p); passes += 1
      cup(p); passes += 1
      p -= 1
    }
    (enc.finish(), numbps, passes)
  }

  private def mrCtx(st: BlockState, x: Int, y: Int, i: Int): Int =
    if (st.refined(i)) 16 else if (st.anySigNeighbor(x, y)) 15 else 14

  /** Decode `passes` coding passes of a code-block; returns signed coeffs. */
  private[graft] def t1Decode(band: Int, w: Int, h: Int, numbps: Int, passes: Int,
                       data: Array[Byte]): Array[Int] = {
    val st = new BlockState(w, h)
    if (numbps <= 0 || passes <= 0) return new Array[Int](w * h)
    val dec = new Jbig2.MqDecoder(data)
    val ctx = freshContexts()

    def decSign(x: Int, y: Int, i: Int): Unit = {
      val (c, xor) = st.scOf(x, y)
      st.neg(i) = (dec.decode(ctx, c) ^ xor) == 1
    }

    def stripes(f: (Int, Int) => Unit): Unit = {
      var y0 = 0
      while (y0 < h) {
        var x = 0
        while (x < w) {
          var y = y0
          val yEnd = math.min(y0 + 4, h)
          while (y < yEnd) { f(x, y); y += 1 }
          x += 1
        }
        y0 += 4
      }
    }

    def spp(p: Int): Unit = stripes { (x, y) =>
      val i = y * w + x
      if (!st.sigma(i) && st.anySigNeighbor(x, y)) {
        val (hh, vv, dd) = st.hvd(x, y)
        if (dec.decode(ctx, zcContext(band, hh, vv, dd)) == 1) {
          st.sigma(i) = true
          decSign(x, y, i)
          st.mag(i) |= 1 << p
        }
        st.pi(i) = true
      }
    }

    def mrp(p: Int): Unit = stripes { (x, y) =>
      val i = y * w + x
      if (st.sigma(i) && !st.pi(i)) {
        val b = dec.decode(ctx, mrCtx(st, x, y, i))
        st.refined(i) = true
        st.mag(i) |= b << p
      }
    }

    def cup(p: Int): Unit = {
      var y0 = 0
      while (y0 < h) {
        val sh = math.min(4, h - y0)
        var x = 0
        while (x < w) {
          var y = 0
          val rl = sh == 4 && (0 until 4).forall { dy =>
            val i = (y0 + dy) * w + x
            !st.sigma(i) && !st.pi(i) && !st.anySigNeighbor(x, y0 + dy)
          }
          if (rl) {
            if (dec.decode(ctx, CtxRlc) == 0) y = 4
            else {
              val first = (dec.decode(ctx, CtxUni) << 1) | dec.decode(ctx, CtxUni)
              val i = (y0 + first) * w + x
              st.sigma(i) = true
              decSign(x, y0 + first, i)
              st.mag(i) |= 1 << p
              y = first + 1
            }
          }
          while (y < sh) {
            val i = (y0 + y) * w + x
            if (!st.sigma(i) && !st.pi(i)) {
              val (hh, vv, dd) = st.hvd(x, y0 + y)
              if (dec.decode(ctx, zcContext(band, hh, vv, dd)) == 1) {
                st.sigma(i) = true
                decSign(x, y0 + y, i)
                st.mag(i) |= 1 << p
              }
            }
            y += 1
          }
          x += 1
        }
        y0 += 4
      }
      java.util.Arrays.fill(st.pi, false)
    }

    var done = 0
    var p = numbps - 1
    def step(f: Int => Unit): Boolean = { if (done < passes) { f(p); done += 1; true } else false }
    step(cup)
    p -= 1
    while (p >= 0 && done < passes) {
      step(spp); step(mrp); step(cup)
      p -= 1
    }
    val out = new Array[Int](w * h)
    var i = 0
    while (i < out.length) { out(i) = if (st.neg(i)) -st.mag(i) else st.mag(i); i += 1 }
    out
  }

  // ---- reversible 5/3 wavelet (T.800 Annex F) -------------------------------

  /** In-place 1-D synthesis on an interleaved signal (even idx = low-pass):
    * even: x[2n] = L - floor((H[-1]+H[+1]+2)/4); odd: x[2n+1] = H +
    * floor((x[-1]+x[+1])/2), symmetric extension at the borders. */
  private[graft] def sr1d(a: Array[Int], off: Int, stride: Int, n: Int): Unit = {
    if (n <= 1) return
    def get(i: Int): Int = {
      val j = if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i
      a(off + j * stride)
    }
    val x = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (i % 2 == 0) x(i) = get(i) - math.floorDiv(get(i - 1) + get(i + 1) + 2, 4)
      i += 2
    }
    def xs(i: Int): Int = { val j = if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i; x(j) }
    i = 1
    while (i < n) {
      x(i) = get(i) + math.floorDiv(xs(i - 1) + xs(i + 1), 2)
      i += 2
    }
    i = 0
    while (i < n) { a(off + i * stride) = x(i); i += 1 }
  }

  /** Forward twin of [[sr1d]] (encoder). */
  private[graft] def sd1d(a: Array[Int], off: Int, stride: Int, n: Int): Unit = {
    if (n <= 1) return
    def get(i: Int): Int = {
      val j = if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i
      a(off + j * stride)
    }
    val y = new Array[Int](n)
    var i = 1
    while (i < n) {
      y(i) = get(i) - math.floorDiv(get(i - 1) + get(i + 1), 2)
      i += 2
    }
    def ys(i: Int): Int = { val j = if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i; y(j) }
    i = 0
    while (i < n) {
      y(i) = get(i) + math.floorDiv(ys(i - 1) + ys(i + 1) + 2, 4)
      i += 2
    }
    i = 0
    while (i < n) { a(off + i * stride) = y(i); i += 1 }
  }

  // ---- geometry helpers -----------------------------------------------------

  private def ceilDiv(a: Int, b: Int) = (a + b - 1) / b
  /** (width, height) of the LL band after `n` decompositions. */
  private def llDims(w: Int, h: Int, n: Int): (Int, Int) = {
    var cw = w; var ch = h; var i = 0
    while (i < n) { cw = ceilDiv(cw, 2); ch = ceilDiv(ch, 2); i += 1 }
    (cw, ch)
  }
  /** Subband dims at decomposition level n (1-based): band 1=HL, 2=LH, 3=HH. */
  private def bandDims(w: Int, h: Int, n: Int, band: Int): (Int, Int) = {
    val (pw, ph) = llDims(w, h, n - 1)
    val lo = (ceilDiv(pw, 2), ceilDiv(ph, 2))
    val hi = (pw / 2, ph / 2)
    band match {
      case 1 => (hi._1, lo._2) // HL: high horizontally
      case 2 => (lo._1, hi._2) // LH
      case _ => (hi._1, hi._2) // HH
    }
  }

  // subband gains for the reversible exponent (E.1.1): LL 0, HL/LH 1, HH 2
  private def bandGain(band: Int): Int = band match {
    case 0 => 0; case 3 => 2; case _ => 1
  }
  private val Guard = 2
  private val Depth = 8

  /** Mb for a subband: exponent (depth + gain) + guard bits - 1. */
  private def mbOf(band: Int): Int = (Depth + bandGain(band)) + Guard - 1

  // ---- packets (Tier-2) -----------------------------------------------------

  private final case class BlockCoded(bytes: Array[Byte], zeroBp: Int, passes: Int)

  private def passCountBitsWrite(bw: BitWriter, n: Int): Unit = {
    // Table B.4
    if (n == 1) bw.bit(0)
    else if (n == 2) { bw.bit(1); bw.bit(0) }
    else if (n <= 5) { bw.bits(3, 2); bw.bits(n - 3, 2) }
    else if (n <= 36) { bw.bits(3, 2); bw.bits(3, 2); bw.bits(n - 6, 5) }
    else { bw.bits(3, 2); bw.bits(3, 2); bw.bits(31, 5); bw.bits(n - 37, 7) }
  }

  private def passCountBitsRead(br: BitReader): Int = {
    if (br.bit() == 0) 1
    else if (br.bit() == 0) 2
    else {
      val v = br.bits(2)
      if (v < 3) 3 + v
      else {
        val v2 = br.bits(5)
        if (v2 < 31) 6 + v2
        else 37 + br.bits(7)
      }
    }
  }

  /** Write one packet: the code-blocks of every subband of one resolution
    * (single layer, single precinct). `subbands` rows are (gridW, gridH,
    * blocks in raster order). */
  private def writePacket(subbands: Seq[(Int, Int, Seq[BlockCoded])]): Array[Byte] = {
    val bw = new BitWriter
    val any = subbands.exists(_._3.exists(_.passes > 0))
    if (!any) { bw.bit(0); return bw.finish() }
    bw.bit(1)
    val bodies = new ArrayBuffer[Array[Byte]]()
    for ((gw, gh, blocks) <- subbands if blocks.nonEmpty) {
      val incl = new TagTree(gw, gh)
      // layer of first inclusion: 0 = this (only) layer, 1 = never included
      incl.build((x, y) => if (blocks(y * gw + x).passes > 0) 0 else 1)
      val zbp = new TagTree(gw, gh)
      zbp.build((x, y) => blocks(y * gw + x).zeroBp)
      for (y <- 0 until gh; x <- 0 until gw) {
        val b = blocks(y * gw + x)
        incl.encode(bw, x, y, 1)
        if (b.passes > 0) {
          zbp.encodeFull(bw, x, y)
          passCountBitsWrite(bw, b.passes)
          // length signalling: Lblock starts at 3, "1"*k + "0" raises it,
          // then the byte count in (Lblock + floor(log2 passes)) bits
          var lblock = 3
          val need = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, b.bytes.length)))
          while (lblock + floorLog2(b.passes) < need) { lblock += 1; bw.bit(1) }
          bw.bit(0)
          bw.bits(b.bytes.length, lblock + floorLog2(b.passes))
          bodies += b.bytes
        }
      }
    }
    bw.finish() ++ bodies.toArray.flatten
  }

  private def floorLog2(n: Int): Int = 31 - Integer.numberOfLeadingZeros(n)

  /** Read one packet; returns per-subband block info and the next position. */
  private def readPacket(data: Array[Byte], pos: Int,
                         grids: Seq[(Int, Int)]): (Seq[Seq[(Int, Int, Int)]], Int) = {
    // result per subband: raster list of (numbps?, passes, length); numbps
    // reported as ZERO BIT PLANES here, converted by the caller via Mb
    val br = new BitReader(data, pos)
    if (br.bit() == 0) {
      val end = br.align()
      return (grids.map { case (gw, gh) => Seq.fill(gw * gh)((0, 0, 0)) }, end)
    }
    val out = new ArrayBuffer[Seq[(Int, Int, Int)]]()
    for ((gw, gh) <- grids) {
      if (gw == 0 || gh == 0) out += Seq.empty
      else {
        val incl = new TagTree(gw, gh)
        val zbp = new TagTree(gw, gh)
        val sub = new ArrayBuffer[(Int, Int, Int)]()
        for (y <- 0 until gh; x <- 0 until gw) {
          val included = incl.decode(br, x, y, 1)
          if (!included) sub += ((0, 0, 0))
          else {
            val zero = zbp.decodeFull(br, x, y)
            val passes = passCountBitsRead(br)
            var lblock = 3
            while (br.bit() == 1) lblock += 1
            val len = br.bits(lblock + floorLog2(passes))
            sub += ((zero, passes, len))
          }
        }
        out += sub.toSeq
      }
    }
    (out.toSeq, br.align())
  }

  // ---- codestream assembly/parse (Annex A) ----------------------------------

  /** `samples` holds `comps` planes back to back (component 0 first). */
  final case class Decoded(width: Int, height: Int, samples: Array[Int],
                           comps: Int = 1)

  /** Encode an 8-bit grayscale image losslessly (raw codestream).
    * `levels` = DWT decomposition count, `cbExp` = code-block size exponent
    * (blocks are 2^cbExp square; 4 → 16×16 exercises multi-block grids and
    * tag trees even on small fixtures). */
  def encode(width: Int, height: Int, samples: Array[Int],
             levels: Int = 2, cbExp: Int = 4): Array[Byte] =
    encodeComps(width, height, Seq(samples), levels, cbExp, rct = false)

  /** Multi-component lossless encode (1-4 planes, no subsampling). With
    * `rct` the reversible colour transform (T.800 G.2) decorrelates the
    * first three components — the form lossless RGB JP2s ship — raising
    * their nominal dynamic by one bit, which the QCD exponents carry. */
  def encodeComps(width: Int, height: Int, comps: Seq[Array[Int]],
                  levels: Int = 2, cbExp: Int = 4,
                  rct: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && comps.nonEmpty && comps.length <= 4)
    comps.foreach(c => require(c.length == width * height))
    require(!rct || comps.length >= 3, "RCT needs three components")
    // DC shift, then the reversible colour transform on components 0-2:
    // Y0 = floor((R + 2G + B)/4), Y1 = B - G, Y2 = R - G
    val shifted = comps.map(_.map(_ - 128))
    val planes: Seq[Array[Int]] =
      if (rct) {
        val r = shifted(0); val g = shifted(1); val b = shifted(2)
        val y0 = new Array[Int](r.length)
        val y1 = new Array[Int](r.length)
        val y2 = new Array[Int](r.length)
        var i = 0
        while (i < r.length) {
          y0(i) = (r(i) + 2 * g(i) + b(i)) >> 2 // arithmetic shift = floor
          y1(i) = b(i) - g(i)
          y2(i) = r(i) - g(i)
          i += 1
        }
        Seq(y0, y1, y2) ++ shifted.drop(3)
      } else shifted
    val extra = if (rct) 1 else 0 // chroma ranges double under RCT
    // forward DWT per plane: rows then columns per level, then COMPACT the
    // interleaved result into the Mallat layout (LL to the top-left) so the
    // next level lifts a contiguous region and subbands read out as rects
    val transformed = planes.map { plane =>
      val a = plane.clone()
      var lvl = 0
      while (lvl < levels) {
        val (cw, ch) = llDims(width, height, lvl)
        var y = 0
        while (y < ch) { sd1d(a, y * width, 1, cw); y += 1 }
        var x = 0
        while (x < cw) { sd1d(a, x, width, ch); x += 1 }
        // de-interleave region (cw, ch): evens→low half, odds→high half
        val tmp = new Array[Int](cw * ch)
        var yy = 0
        while (yy < ch) {
          System.arraycopy(a, yy * width, tmp, yy * cw, cw)
          yy += 1
        }
        val lw = ceilDiv(cw, 2); val lh = ceilDiv(ch, 2)
        yy = 0
        while (yy < ch) {
          val dy = if (yy % 2 == 0) yy / 2 else lh + yy / 2
          var xx = 0
          while (xx < cw) {
            val dx = if (xx % 2 == 0) xx / 2 else lw + xx / 2
            a(dy * width + dx) = tmp(yy * cw + xx)
            xx += 1
          }
          yy += 1
        }
        lvl += 1
      }
      a
    }
    /** Read subband rect from a Mallat-layout plane. band 0 = final LL. */
    def gather(a: Array[Int], n: Int, band: Int): Array[Int] = {
      val (bw0, bh0) =
        if (band == 0) llDims(width, height, levels) else bandDims(width, height, n, band)
      val (lw, lh) = llDims(width, height, n)
      val (ox, oy) = band match {
        case 0 => (0, 0); case 1 => (lw, 0); case 2 => (0, lh); case _ => (lw, lh)
      }
      val out = new Array[Int](bw0 * bh0)
      var yy = 0
      while (yy < bh0) {
        System.arraycopy(a, (oy + yy) * width + ox, out, yy * bw0, bw0)
        yy += 1
      }
      out
    }
    // subbands per resolution: r=0 → LL(levels); r>0 → HL/LH/HH at level
    // n = levels - r + 1
    val out = new java.io.ByteArrayOutputStream()
    def wbytes(b: Array[Byte]): Unit = out.write(b)
    wbytes(Array(0xff.toByte, 0x4f.toByte)) // SOC
    // SIZ: one (Ssiz, XRsiz, YRsiz) triple per component, no subsampling
    val siz = be(2)(0) ++ be(4)(width, height, 0, 0, width, height, 0, 0) ++
      be(2)(planes.length) ++
      planes.flatMap(_ => Seq((Depth - 1).toByte, 1.toByte, 1.toByte))
    wbytes(Array(0xff.toByte, 0x51.toByte) ++ be(2)(siz.length + 2) ++ siz)
    // COD: Scod 0, LRCP(0), layers 1, MCT per rct; SPcod: NL, cb sizes,
    // style 0, 5/3
    val cod = Array(0.toByte) ++ Array(0.toByte) ++ be(2)(1) ++
      Array((if (rct) 1 else 0).toByte) ++
      Array(levels.toByte, (cbExp - 2).toByte, (cbExp - 2).toByte, 0.toByte, 1.toByte)
    wbytes(Array(0xff.toByte, 0x52.toByte) ++ be(2)(cod.length + 2) ++ cod)
    // QCD: style 0 (no quantization), guard bits; one exponent per subband,
    // shared by every component (the RCT bit rides on all of them)
    val nb = 3 * levels + 1
    val spqcd = new Array[Byte](nb)
    spqcd(0) = ((Depth + extra + bandGain(0)) << 3).toByte
    for (r <- 1 to levels; b <- 1 to 3)
      spqcd(1 + (r - 1) * 3 + (b - 1)) = ((Depth + extra + bandGain(b)) << 3).toByte
    val qcd = Array(((Guard << 5) | 0).toByte) ++ spqcd
    wbytes(Array(0xff.toByte, 0x5c.toByte) ++ be(2)(qcd.length + 2) ++ qcd)
    // tile: packets LRCP — for each resolution, one packet per component
    val body = new java.io.ByteArrayOutputStream()
    for (r <- 0 to levels; a <- transformed) {
      val bands: Seq[(Int, Array[Int], Int, Int)] =
        if (r == 0) {
          val (w0, h0) = llDims(width, height, levels)
          Seq((0, gather(a, levels, 0), w0, h0))
        } else {
          val n = levels - r + 1
          (1 to 3).map { b =>
            val (bw0, bh0) = bandDims(width, height, n, b)
            (b, gather(a, n, b), bw0, bh0)
          }
        }
      val subbandBlocks = bands.map { case (band, data, bw0, bh0) =>
        if (bw0 == 0 || bh0 == 0) (0, 0, Seq.empty[BlockCoded])
        else {
          val cb = 1 << cbExp
          val gw = ceilDiv(bw0, cb); val gh = ceilDiv(bh0, cb)
          val blocks = for (by <- 0 until gh; bx <- 0 until gw) yield {
            val x0 = bx * cb; val y0 = by * cb
            val w0 = math.min(cb, bw0 - x0); val h0 = math.min(cb, bh0 - y0)
            val c = new Array[Int](w0 * h0)
            var yy = 0
            while (yy < h0) {
              System.arraycopy(data, (y0 + yy) * bw0 + x0, c, yy * w0, w0)
              yy += 1
            }
            val (bytes, numbps, passes) = t1Encode(band, w0, h0, c)
            val mb = mbOf(band) + extra
            require(numbps <= mb, s"numbps $numbps exceeds Mb $mb")
            // BlockCoded.numbps carries the ZERO-BIT-PLANE count for the
            // packet header (Mb - numbps)
            BlockCoded(bytes, if (passes > 0) mb - numbps else 0, passes)
          }
          (gw, gh, blocks)
        }
      }
      body.write(writePacket(subbandBlocks))
    }
    val bodyBytes = body.toByteArray
    val sot = be(2)(0) ++ be(4)(12 + bodyBytes.length) ++ Array(0.toByte, 1.toByte)
    wbytes(Array(0xff.toByte, 0x90.toByte) ++ be(2)(10) ++ sot)
    wbytes(Array(0xff.toByte, 0x93.toByte)) // SOD
    wbytes(bodyBytes)
    wbytes(Array(0xff.toByte, 0xd9.toByte)) // EOC
    out.toByteArray
  }

  /** Decode a raw codestream or a JP2 box container. None for anything
    * outside the supported subset or a malformed stream. */
  def decode(data: Array[Byte]): Option[Decoded] = {
    try decodeImpl(unbox(data)) catch { case _: Exception => None }
  }

  /** JP2 container: the jp2c box's payload; raw codestreams pass through. */
  private def unbox(data: Array[Byte]): Array[Byte] =
    if (data.length >= 2 && (data(0) & 0xff) == 0xff && (data(1) & 0xff) == 0x4f) data
    else Bytes.boxes(Bytes.view(data)).find(_.typ == "jp2c")
      .fold(Array.emptyByteArray)(_.body.toArray)

  private def decodeImpl(cs: Array[Byte]): Option[Decoded] = {
    if (cs.length < 4 || (cs(0) & 0xff) != 0xff || (cs(1) & 0xff) != 0x4f) return None
    val v = Bytes.view(cs)
    var i = 2
    var width = 0; var height = 0; var levels = -1; var cbExp = -1
    var nComps = 0; var mct = 0
    var guard = Guard
    var exps: Array[Int] = null
    var sodAt = -1
    while (i + 2 <= cs.length && sodAt < 0) {
      if (v.u8(i) != 0xff) return None
      val m = v.u8(i + 1)
      m match {
        case 0x93 => sodAt = i + 2 // SOD
        case 0xd9 => return None   // EOC before SOD
        case _ =>
          val l = v.u16(i + 2)
          // the marker segment from its length field on: a field past its
          // length `l` fails closed instead of reading the next marker
          val seg = v.slice(i + 2, l)
          m match {
            case 0x51 => // SIZ
              width = seg.u32(4).toInt; height = seg.u32(8).toInt
              val xo = seg.u32(12); val yo = seg.u32(16)
              val xt = seg.u32(20).toInt; val yt = seg.u32(24).toInt
              val xto = seg.u32(28); val yto = seg.u32(32)
              val nc = seg.u16(36)
              if (xo != 0 || yo != 0 || xto != 0 || yto != 0 ||
                  xt < width || yt < height) return None // single whole-image tile only
              if (nc < 1 || nc > 4) return None
              var c = 0
              while (c < nc) { // 8-bit unsigned, no subsampling, per component
                if (seg.u8(38 + 3 * c) != Depth - 1 || seg.u8(39 + 3 * c) != 1 ||
                    seg.u8(40 + 3 * c) != 1) return None
                c += 1
              }
              nComps = nc
            case 0x52 => // COD
              val scod = seg.u8(2)
              val prog = seg.u8(3)
              val layers = seg.u16(4)
              mct = seg.u8(6)
              levels = seg.u8(7)
              cbExp = (seg.u8(8) & 0x0f) + 2
              val cbh = (seg.u8(9) & 0x0f) + 2
              val style = seg.u8(10)
              val transform = seg.u8(11)
              if (scod != 0 || prog != 0 || layers != 1 || mct > 1 ||
                  cbh != cbExp || style != 0 || transform != 1) return None
            case 0x5c => // QCD: style 0 (reversible, no quantization) only;
              // Mb per subband = exponent + guard bits - 1 (E.1.1)
              if ((seg.u8(2) & 0x1f) != 0) return None
              guard = seg.u8(2) >> 5
              exps = (0 until l - 3).map(j => seg.u8(3 + j) >> 3).toArray
            case 0x90 => // SOT: exactly one tile-part of tile 0 — a second
              // tile-part would follow the packets and be consumed as
              // packet data, so TNsot must say 1
              if (seg.u16(2) != 0 || seg.u8(8) != 0 || seg.u8(9) != 1) return None
            case _ => () // COM etc: skip
          }
          i += 2 + l
      }
    }
    if (sodAt < 0 || width <= 0 || height <= 0 || levels < 0 || nComps < 1) return None
    if (mct == 1 && nComps < 3) return None
    if (width.toLong * height * nComps > 64L * 1024 * 1024) return None

    // packets, LRCP with one layer: resolution outer, component inner
    var pos = sodAt
    val cb = 1 << cbExp
    // accumulate subband coefficient planes per (component, band, level)
    val subbandData = new scala.collection.mutable.HashMap[(Int, Int, Int), Array[Int]]()
    for (r <- 0 to levels; comp <- 0 until nComps) {
      val bands: Seq[(Int, Int, Int, Int)] = // (bandKind, n, w, h)
        if (r == 0) {
          val (w0, h0) = llDims(width, height, levels)
          Seq((0, levels, w0, h0))
        } else {
          val n = levels - r + 1
          (1 to 3).map { b => val (w0, h0) = bandDims(width, height, n, b); (b, n, w0, h0) }
        }
      val grids = bands.map { case (_, _, w0, h0) =>
        if (w0 == 0 || h0 == 0) (0, 0) else (ceilDiv(w0, cb), ceilDiv(h0, cb))
      }
      val (info, next) = readPacket(cs, pos, grids)
      pos = next
      for (((band, n, bw0, bh0), blockInfo) <- bands.zip(info)) {
        val coeffs = new Array[Int](bw0 * bh0)
        val gw = if (bw0 == 0 || bh0 == 0) 0 else ceilDiv(bw0, cb)
        var bi = 0
        for ((zero, passes, len) <- blockInfo) {
          val bx = bi % math.max(gw, 1); val by = bi / math.max(gw, 1)
          val x0 = bx * cb; val y0 = by * cb
          val w0 = math.min(cb, bw0 - x0); val h0 = math.min(cb, bh0 - y0)
          if (passes > 0 && w0 > 0 && h0 > 0) {
            val expIdx = if (band == 0) 0 else 1 + (r - 1) * 3 + (band - 1)
            val mb =
              if (exps != null && expIdx < exps.length) exps(expIdx) + guard - 1
              else mbOf(band)
            val numbps = mb - zero
            // 28+ magnitude bit-planes cannot arise from 8-bit reversible
            // data and would overflow the Int magnitude accumulator —
            // refuse rather than wrap (1 << p is mod-32 in JVM)
            if (numbps < 0 || numbps > 28) return None
            val blockBytes = v.bytes(pos, len)
            val dec = t1Decode(band, w0, h0, numbps, passes, blockBytes)
            var yy = 0
            while (yy < h0) {
              System.arraycopy(dec, yy * w0, coeffs, (y0 + yy) * bw0 + x0, w0)
              yy += 1
            }
          }
          pos += len
          bi += 1
        }
        subbandData((comp, band, n)) = coeffs
      }
    }

    // inverse DWT per component: rebuild the LL chain coarse→fine,
    // interleaving + synthesis
    val planes = (0 until nComps).map { comp =>
      var (llW, llH) = llDims(width, height, levels)
      var ll = subbandData.getOrElse((comp, 0, levels), new Array[Int](llW * llH))
      var n = levels
      while (n >= 1) {
        val (pw, ph) = llDims(width, height, n - 1)
        val hl = subbandData((comp, 1, n)); val lh = subbandData((comp, 2, n))
        val hh = subbandData((comp, 3, n))
        val (hlW, _) = bandDims(width, height, n, 1)
        val (lhW, _) = bandDims(width, height, n, 2)
        val (hhW, _) = bandDims(width, height, n, 3)
        val plane = new Array[Int](pw * ph)
        var y = 0
        while (y < ph) {
          var x = 0
          while (x < pw) {
            val v =
              if (y % 2 == 0 && x % 2 == 0) ll((y / 2) * llW + (x / 2))
              else if (y % 2 == 0) { if (hlW > 0) hl((y / 2) * hlW + (x / 2)) else 0 }
              else if (x % 2 == 0) { if (lhW > 0) lh((y / 2) * lhW + (x / 2)) else 0 }
              else { if (hhW > 0) hh((y / 2) * hhW + (x / 2)) else 0 }
            plane(y * pw + x) = v
            x += 1
          }
          y += 1
        }
        // synthesis: columns first, then rows (mirror of the forward order)
        var x = 0
        while (x < pw) { sr1d(plane, x, pw, ph); x += 1 }
        y = 0
        while (y < ph) { sr1d(plane, y * pw, 1, pw); y += 1 }
        ll = plane; llW = pw; llH = ph
        n -= 1
      }
      ll
    }
    // inverse RCT (T.800 G.2): G = Y0 - floor((Y1 + Y2)/4), R = Y2 + G,
    // B = Y1 + G — exact inverse of the forward integer transform
    if (mct == 1) {
      val y0 = planes(0); val y1 = planes(1); val y2 = planes(2)
      var k = 0
      while (k < y0.length) {
        val g = y0(k) - ((y1(k) + y2(k)) >> 2)
        val r = y2(k) + g
        val b = y1(k) + g
        y0(k) = r; y1(k) = g; y2(k) = b
        k += 1
      }
    }
    val out = new Array[Int](width * height * nComps)
    var c = 0
    while (c < nComps) {
      val p = planes(c)
      var k = 0
      while (k < p.length) {
        out(c * width * height + k) = math.max(0, math.min(255, p(k) + 128))
        k += 1
      }
      c += 1
    }
    Some(Decoded(width, height, out, nComps))
  }
}
