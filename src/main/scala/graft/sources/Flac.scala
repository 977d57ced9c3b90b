package graft.sources

import scala.collection.mutable.ArrayBuffer

/** FLAC (Free Lossless Audio Codec; RFC 9639 / the xiph.org format spec) —
  * the lossless audio container a multimodal training corpus actually
  * carries next to WAV (the reference pipes audio blobs to ffmpeg;
  * processors/pdf/processor.py-style media handling is format-opaque).
  * Everything here is the published algorithm set, all of it ALGORITHMIC —
  * Rice/Exp-Golomb-style residual codes, the five fixed polynomial
  * predictors, quantized-LPC synthesis, UTF-8-style frame numbers, CRC-8
  * (poly 0x07) and CRC-16 (poly 0x8005) — so unlike Huffman-table codecs
  * (MP3, H.264 CAVLC) the whole decoder is verifiable from first
  * principles in-sandbox: the encoder twin generates the corpus forward
  * and losslessness makes decoded samples bit-exact.
  *
  * Decoder scope: native FLAC streams, 1-8 independent channels at 4-32 bit
  * samples or the three stereo decorrelations (left/side, right/side,
  * mid/side) at 4-31 bit samples, CONSTANT / VERBATIM / FIXED 0-4 / LPC
  * subframes, both Rice methods incl. the escape-to-raw partition form,
  * wasted bits. A decorrelated side channel carries one bit more than the
  * samples, and a 33-bit subframe does not fit the Int sample storage, so a
  * 32-bit decorrelated frame is refused. Out of scope (None, never a guess):
  * Ogg-encapsulated FLAC, variable-blocksize strategy streams. CRC
  * mismatches fail the frame rather than emitting wrong audio.
  */
object Flac {

  // ---- bit I/O (MSB first) ---------------------------------------------------

  final class BitReader(data: Array[Byte], var bytePos: Int = 0) {
    private var bitPos = 0
    def bit(): Int = {
      if (bytePos >= data.length) throw new IllegalStateException("EOF")
      val b = (data(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      b
    }
    def bits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def sbits(n: Int): Int = {
      val v = bits(n)
      // sign-extend an n-bit two's-complement value
      if (n == 0) 0 else ((v << (64 - n)) >> (64 - n)).toInt
    }
    def unary(): Int = { var n = 0; while (bit() == 0) n += 1; n }
    def aligned: Boolean = bitPos == 0
    def alignToByte(): Unit = if (bitPos != 0) { bitPos = 0; bytePos += 1 }
  }

  final class BitWriter {
    private val out = new ArrayBuffer[Byte]()
    private var cur = 0
    private var nbits = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nbits += 1
      if (nbits == 8) { out += cur.toByte; cur = 0; nbits = 0 }
    }
    def bits(v: Long, n: Int): Unit = { var i = n - 1; while (i >= 0) { bit(((v >> i) & 1L).toInt); i -= 1 } }
    def unary(n: Int): Unit = { var i = 0; while (i < n) { bit(0); i += 1 }; bit(1) }
    def padToByte(): Unit = while (nbits != 0) bit(0)
    def finish(): Array[Byte] = { padToByte(); out.toArray }
  }

  // ---- CRCs (frame header CRC-8 poly 0x07; whole-frame CRC-16 poly 0x8005) ---

  private[sources] def crc8(b: Array[Byte], from: Int, to: Int): Int = {
    var crc = 0
    var i = from
    while (i < to) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; k += 1 }
      i += 1
    }
    crc
  }

  private[sources] def crc16(b: Array[Byte], from: Int, to: Int): Int = {
    var crc = 0
    var i = from
    while (i < to) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; k += 1 }
      i += 1
    }
    crc
  }

  // ---- UTF-8-style coded number (frame header; extends to 36 bits) -----------

  private def writeUtf8Number(out: ArrayBuffer[Byte], v0: Long): Unit = {
    require(v0 >= 0)
    if (v0 < 0x80) { out += v0.toByte; return }
    // count payload bits → number of continuation bytes
    var bytes = 1
    while (bytes < 6 && v0 >= (1L << (6 * bytes + (6 - bytes)))) bytes += 1
    val lead = (0xFF << (7 - bytes)) & 0xFF
    out += (lead | (v0 >> (6 * bytes)).toInt).toByte
    var k = bytes - 1
    while (k >= 0) { out += (0x80 | ((v0 >> (6 * k)) & 0x3f).toInt).toByte; k -= 1 }
  }

  private def readUtf8Number(b: Array[Byte], at: Int): Option[(Long, Int)] = {
    if (at >= b.length) return None
    val first = b(at) & 0xff
    if ((first & 0x80) == 0) return Some((first.toLong, at + 1))
    var cont = 0
    var mask = 0x40
    while ((first & mask) != 0 && cont < 7) { cont += 1; mask >>= 1 }
    if (cont < 1 || at + 1 + cont > b.length) return None
    var v = (first & (mask - 1)).toLong
    var k = 0
    while (k < cont) {
      val c = b(at + 1 + k) & 0xff
      if ((c & 0xc0) != 0x80) return None
      v = (v << 6) | (c & 0x3f)
      k += 1
    }
    Some((v, at + 1 + cont))
  }

  // ---- decoded stream ---------------------------------------------------------

  /** `channels(c)(i)` is channel c's i-th PCM sample, already
    * un-decorrelated. */
  final case class Decoded(sampleRate: Int, bitsPerSample: Int,
                           channels: Array[Array[Int]]) {
    def numSamples: Int = if (channels.isEmpty) 0 else channels(0).length
  }

  // ---- frame-level tables ------------------------------------------------------

  /** Block-size code → size; 0 = reserved, 6/7 read 8/16 bits from the
    * header. */
  private def blockSizeOf(code: Int, br: BitReader): Option[Int] = code match {
    case 0 => None
    case 1 => Some(192)
    case c if c <= 5 => Some(576 << (c - 2))
    case 6 => Some(br.bits(8).toInt + 1)
    case 7 => Some(br.bits(16).toInt + 1)
    case c => Some(256 << (c - 8))
  }

  /** Sample-rate code → Hz (0 defers to STREAMINFO; 12-14 read trailing
    * fields; 15 invalid). Only metadata — sample decode never depends on
    * it. */
  private def sampleRateOf(code: Int, streamInfo: Int, br: BitReader): Option[Int] = code match {
    case 0 => Some(streamInfo)
    case 1 => Some(88200)
    case 2 => Some(176400)
    case 3 => Some(192000)
    case 4 => Some(8000)
    case 5 => Some(16000)
    case 6 => Some(22050)
    case 7 => Some(24000)
    case 8 => Some(32000)
    case 9 => Some(44100)
    case 10 => Some(48000)
    case 11 => Some(96000)
    case 12 => Some(br.bits(8).toInt * 1000)
    case 13 => Some(br.bits(16).toInt)
    case 14 => Some(br.bits(16).toInt * 10)
    case _ => None
  }

  private def sampleSizeOf(code: Int, streamInfo: Int): Option[Int] = code match {
    case 0 => Some(streamInfo)
    case 1 => Some(8)
    case 2 => Some(12)
    case 3 => None // reserved
    case 4 => Some(16)
    case 5 => Some(20)
    case 6 => Some(24)
    case 7 => Some(32)
  }

  /** FIXED predictor of `order` at position i over `s` (spec §9.2.1). */
  private def fixedPredict(s: Array[Int], i: Int, order: Int): Long = order match {
    case 0 => 0L
    case 1 => s(i - 1).toLong
    case 2 => 2L * s(i - 1) - s(i - 2)
    case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
    case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
  }

  private def zigzag(v: Long): Long = if (v >= 0) 2 * v else -2 * v - 1
  private def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1)

  // ---- subframe decode ---------------------------------------------------------

  /** Decode one subframe of `n` samples at `bps` bits into `out`. */
  private def readSubframe(br: BitReader, n: Int, bps: Int): Option[Array[Int]] = {
    if (br.bit() != 0) return None // mandatory zero pad bit
    val typ = br.bits(6).toInt
    val wasted = if (br.bit() == 1) br.unary() + 1 else 0
    val effBps = bps - wasted
    if (effBps <= 0 || effBps > 32) return None // Int sample storage
    val out = new Array[Int](n)
    val ok: Boolean = typ match {
      case 0 => // CONSTANT
        val v = br.sbits(effBps)
        java.util.Arrays.fill(out, v); true
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { out(i) = br.sbits(effBps); i += 1 }
        true
      case t if t >= 8 && t <= 12 => // FIXED order 0-4
        val order = t - 8
        if (order > n) return None
        var i = 0
        while (i < order) { out(i) = br.sbits(effBps); i += 1 }
        readResidual(br, n, order) match {
          case None => false
          case Some(res) =>
            var k = order
            while (k < n) {
              val v = fixedPredict(out, k, order) + res(k - order)
              if (v < Int.MinValue || v > Int.MaxValue) return None
              out(k) = v.toInt
              k += 1
            }
            true
        }
      case t if t >= 32 => // LPC, order = type - 31
        val order = t - 31
        if (order > n) return None
        var i = 0
        while (i < order) { out(i) = br.sbits(effBps); i += 1 }
        val precision = br.bits(4).toInt + 1
        if (precision == 16) return None // 0b1111 is invalid per spec
        val shift = br.sbits(5)
        if (shift < 0) return None
        val coefs = Array.fill(order)(br.sbits(precision))
        readResidual(br, n, order) match {
          case None => false
          case Some(res) =>
            var k = order
            while (k < n) {
              var acc = 0L
              var j = 0
              while (j < order) { acc += coefs(j).toLong * out(k - 1 - j); j += 1 }
              val v = (acc >> shift) + res(k - order)
              if (v < Int.MinValue || v > Int.MaxValue) return None
              out(k) = v.toInt
              k += 1
            }
            true
        }
      case _ => false // reserved types
    }
    if (!ok) return None
    if (wasted > 0) { var i = 0; while (i < n) { out(i) = out(i) << wasted; i += 1 } }
    Some(out)
  }

  /** Rice-coded residual: 2-bit method (4- or 5-bit parameters), 4-bit
    * partition order, per-partition parameter with escape-to-raw. */
  private def readResidual(br: BitReader, blockSize: Int, predOrder: Int): Option[Array[Long]] = {
    val method = br.bits(2).toInt
    if (method > 1) return None
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = br.bits(4).toInt
    val parts = 1 << partOrder
    if (blockSize % parts != 0) return None
    val partLen = blockSize >> partOrder
    val out = new Array[Long](blockSize - predOrder)
    var idx = 0
    var p = 0
    while (p < parts) {
      val count = if (p == 0) partLen - predOrder else partLen
      if (count < 0) return None
      val param = br.bits(paramBits).toInt
      if (param == escape) {
        val raw = br.bits(5).toInt
        var i = 0
        while (i < count) {
          out(idx) = if (raw == 0) 0L else ((br.bits(raw) << (64 - raw)) >> (64 - raw))
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < count) {
          val q = br.unary().toLong
          val u = (q << param) | br.bits(param)
          out(idx) = unzigzag(u)
          idx += 1; i += 1
        }
      }
      p += 1
    }
    Some(out)
  }

  // ---- stream decode -----------------------------------------------------------

  /** Decode a native FLAC stream. None for anything outside the supported
    * subset, a malformed stream, or any CRC mismatch. */
  def decode(data: Array[Byte]): Option[Decoded] = {
    try decodeImpl(data) catch { case _: Exception => None }
  }

  private def decodeImpl(data: Array[Byte]): Option[Decoded] = {
    if (data.length < 42 || data(0) != 'f' || data(1) != 'L' ||
        data(2) != 'a' || data(3) != 'C') return None
    val v = Bytes.view(data)
    var p = 4
    var siRate = 0; var siChannels = 0; var siBps = 0; var siTotal = 0L
    var sawStreamInfo = false
    var last = false
    while (!last) {
      // metadata block: last flag + type (1), 24-bit length, then the body
      val hdr = v.u8(p)
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val block = v.slice(p + 4, v.uint(p + 1, 3).toInt)
      if (typ == 0) { // STREAMINFO
        if (block.length < 34) return None
        val br = new BitReader(data, block.from)
        br.bits(16); br.bits(16) // min/max block size
        br.bits(24); br.bits(24) // min/max frame size
        siRate = br.bits(20).toInt
        siChannels = br.bits(3).toInt + 1
        siBps = br.bits(5).toInt + 1
        siTotal = br.bits(36)
      } else if (typ == 127) return None // invalid
      sawStreamInfo |= typ == 0
      p = block.to
    }
    if (!sawStreamInfo || siChannels < 1 || siChannels > 8 || siBps < 4) return None
    if (siTotal > 64L * 1024 * 1024) return None

    val chans = Array.fill(siChannels)(new ArrayBuffer[Int]())
    var expectFrame = 0L
    while (p < data.length) {
      val frameStart = p
      val br = new BitReader(data, p)
      if (br.bits(14) != 0x3FFE) return None // sync
      if (br.bit() != 0) return None
      val variable = br.bit() == 1
      if (variable) return None // variable-blocksize strategy: out of scope
      val bsCode = br.bits(4).toInt
      val srCode = br.bits(4).toInt
      val chCode = br.bits(4).toInt
      val ssCode = br.bits(3).toInt
      if (br.bit() != 0) return None
      // coded frame number sits between the fixed fields and the optional
      // blocksize/samplerate tails — read it byte-aligned
      if (!br.aligned) return None
      val (frameNo, afterNum) = readUtf8Number(data, br.bytePos).getOrElse(return None)
      if (frameNo != expectFrame) return None
      expectFrame += 1
      val br2 = new BitReader(data, afterNum)
      val blockSize = blockSizeOf(bsCode, br2).getOrElse(return None)
      sampleRateOf(srCode, siRate, br2).getOrElse(return None) // advances the 12-14 tails
      val bps = sampleSizeOf(ssCode, siBps).getOrElse(return None)
      if (bps != siBps) return None
      val headerEnd = br2.bytePos
      if (crc8(data, frameStart, headerEnd) != v.u8(headerEnd)) return None
      val body = new BitReader(data, headerEnd + 1)
      // channel assignment: 0-7 independent; 8 L/S, 9 R/S, 10 M/S — the
      // SIDE channel carries one extra bit
      val nCh = if (chCode < 8) chCode + 1 else 2
      if (nCh != siChannels) return None
      if (chCode > 10) return None
      val subs = new Array[Array[Int]](nCh)
      var c = 0
      while (c < nCh) {
        val chBps = bps + (chCode match {
          case 8 => if (c == 1) 1 else 0
          case 9 => if (c == 0) 1 else 0
          case 10 => if (c == 1) 1 else 0
          case _ => 0
        })
        subs(c) = readSubframe(body, blockSize, chBps).getOrElse(return None)
        c += 1
      }
      body.alignToByte()
      val frameEnd = body.bytePos
      if (crc16(data, frameStart, frameEnd) != v.u16(frameEnd)) return None
      // un-decorrelate
      chCode match {
        case 8 => // left/side: R = L - side
          var i = 0
          while (i < blockSize) { chans(0) += subs(0)(i); chans(1) += subs(0)(i) - subs(1)(i); i += 1 }
        case 9 => // right/side: L = R + side
          var i = 0
          while (i < blockSize) { chans(0) += subs(1)(i) + subs(0)(i); chans(1) += subs(1)(i); i += 1 }
        case 10 => // mid/side: mid = (L+R)>>1 dropped side's parity bit —
          // restore it (L+R and L-R share parity), then half-sum/half-diff
          var i = 0
          while (i < blockSize) {
            val mid = subs(0)(i); val side = subs(1)(i)
            val left = ((mid << 1) + (side & 1) + side) >> 1
            val right = left - side
            chans(0) += left; chans(1) += right
            i += 1
          }
        case _ =>
          var c2 = 0
          while (c2 < nCh) { var i = 0; while (i < blockSize) { chans(c2) += subs(c2)(i); i += 1 }; c2 += 1 }
      }
      p = frameEnd + 2
      if (siTotal > 0 && chans(0).length >= siTotal) {
        // trailing bytes after the last frame are not part of the stream
        if (chans(0).length > siTotal) return None
        return Some(Decoded(siRate, siBps, chans.map(_.toArray)))
      }
    }
    if (siTotal > 0 && chans(0).length != siTotal) return None
    Some(Decoded(siRate, siBps, chans.map(_.toArray)))
  }

  // ---- encoder (forward direction for the test corpus) -------------------------

  /** Encode PCM losslessly. `fixedOrder` picks the FIXED predictor (0-4,
    * capped by block fill); `midSide` decorrelates stereo; blocks of
    * `blockSize` force multi-frame streams on small fixtures. CONSTANT
    * subframes are emitted for flat blocks automatically. */
  def encode(sampleRate: Int, bitsPerSample: Int, channels: Seq[Array[Int]],
             blockSize: Int = 4096, fixedOrder: Int = 2,
             midSide: Boolean = false): Array[Byte] = {
    require(channels.nonEmpty && channels.length <= 8)
    require(channels.forall(_.length == channels.head.length))
    require(bitsPerSample >= 4 && bitsPerSample <= 24)
    require(fixedOrder >= 0 && fixedOrder <= 4)
    val n = channels.head.length
    require(n > 0)
    val ms = midSide && channels.length == 2
    val out = new ArrayBuffer[Byte]()
    out ++= "fLaC".getBytes("US-ASCII")
    // STREAMINFO as the single (last) metadata block; md5 0 = unsignalled.
    // min/max blocksize exclude the (possibly short) last frame unless it
    // is the only one
    val bsStated = math.min(blockSize, n)
    val si = new BitWriter
    si.bits(bsStated.toLong, 16); si.bits(bsStated.toLong, 16)
    si.bits(0, 24); si.bits(0, 24)
    si.bits(sampleRate.toLong, 20)
    si.bits((channels.length - 1).toLong, 3)
    si.bits((bitsPerSample - 1).toLong, 5)
    si.bits(n.toLong, 36)
    val siBytes = si.finish() ++ new Array[Byte](16)
    out += 0x80.toByte // last block, type 0
    out ++= Bytes.be(3)(siBytes.length)
    out ++= siBytes
    var pos = 0
    var frameNo = 0L
    while (pos < n) {
      val bs = math.min(blockSize, n - pos)
      val frame = new ArrayBuffer[Byte]()
      val hw = new BitWriter
      hw.bits(0x3FFE, 14); hw.bit(0); hw.bit(0) // sync, reserved, fixed-blocksize
      hw.bits(7, 4) // blocksize: 16-bit field follows
      hw.bits(0, 4) // sample rate: from STREAMINFO
      hw.bits(if (ms) 10L else (channels.length - 1).toLong, 4)
      val ssCode = bitsPerSample match {
        case 8 => 1L; case 12 => 2L; case 16 => 4L; case 20 => 5L; case 24 => 6L
        case _ => 0L // defer to STREAMINFO
      }
      hw.bits(ssCode, 3); hw.bit(0)
      frame ++= hw.finish()
      writeUtf8Number(frame, frameNo)
      val bw0 = new BitWriter
      bw0.bits((bs - 1).toLong, 16)
      frame ++= bw0.finish()
      val hcrc = crc8(frame.toArray, 0, frame.length)
      frame += hcrc.toByte
      // subframes
      val bw = new BitWriter
      val planes: Seq[(Array[Int], Int)] =
        if (ms) {
          val l = channels(0); val r = channels(1)
          val mid = new Array[Int](bs); val side = new Array[Int](bs)
          var i = 0
          while (i < bs) {
            val lv = l(pos + i); val rv = r(pos + i)
            mid(i) = (lv + rv) >> 1
            side(i) = lv - rv
            i += 1
          }
          Seq((mid, bitsPerSample), (side, bitsPerSample + 1))
        } else channels.map(c => (java.util.Arrays.copyOfRange(c, pos, pos + bs), bitsPerSample))
      for ((s, bps) <- planes) writeSubframe(bw, s, bps, fixedOrder)
      frame ++= bw.finish()
      val fcrc = crc16(frame.toArray, 0, frame.length)
      frame ++= Bytes.be(2)(fcrc)
      out ++= frame
      pos += bs
      frameNo += 1
    }
    out.toArray
  }

  private def writeSubframe(bw: BitWriter, s: Array[Int], bps: Int, maxOrder: Int): Unit = {
    val n = s.length
    bw.bit(0)
    if (s.forall(_ == s(0))) { // CONSTANT
      bw.bits(0, 6); bw.bit(0)
      bw.bits(s(0).toLong & ((1L << bps) - 1), bps)
      return
    }
    val order = math.min(maxOrder, n - 1)
    bw.bits((8 + order).toLong, 6) // FIXED
    bw.bit(0) // no wasted bits
    var i = 0
    while (i < order) { bw.bits(s(i).toLong & ((1L << bps) - 1), bps); i += 1 }
    // residuals
    val res = new Array[Long](n - order)
    var k = order
    while (k < n) { res(k - order) = s(k) - fixedPredict(s, k, order); k += 1 }
    // method 0 (4-bit params), partition order 0, param from the mean
    bw.bits(0, 2); bw.bits(0, 4)
    var mean = 0L
    res.foreach(r => mean += zigzag(r))
    mean = if (res.isEmpty) 0 else mean / math.max(1, res.length)
    var param = 0
    while (param < 14 && (mean >> param) > 0) param += 1
    bw.bits(param.toLong, 4)
    res.foreach { r =>
      val u = zigzag(r)
      bw.unary((u >>> param).toInt)
      bw.bits(u & ((1L << param) - 1), param)
    }
  }
}
