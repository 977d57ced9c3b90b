package graft.sources

import scala.collection.mutable.ArrayBuffer

/** WebM / Matroska (EBML; RFC 8794 + the Matroska spec) container METADATA
  * — the other half of web video next to [[Mp4]], and the same honest
  * boundary: the element tree carries codec id, dimensions, duration,
  * timestamp scale, and the per-block frame schedule as pure structure
  * (variable-length integers, big-endian scalars, IEEE floats — all
  * algorithmic), while the VP8/VP9/Opus frame payloads stay opaque (no JVM
  * codec; entropy tables unverifiable in-sandbox), so frame decode falls
  * back while filtering/sampling metadata is exact. The writer emits a
  * minimal valid one-video-track file so the parser's corpus is generated
  * forward.
  *
  * Parsed elements: EBML head (DocType), Segment → Info (TimestampScale,
  * Duration) / Tracks (TrackEntry: TrackType, CodecID, Video PixelWidth/
  * PixelHeight, Audio SamplingFrequency/Channels) / Cluster (Timestamp,
  * SimpleBlock incl. lacing frame counts). Unknown elements skip by size;
  * unknown-size elements other than Segment fail closed.
  */
object Webm {

  final case class Track(trackType: Int, codec: String,
                         width: Int, height: Int,
                         channels: Int, sampleRate: Int,
                         nFrames: Int, frameTsMs: Array[Long])

  final case class Movie(docType: String, durationMs: Long, tracks: Seq[Track])

  // element IDs (with marker bits, as they appear on the wire)
  private val EbmlHead = 0x1A45DFA3L
  private val DocType = 0x4282L
  private val Segment = 0x18538067L
  private val Info = 0x1549A966L
  private val TimestampScale = 0x2AD7B1L
  private val Duration = 0x4489L
  private val Tracks = 0x1654AE6BL
  private val TrackEntry = 0xAEL
  private val TrackType = 0x83L
  private val CodecID = 0x86L
  private val TrackNumber = 0xD7L
  private val Video = 0xE0L
  private val PixelWidth = 0xB0L
  private val PixelHeight = 0xBAL
  private val Audio = 0xE1L
  private val SamplingFrequency = 0xB5L
  private val Channels = 0x9FL
  private val Cluster = 0x1F43B675L
  private val Timestamp = 0xE7L
  private val SimpleBlock = 0xA3L

  /** Read an element ID at `i`: (id with marker bits, next position). */
  private def readId(b: Array[Byte], i: Int): Option[(Long, Int)] = {
    if (i >= b.length) return None
    val first = b(i) & 0xff
    val len = Integer.numberOfLeadingZeros(first) - 24 + 1
    if (len < 1 || len > 4 || i + len > b.length) return None
    var v = 0L
    var k = 0
    while (k < len) { v = (v << 8) | (b(i + k) & 0xffL); k += 1 }
    Some((v, i + len))
  }

  /** Read a size vint at `i`: (value without marker, next position); an
    * all-ones payload is the reserved "unknown size". */
  private def readSize(b: Array[Byte], i: Int): Option[(Long, Int, Boolean)] = {
    if (i >= b.length) return None
    val first = b(i) & 0xff
    val len = Integer.numberOfLeadingZeros(first) - 24 + 1
    if (len < 1 || len > 8 || i + len > b.length) return None
    var v = (first & (0xff >>> len)).toLong
    var k = 1
    while (k < len) { v = (v << 8) | (b(i + k) & 0xffL); k += 1 }
    val unknown = v == (1L << (7 * len)) - 1
    Some((v, i + len, unknown))
  }

  /** An unsigned-integer element: its first 8 bytes at most, big-endian. */
  private def uint(b: Array[Byte], from: Int, to: Int): Long =
    Bytes.view(b).uint(from, math.min(to - from, 8))

  private def float(b: Array[Byte], from: Int, to: Int): Double = (to - from) match {
    case 4 => java.lang.Float.intBitsToFloat(uint(b, from, to).toInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(uint(b, from, to))
    case _ => 0.0
  }

  /** Children of [from, to): (id, payloadFrom, payloadTo). Unknown-size
    * children (legal only for Segment/Cluster-level elements in practice)
    * extend to the parent's end. */
  private def children(b: Array[Byte], from: Int, to: Int): Seq[(Long, Int, Int)] = {
    val out = new ArrayBuffer[(Long, Int, Int)]()
    var i = from
    while (i < to) {
      val (id, p1) = readId(b, i).getOrElse(return out.toSeq)
      val (sz, p2, unknown) = readSize(b, p1).getOrElse(return out.toSeq)
      val end = if (unknown) to else p2 + sz
      if (end < p2 || end > to) return out.toSeq // hostile size: stop the walk
      out += ((id, p2, end.toInt))
      i = end.toInt
      if (unknown) i = to // an unknown-size child consumes the rest
    }
    out.toSeq
  }

  def parse(data: Array[Byte]): Option[Movie] = {
    try parseImpl(data) catch { case _: Exception => None }
  }

  private def parseImpl(data: Array[Byte]): Option[Movie] = {
    val top = children(data, 0, data.length)
    val head = top.find(_._1 == EbmlHead).getOrElse(return None)
    val docType = children(data, head._2, head._3).find(_._1 == DocType)
      .map { case (_, f, t) => new String(data, f, t - f,
        java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != '\u0000') }
      .getOrElse("")
    val seg = top.find(_._1 == Segment).getOrElse(return None)
    val segKids = children(data, seg._2, seg._3)
    var tsScaleNs = 1000000L // default: 1 ms per timestamp unit
    var durationUnits = 0.0
    segKids.find(_._1 == Info).foreach { case (_, f, t) =>
      children(data, f, t).foreach {
        case (TimestampScale, cf, ct) => tsScaleNs = uint(data, cf, ct)
        case (Duration, cf, ct) => durationUnits = float(data, cf, ct)
        case _ => ()
      }
    }
    if (tsScaleNs <= 0) return None
    val durationMs = (durationUnits * tsScaleNs / 1e6).round
    // track entries
    final case class Entry(number: Long, ttype: Int, codec: String,
                           w: Int, h: Int, ch: Int, sr: Int)
    val entries = segKids.filter(_._1 == Tracks).flatMap { case (_, f, t) =>
      children(data, f, t).filter(_._1 == TrackEntry).map { case (_, ef, et) =>
        var number = 0L; var ttype = 0; var codec = ""
        var w = 0; var h = 0; var ch = 0; var sr = 0
        children(data, ef, et).foreach {
          case (TrackNumber, cf, ct) => number = uint(data, cf, ct)
          case (TrackType, cf, ct) => ttype = uint(data, cf, ct).toInt
          case (CodecID, cf, ct) =>
            codec = new String(data, cf, ct - cf,
              java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != '\u0000')
          case (Video, cf, ct) => children(data, cf, ct).foreach {
            case (PixelWidth, vf, vt) => w = uint(data, vf, vt).toInt
            case (PixelHeight, vf, vt) => h = uint(data, vf, vt).toInt
            case _ => ()
          }
          case (Audio, cf, ct) => children(data, cf, ct).foreach {
            case (SamplingFrequency, af, at) => sr = float(data, af, at).round.toInt
            case (Channels, af, at) => ch = uint(data, af, at).toInt
            case _ => ()
          }
          case _ => ()
        }
        Entry(number, ttype, codec, w, h, ch, sr)
      }
    }
    // frame schedule per track from SimpleBlocks (lacing-aware counts)
    val frameTs = scala.collection.mutable.Map.empty[Long, ArrayBuffer[Long]]
    segKids.filter(_._1 == Cluster).foreach { case (_, cf, ct) =>
      var clusterTs = 0L
      children(data, cf, ct).foreach {
        case (Timestamp, f, t) => clusterTs = uint(data, f, t)
        case (SimpleBlock, f, t) =>
          // block: track vint, s16 relative timestamp, flags, [lacing], data
          readSize(data, f).foreach { case (trackNo, p, _) =>
            if (p + 3 <= t) {
              val rel = Bytes.view(data).u16(p).toShort.toLong
              val flags = data(p + 2) & 0xff
              val lacing = (flags >> 1) & 3
              val nFrames =
                if (lacing == 0) 1
                else if (p + 3 < t) (data(p + 3) & 0xff) + 1
                else 1
              if (frameTs.size < 64 && nFrames <= 10000) {
                val buf = frameTs.getOrElseUpdate(trackNo, new ArrayBuffer[Long]())
                if (buf.length + nFrames <= 1000000) {
                  val ts = (clusterTs + rel) * tsScaleNs / 1000000
                  var k = 0
                  while (k < nFrames) { buf += ts; k += 1 }
                }
              }
            }
          }
        case _ => ()
      }
    }
    if (docType.isEmpty && entries.isEmpty) return None
    val tracks = entries.map { e =>
      val ts = frameTs.getOrElse(e.number, new ArrayBuffer[Long]()).toArray
      Track(e.ttype, e.codec, e.w, e.h, e.ch, e.sr, ts.length, ts)
    }
    Some(Movie(docType, durationMs, tracks))
  }

  // ---- writer (test corpus; minimal valid one-video-track WebM) --------------

  private def idBytes(id: Long): Array[Byte] =
    Bytes.be(if (id <= 0xff) 1 else if (id <= 0xffff) 2 else if (id <= 0xffffff) 3 else 4)(id)

  /** Size vint in the fewest bytes. */
  private def sizeBytes(v: Long): Array[Byte] = {
    var len = 1
    while (len < 8 && v >= (1L << (7 * len)) - 1) len += 1
    val out = Bytes.be(len)(v)
    out(0) = (out(0) | (0x80 >> (len - 1))).toByte
    out
  }

  private def el(id: Long, body: Array[Byte]): Array[Byte] =
    idBytes(id) ++ sizeBytes(body.length.toLong) ++ body

  private def uintBody(v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >> (8 * n)) != 0) n += 1
    Bytes.be(n)(v)
  }

  private def floatBody(v: Double): Array[Byte] =
    Bytes.be(4)(java.lang.Float.floatToIntBits(v.toFloat))

  /** A minimal valid WebM: EBML head + Segment(Info, Tracks, one Cluster of
    * `nFrames` opaque SimpleBlocks every `frameMs`). TimestampScale is the
    * 1 ms default written explicitly. */
  def encodeVideo(width: Int, height: Int, nFrames: Int, frameMs: Int,
                  codec: String = "V_VP9"): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames > 0 && frameMs > 0)
    val ebml = el(EbmlHead,
      el(0x4286L, uintBody(1)) ++ // EBMLVersion
        el(0x42F7L, uintBody(1)) ++ // EBMLReadVersion
        el(0x42F2L, uintBody(4)) ++ // EBMLMaxIDLength
        el(0x42F3L, uintBody(8)) ++ // EBMLMaxSizeLength
        el(DocType, "webm".getBytes("US-ASCII")) ++
        el(0x4287L, uintBody(4)) ++ // DocTypeVersion
        el(0x4285L, uintBody(2))) // DocTypeReadVersion
    val info = el(Info,
      el(TimestampScale, uintBody(1000000L)) ++
        el(Duration, floatBody(nFrames.toDouble * frameMs)))
    val trackEntry = el(TrackEntry,
      el(TrackNumber, uintBody(1)) ++
        el(0x73C5L, uintBody(1)) ++ // TrackUID
        el(TrackType, uintBody(1)) ++ // video
        el(CodecID, codec.getBytes("US-ASCII")) ++
        el(Video, el(PixelWidth, uintBody(width.toLong)) ++
          el(PixelHeight, uintBody(height.toLong))))
    val tracks = el(Tracks, trackEntry)
    val blocks = (0 until nFrames).flatMap { k =>
      // opaque deterministic payload; no lacing, keyframe flag on frame 0
      val payload = Array.tabulate(12)(i => (i * 17 + k * 3 + 5).toByte)
      val body = sizeBytes(1L) ++ // track number vint
        Bytes.be(2)(k * frameMs) ++
        Array((if (k == 0) 0x80 else 0x00).toByte) ++ payload
      el(SimpleBlock, body)
    }.toArray
    val cluster = el(Cluster, el(Timestamp, uintBody(0L)) ++ blocks)
    ebml ++ el(Segment, info ++ tracks ++ cluster)
  }
}
