package graft.sources

import scala.collection.mutable.ArrayBuffer

/** ISO base media file format (ISO/IEC 14496-12; the MP4/MOV container) —
  * METADATA parsing only, deliberately: the moov box tree carries
  * everything a crawl pipeline filters and samples on (codec fourcc,
  * dimensions, duration, frame count, per-sample timing) as plain
  * big-endian structure, while the mdat payload needs codecs (H.264/HEVC/
  * AAC) whose entropy tables cannot be verified in this sandbox — so
  * samples stay opaque and frame DECODE honestly falls back, exactly like
  * the reference treats videos it cannot rasterise. The writer emits a
  * minimal valid one-track file (ftyp + moov with a full stbl + mdat) so
  * the parser's corpus is generated forward, same pattern as [[Jbig2]]/
  * [[Jpx]]/[[Flac]].
  *
  * Box layout (§4.2): size(4) type(4) [largesize(8) when size==1]; size 0 =
  * to end of file. Parsed boxes: ftyp, moov/mvhd, trak/tkhd,
  * mdia/{mdhd,hdlr}, minf/stbl/{stsd,stts,stsz}. Unknown boxes skip.
  */
object Mp4 {

  /** One track's metadata: `codec` is the stsd entry fourcc (avc1, hvc1,
    * mp4a, …); video tracks carry width/height, audio channels/sampleRate. */
  final case class Track(handler: String, codec: String,
                         width: Int, height: Int,
                         durationMs: Long, nSamples: Int,
                         channels: Int, sampleRate: Int,
                         sampleDeltasMs: Array[Int])

  final case class Movie(majorBrand: String, durationMs: Long, tracks: Seq[Track])

  private def u16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def u32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def u64(b: Array[Byte], i: Int): Long =
    (u32(b, i) << 32) | u32(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Child box ranges of [from, to): (type, payloadFrom, payloadTo). */
  private def boxes(b: Array[Byte], from: Int, to: Int): Seq[(String, Int, Int)] = {
    val out = new ArrayBuffer[(String, Int, Int)]()
    var i = from
    while (i + 8 <= to) {
      val sz = u32(b, i)
      val typ = fourcc(b, i + 4)
      val (hdr, len) =
        if (sz == 1) {
          if (i + 16 > to) return out.toSeq
          (16, u64(b, i + 8))
        } else if (sz == 0) (8, (to - i).toLong)
        else (8, sz)
      // hostile sizes end the walk rather than stall or reverse it
      if (len < hdr || i + len > to) return out.toSeq
      out += ((typ, i + hdr, (i + len).toInt))
      i += len.toInt
    }
    out.toSeq
  }

  private def find(bs: Seq[(String, Int, Int)], typ: String): Option[(Int, Int)] =
    bs.find(_._1 == typ).map(x => (x._2, x._3))

  /** Parse container metadata. None when no moov/mvhd movie structure is
    * present or a box is malformed where structure is required. */
  def parse(data: Array[Byte]): Option[Movie] = {
    try parseImpl(data) catch { case _: Exception => None }
  }

  private def parseImpl(data: Array[Byte]): Option[Movie] = {
    val top = boxes(data, 0, data.length)
    val major = find(top, "ftyp") match {
      case Some((f, t)) if t - f >= 4 => fourcc(data, f)
      case _ => ""
    }
    val (moovF, moovT) = find(top, "moov").getOrElse(return None)
    val moov = boxes(data, moovF, moovT)
    val (mvhdF, mvhdT) = find(moov, "mvhd").getOrElse(return None)
    if (mvhdT - mvhdF < 20) return None
    val mvVer = data(mvhdF) & 0xff
    if (mvhdT - mvhdF < fullHeadBytes(mvVer)) return None
    val (mvTimescale, mvDuration) =
      if (mvVer == 1) (u32(data, mvhdF + 20), u64(data, mvhdF + 24))
      else (u32(data, mvhdF + 12), u32(data, mvhdF + 16))
    if (mvTimescale <= 0) return None
    val movieMs = toMs(mvDuration, mvTimescale).getOrElse(return None)
    val tracks = moov.filter(_._1 == "trak").flatMap { case (_, tf, tt) =>
      trackOf(data, tf, tt)
    }
    Some(Movie(major, movieMs, tracks))
  }

  /** Bytes of an `mvhd`/`mdhd` payload up to the end of its duration:
    * version 0 ends a 32-bit duration at byte 20, version 1 a 64-bit one at
    * byte 32. */
  private def fullHeadBytes(version: Int): Int = if (version == 1) 32 else 20

  /** A duration of `ticks` at `timescale` ticks per second, in ms; None for
    * a 64-bit duration (unsigned on disk, so a negative Long here) whose
    * `ticks * 1000` overflows. */
  private def toMs(ticks: Long, timescale: Long): Option[Long] =
    if (ticks < 0 || ticks > Long.MaxValue / 1000) None else Some(ticks * 1000 / timescale)

  private def trackOf(data: Array[Byte], from: Int, to: Int): Option[Track] = {
    val trak = boxes(data, from, to)
    val (mdiaF, mdiaT) = find(trak, "mdia").getOrElse(return None)
    val mdia = boxes(data, mdiaF, mdiaT)
    val (mdhdF, mdhdT) = find(mdia, "mdhd").getOrElse(return None)
    if (mdhdT - mdhdF < 20) return None
    val ver = data(mdhdF) & 0xff
    if (mdhdT - mdhdF < fullHeadBytes(ver)) return None
    val (timescale, duration) =
      if (ver == 1) (u32(data, mdhdF + 20), u64(data, mdhdF + 24))
      else (u32(data, mdhdF + 12), u32(data, mdhdF + 16))
    if (timescale <= 0) return None
    val durationMs = toMs(duration, timescale).getOrElse(return None)
    val handler = find(mdia, "hdlr") match {
      case Some((f, t)) if t - f >= 12 => fourcc(data, f + 8)
      case _ => ""
    }
    val (minfF, minfT) = find(mdia, "minf").getOrElse(return None)
    val (stblF, stblT) = find(boxes(data, minfF, minfT), "stbl").getOrElse(return None)
    val stbl = boxes(data, stblF, stblT)
    // stsd: full box header (4), entry_count (4), then sample entries
    var codec = ""
    var width = 0; var height = 0; var channels = 0; var sampleRate = 0
    find(stbl, "stsd").foreach { case (f, t) =>
      if (t - f >= 16 && u32(data, f + 4) >= 1) {
        val e = f + 8 // first SampleEntry: size(4) format(4) then fields
        if (e + 8 <= t) {
          codec = fourcc(data, e + 4)
          if (handler == "vide" && e + 36 <= t) {
            // VisualSampleEntry: 8 SampleEntry + 16 pre_defined/reserved,
            // then width(2) height(2)
            width = u16(data, e + 32)
            height = u16(data, e + 34)
          } else if (handler == "soun" && e + 36 <= t) {
            // AudioSampleEntry: 8 SampleEntry + 8 reserved, channelcount(2),
            // samplesize(2), pre_defined(2), reserved(2), samplerate(16.16)
            channels = u16(data, e + 24)
            sampleRate = (u32(data, e + 32) >> 16).toInt
          }
        }
      }
    }
    // stts: (sample_count, sample_delta) runs → frame count + per-sample ms
    var nSamples = 0
    val deltas = new ArrayBuffer[Int]()
    find(stbl, "stts").foreach { case (f, t) =>
      if (t - f >= 8) {
        val entries = u32(data, f + 4)
        var i = 0
        var p = f + 8
        while (i < entries && p + 8 <= t) {
          val count = u32(data, p)
          val delta = u32(data, p + 4)
          if (count < 0 || count > 1000000 || nSamples + count > 1000000)
            return None // hostile counts: refuse, don't allocate
          val ms = math.max(1, (delta * 1000 / timescale).toInt)
          var k = 0L
          while (k < count) { deltas += ms; k += 1 }
          nSamples += count.toInt
          i += 1
          p += 8
        }
      }
    }
    // stsz sample_count is the frame count only when stts gave none; the
    // two are not cross-checked
    find(stbl, "stsz").foreach { case (f, t) =>
      if (t - f >= 12) {
        val n = u32(data, f + 8)
        if (nSamples == 0 && n <= 1000000) nSamples = n.toInt
      }
    }
    Some(Track(handler, codec, width, height, durationMs,
      nSamples, channels, sampleRate, deltas.toArray))
  }

  // ---- writer (test corpus; minimal valid one-video-track file) --------------

  private def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    be32(8L + body.length) ++ typ.getBytes("US-ASCII") ++ body

  /** A minimal valid MP4: ftyp + moov (mvhd, one `vide` trak with a full
    * stbl whose stsd carries `codec` dims) + an mdat of `nSamples` opaque
    * `sampleLen`-byte payloads. `frameMs` is every sample's duration at a
    * millisecond movie timescale. */
  def encodeVideo(width: Int, height: Int, nSamples: Int, frameMs: Int,
                  codec: String = "avc1", sampleLen: Int = 16): Array[Byte] = {
    require(width > 0 && height > 0 && nSamples > 0 && frameMs > 0)
    val timescale = 1000L
    val duration = nSamples.toLong * frameMs
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(duration) ++ be32(0x00010000L) ++ be16(0x0100) ++
      be16(0) ++ be32(0) ++ be32(0) ++
      // identity matrix
      be32(0x00010000L) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(0x00010000L) ++
      be32(0) ++ be32(0) ++ be32(0) ++ be32(0x40000000L) ++
      Array.fill(24)(0.toByte) ++ be32(2)) // pre_defined, next_track_ID
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ be32(0) ++ be32(0) ++
      be32(1) ++ be32(0) ++ be32(duration) ++ be32(0) ++ be32(0) ++
      be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
      be32(0x00010000L) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(0x00010000L) ++
      be32(0) ++ be32(0) ++ be32(0) ++ be32(0x40000000L) ++
      be32(width.toLong << 16) ++ be32(height.toLong << 16))
    val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(duration) ++ be16(0x55c4) ++ be16(0)) // und lang
    val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++ be32(0) ++
      "vide".getBytes("US-ASCII") ++ Array.fill(12)(0.toByte) ++
      "graft\u0000".getBytes("ISO-8859-1"))
    // VisualSampleEntry with an empty decoder-config suffix: the samples are
    // opaque by design, so no avcC bytes pretend to be a real config
    val entryBody = codec.getBytes("US-ASCII") ++
      Array.fill(6)(0.toByte) ++ be16(1) ++ // SampleEntry
      Array.fill(16)(0.toByte) ++ // pre_defined / reserved
      be16(width) ++ be16(height) ++
      be32(0x00480000L) ++ be32(0x00480000L) ++ be32(0) ++ be16(1) ++
      Array.fill(32)(0.toByte) ++ be16(0x0018) ++ be16(0xffff)
    val entry = be32(4L + entryBody.length) ++ entryBody
    val stsd = box("stsd", Array[Byte](0, 0, 0, 0) ++ be32(1) ++ entry)
    val stts = box("stts", Array[Byte](0, 0, 0, 0) ++ be32(1) ++
      be32(nSamples.toLong) ++ be32(frameMs.toLong))
    val stsc = box("stsc", Array[Byte](0, 0, 0, 0) ++ be32(1) ++
      be32(1) ++ be32(nSamples.toLong) ++ be32(1))
    val stsz = box("stsz", Array[Byte](0, 0, 0, 0) ++ be32(sampleLen.toLong) ++
      be32(nSamples.toLong))
    val stco = box("stco", Array[Byte](0, 0, 0, 0) ++ be32(1) ++ be32(0)) // patched below
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val dinf = box("dinf", box("dref", Array[Byte](0, 0, 0, 0) ++ be32(1) ++
      box("url ", Array[Byte](0, 0, 0, 1))))
    val vmhd = box("vmhd", Array[Byte](0, 0, 0, 1) ++ be16(0) ++
      be16(0) ++ be16(0) ++ be16(0))
    val minf = box("minf", vmhd ++ dinf ++ stbl)
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val trak = box("trak", tkhd ++ mdia)
    val moov = box("moov", mvhd ++ trak)
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(512) ++
      "isomiso2mp41".getBytes("US-ASCII"))
    // opaque deterministic sample payloads
    val payload = Array.tabulate(nSamples * sampleLen)(i => (i * 31 + 7).toByte)
    val mdat = box("mdat", payload)
    val head = ftyp ++ moov
    // patch the single chunk offset to mdat's payload start
    val out = head ++ mdat
    val stcoAt = indexOfBox(out, "stco")
    val off = head.length + 8
    System.arraycopy(be32(off.toLong), 0, out, stcoAt + 16, 4)
    out
  }

  /** Byte offset of the first box with `typ` (header start), linear scan. */
  private def indexOfBox(b: Array[Byte], typ: String): Int = {
    var i = 0
    while (i + 8 <= b.length) {
      if (fourcc(b, i + 4) == typ) return i
      i += 1
    }
    -1
  }
}
