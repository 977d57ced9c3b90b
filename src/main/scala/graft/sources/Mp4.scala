package graft.sources

import scala.collection.mutable.ArrayBuffer
import Bytes.{be, box}

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
  * Box layout (§4.2, walked by [[Bytes.boxes]]): size(4) type(4)
  * [largesize(8) when size==1]; size 0 = to end of file. Parsed boxes: ftyp, moov/mvhd, trak/tkhd,
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

  private def find(bs: Seq[Bytes.Box], typ: String): Option[Bytes.View] =
    bs.find(_.typ == typ).map(_.body)

  /** Parse container metadata. None when no moov/mvhd movie structure is
    * present or a box is malformed where structure is required. */
  def parse(data: Array[Byte]): Option[Movie] = {
    try parseImpl(data) catch { case _: Exception => None }
  }

  private def parseImpl(data: Array[Byte]): Option[Movie] = {
    val top = Bytes.boxes(Bytes.view(data))
    val major = find(top, "ftyp") match {
      case Some(f) if f.length >= 4 => f.fourcc(0)
      case _ => ""
    }
    val moov = Bytes.boxes(find(top, "moov").getOrElse(return None))
    val (_, movieMs) = timing(find(moov, "mvhd").getOrElse(return None)).getOrElse(return None)
    val tracks = moov.filter(_.typ == "trak").flatMap(t => trackOf(t.body))
    Some(Movie(major, movieMs, tracks))
  }

  /** (timescale, duration in ms) of an `mvhd`/`mdhd` payload: version 0
    * ends a 32-bit duration at byte 20, version 1 a 64-bit one at byte 32.
    * None for a short payload or a timescale of 0. */
  private def timing(h: Bytes.View): Option[(Long, Long)] = {
    val v1 = h.length >= 20 && h.u8(0) == 1
    if (h.length < (if (v1) 32 else 20)) return None
    val (timescale, duration) =
      if (v1) (h.u32(20), h.u64(24)) else (h.u32(12), h.u32(16))
    if (timescale <= 0) None
    else toMs(duration, timescale).map(ms => (timescale, ms))
  }

  /** A duration of `ticks` at `timescale` ticks per second, in ms; None for
    * a 64-bit duration (unsigned on disk, so a negative Long here) whose
    * `ticks * 1000` overflows. */
  private def toMs(ticks: Long, timescale: Long): Option[Long] =
    if (ticks < 0 || ticks > Long.MaxValue / 1000) None else Some(ticks * 1000 / timescale)

  private def trackOf(trak: Bytes.View): Option[Track] = {
    val mdia = Bytes.boxes(find(Bytes.boxes(trak), "mdia").getOrElse(return None))
    val (timescale, durationMs) =
      timing(find(mdia, "mdhd").getOrElse(return None)).getOrElse(return None)
    val handler = find(mdia, "hdlr") match {
      case Some(h) if h.length >= 12 => h.fourcc(8)
      case _ => ""
    }
    val minf = find(mdia, "minf").getOrElse(return None)
    val stbl = Bytes.boxes(find(Bytes.boxes(minf), "stbl").getOrElse(return None))
    // stsd: full box header (4), entry_count (4), then sample entries
    var codec = ""
    var width = 0; var height = 0; var channels = 0; var sampleRate = 0
    find(stbl, "stsd").foreach { d =>
      if (d.length >= 16 && d.u32(4) >= 1) {
        val e = 8 // first SampleEntry: size(4) format(4) then fields
        if (e + 8 <= d.length) {
          codec = d.fourcc(e + 4)
          if (handler == "vide" && e + 36 <= d.length) {
            // VisualSampleEntry: 8 SampleEntry + 16 pre_defined/reserved,
            // then width(2) height(2)
            width = d.u16(e + 32)
            height = d.u16(e + 34)
          } else if (handler == "soun" && e + 36 <= d.length) {
            // AudioSampleEntry: 8 SampleEntry + 8 reserved, channelcount(2),
            // samplesize(2), pre_defined(2), reserved(2), samplerate(16.16)
            channels = d.u16(e + 24)
            sampleRate = (d.u32(e + 32) >> 16).toInt
          }
        }
      }
    }
    // stts: (sample_count, sample_delta) runs → frame count + per-sample ms
    var nSamples = 0
    val deltas = new ArrayBuffer[Int]()
    find(stbl, "stts").foreach { d =>
      if (d.length >= 8) {
        val entries = d.u32(4)
        var i = 0
        var p = 8
        while (i < entries && p + 8 <= d.length) {
          val count = d.u32(p)
          val delta = d.u32(p + 4)
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
    find(stbl, "stsz").foreach { d =>
      if (d.length >= 12) {
        val n = d.u32(8)
        if (nSamples == 0 && n <= 1000000) nSamples = n.toInt
      }
    }
    Some(Track(handler, codec, width, height, durationMs,
      nSamples, channels, sampleRate, deltas.toArray))
  }

  // ---- writer (test corpus; minimal valid one-video-track file) --------------

  /** A minimal valid MP4: ftyp + moov (mvhd, one `vide` trak with a full
    * stbl whose stsd carries `codec` dims) + an mdat of `nSamples` opaque
    * `sampleLen`-byte payloads. `frameMs` is every sample's duration at a
    * millisecond movie timescale. */
  def encodeVideo(width: Int, height: Int, nSamples: Int, frameMs: Int,
                  codec: String = "avc1", sampleLen: Int = 16): Array[Byte] = {
    require(width > 0 && height > 0 && nSamples > 0 && frameMs > 0)
    val timescale = 1000L
    val duration = nSamples.toLong * frameMs
    val identity = be(4)(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++
      be(4)(0, 0, timescale, duration, 0x00010000L) ++ be(2)(0x0100, 0) ++ be(4)(0, 0) ++
      identity ++ Array.fill(24)(0.toByte) ++ be(4)(2)) // pre_defined, next_track_ID
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ be(4)(0, 0, 1, 0, duration, 0, 0) ++
      be(2)(0, 0, 0, 0) ++ identity ++ be(4)(width.toLong << 16, height.toLong << 16))
    val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++ be(4)(0, 0, timescale, duration) ++
      be(2)(0x55c4, 0)) // und lang
    val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++ be(4)(0) ++
      "vide".getBytes("US-ASCII") ++ Array.fill(12)(0.toByte) ++
      "graft\u0000".getBytes("ISO-8859-1"))
    // VisualSampleEntry with an empty decoder-config suffix: the samples are
    // opaque by design, so no avcC bytes pretend to be a real config
    val entryBody = codec.getBytes("US-ASCII") ++
      Array.fill(6)(0.toByte) ++ be(2)(1) ++ // SampleEntry
      Array.fill(16)(0.toByte) ++ // pre_defined / reserved
      be(2)(width, height) ++ be(4)(0x00480000L, 0x00480000L, 0) ++ be(2)(1) ++
      Array.fill(32)(0.toByte) ++ be(2)(0x0018, 0xffff)
    val entry = be(4)(4L + entryBody.length) ++ entryBody
    val stsd = box("stsd", Array[Byte](0, 0, 0, 0) ++ be(4)(1) ++ entry)
    val stts = box("stts", Array[Byte](0, 0, 0, 0) ++ be(4)(1, nSamples, frameMs))
    val stsc = box("stsc", Array[Byte](0, 0, 0, 0) ++ be(4)(1, 1, nSamples, 1))
    val stsz = box("stsz", Array[Byte](0, 0, 0, 0) ++ be(4)(sampleLen, nSamples))
    val stco = box("stco", Array[Byte](0, 0, 0, 0) ++ be(4)(1, 0)) // patched below
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val dinf = box("dinf", box("dref", Array[Byte](0, 0, 0, 0) ++ be(4)(1) ++
      box("url ", Array[Byte](0, 0, 0, 1))))
    val vmhd = box("vmhd", Array[Byte](0, 0, 0, 1) ++ be(2)(0, 0, 0, 0))
    val minf = box("minf", vmhd ++ dinf ++ stbl)
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val trak = box("trak", tkhd ++ mdia)
    val moov = box("moov", mvhd ++ trak)
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(4)(512) ++
      "isomiso2mp41".getBytes("US-ASCII"))
    // opaque deterministic sample payloads
    val payload = Array.tabulate(nSamples * sampleLen)(i => (i * 31 + 7).toByte)
    val mdat = box("mdat", payload)
    val head = ftyp ++ moov
    // patch the single chunk offset to mdat's payload start
    val out = head ++ mdat
    val stcoAt = out.indexOfSlice("stco".getBytes("US-ASCII")) - 4
    System.arraycopy(be(4)(head.length + 8), 0, out, stcoAt + 16, 4)
    out
  }
}
