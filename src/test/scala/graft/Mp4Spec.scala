package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Mp4
import graft.ops.Multimodal

/** MP4 (ISO 14496-12) container metadata tests: the writer generates the
  * corpus forward, the parser must recover every moov field exactly; the
  * sample payloads stay opaque by design (no JVM H.264 codec exists), so
  * frame decode falls back while metadata and the sampling plan are real.
  */
class Mp4Spec extends AnyFunSuite {

  test("writer/parser round-trip recovers dims, timing, codec, counts") {
    for ((w, h, n, ms, codec) <- Seq((320, 240, 25, 40, "avc1"),
      (64, 48, 1, 1000, "hvc1"), (1920, 1080, 300, 33, "avc1"))) {
      val bytes = Mp4.encodeVideo(w, h, n, ms, codec)
      val m = Mp4.parse(bytes).get
      assert(m.majorBrand == "isom")
      assert(m.durationMs == n.toLong * ms, s"movie duration $codec")
      val t = m.tracks.find(_.handler == "vide").get
      assert(t.codec == codec && t.width == w && t.height == h)
      assert(t.nSamples == n && t.durationMs == n.toLong * ms)
      assert(t.sampleDeltasMs.length == n && t.sampleDeltasMs.forall(_ == ms))
    }
  }

  test("hostile boxes: truncation, lying sizes, missing moov fail closed") {
    val ok = Mp4.encodeVideo(100, 80, 5, 40)
    assert(Mp4.parse(ok).nonEmpty)
    assert(Mp4.parse(Array.emptyByteArray).isEmpty)
    assert(Mp4.parse("not a container at all".getBytes("US-ASCII")).isEmpty)
    assert(Mp4.parse(ok.take(40)).isEmpty) // moov truncated away
    // a box size that overruns the file must end the walk, not throw/loop
    val lying = ok.clone()
    lying(0) = 0x7f.toByte // ftyp size becomes enormous
    assert(Mp4.parse(lying).isEmpty)
    // a hostile stts sample count cannot force a giant allocation
    val sttsAt = {
      var i = 0
      while (!(ok(i + 4) == 's' && ok(i + 5) == 't' && ok(i + 6) == 't' && ok(i + 7) == 's')) i += 1
      i
    }
    val hostile = ok.clone()
    hostile(sttsAt + 16) = 0x7f.toByte // sample_count ~2^31
    assert(Mp4.parse(hostile).flatMap(_.tracks.headOption).isEmpty)
  }

  /** `ok` with its `typ` (mvhd or mdhd) box rewritten as version 1 with a
    * 64-bit `duration`, keeping the timescale. The v1 head (flags 4,
    * creation 8, modification 8, timescale 4, duration 8) is 12 bytes longer
    * than the v0 one, so the box and every box enclosing it grow by 12. */
  private def v1Duration(ok: Array[Byte], typ: String, duration: Long): Array[Byte] = {
    def start(fourcc: String) = ok.indexOfSlice(fourcc.getBytes("US-ASCII")) - 4
    val body = start(typ) + 8
    val head = java.nio.ByteBuffer.allocate(32).putInt(0x01000000).putLong(0).putLong(0)
      .put(ok, body + 12, 4).putLong(duration).array()
    val out = ok.take(body) ++ head ++ ok.drop(body + 20)
    val enclosing = if (typ == "mvhd") Seq("moov") else Seq("moov", "trak", "mdia")
    (enclosing :+ typ).map(start).foreach { i =>
      val b = java.nio.ByteBuffer.wrap(out)
      b.putInt(i, b.getInt(i) + 12)
    }
    out
  }

  /** `v1Duration(ok, typ, 5000)` with the `typ` box cut to 24 payload
    * bytes: the 64-bit duration (bytes 24-32) is gone, and the next sibling
    * box's header stands where it was. */
  private def truncatedV1(ok: Array[Byte], typ: String): Array[Byte] = {
    val v1 = v1Duration(ok, typ, 5000)
    def start(b: Array[Byte], fourcc: String) = b.indexOfSlice(fourcc.getBytes("US-ASCII")) - 4
    val at = start(v1, typ)
    val size = java.nio.ByteBuffer.wrap(v1).getInt(at)
    val cut = size - (8 + 24)
    val out = v1.take(at + 8 + 24) ++ v1.drop(at + size)
    val b = java.nio.ByteBuffer.wrap(out)
    b.putInt(at, 8 + 24)
    val enclosing = if (typ == "mvhd") Seq("moov") else Seq("moov", "trak", "mdia")
    enclosing.map(start(out, _)).foreach(i => b.putInt(i, b.getInt(i) - cut))
    out
  }

  test("truncated v1 mvhd/mdhd boxes fail closed instead of reading the next box") {
    val ok = Mp4.encodeVideo(100, 80, 5, 40)
    // no movie: a v1 mvhd must hold its duration
    assert(Mp4.parse(truncatedV1(ok, "mvhd")).isEmpty)
    // no track: the movie parses, the track with the short mdhd does not
    val m = Mp4.parse(truncatedV1(ok, "mdhd"))
    assert(m.map(_.durationMs).contains(200L) && m.get.tracks.isEmpty)
  }

  test("64-bit mvhd/mdhd durations whose ms value overflows fail closed") {
    val ok = Mp4.encodeVideo(100, 80, 5, 40) // millisecond timescale
    val hostile = Long.MaxValue / 999 // * 1000 wraps negative
    // the v1 layout itself parses: 5000 ticks at 1000/s = 5000 ms
    assert(Mp4.parse(v1Duration(ok, "mvhd", 5000)).map(_.durationMs).contains(5000L))
    assert(Mp4.parse(v1Duration(ok, "mdhd", 5000)).flatMap(_.tracks.headOption)
      .map(_.durationMs).contains(5000L))
    // hostile movie duration: no movie; hostile track duration: no track
    assert(Mp4.parse(v1Duration(ok, "mvhd", hostile)).isEmpty)
    assert(Mp4.parse(v1Duration(ok, "mvhd", -1L)).isEmpty) // 2^64 - 1 unsigned
    val m = Mp4.parse(v1Duration(ok, "mdhd", hostile))
    assert(m.map(_.durationMs).contains(200L) && m.get.tracks.isEmpty)
  }

  test("multimodal sniff: mp4 metadata is real, frame decode falls back") {
    val blob = Multimodal.syntheticMp4Blob("d1", "vid://mp4", 7)
    // id=7: w=55, h=53, frames=17, frameMs=60
    val info = Multimodal.videoInfo(blob.bytes).get
    assert(info.container == "mp4")
    assert(info.width == 55 && info.height == 53, s"${info.width}x${info.height}")
    assert(info.nFrames == 17 && info.durationMs == 17 * 60)
    assert(info.delaysMs.forall(_ == 60))
    // the samples are opaque: no frame can decode, features fall back to
    // the deterministic stub rather than aliasing as all-zero
    assert(Multimodal.videoFrame(blob.bytes, 0).isEmpty)
    val feats = Multimodal.decodeReal(blob)
    val stub = Multimodal.decodeStub(blob)
    assert(feats.feature.sameElements(stub.feature))
  }
}
