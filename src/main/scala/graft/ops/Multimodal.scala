package graft.ops

import graft.core.Xxh64
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video ride through the engine as
  * opaque `binary` columns with typed metadata, exactly like the reference's
  * media payloads (pdf bytes, models.py:140; MediaItem metadata,
  * models.py:331-340).
  *
  * Decode is REAL for images (PNG/JPEG/BMP/GIF via the JDK's javax.imageio,
  * headless), WAV audio (javax.sound.sampled), and two VIDEO containers the
  * JDK can genuinely handle: animated GIF (multi-frame ImageIO reads with
  * per-frame delays) and MJPEG-in-AVI (a RIFF/AVI chunk walk + per-frame
  * JPEG decode). True dimensions/duration/frame counts plus content-based
  * features (4×4 grayscale pool / 16-bin RMS profile / frame-mean pool).
  * Codecs the JVM lacks (H.264 etc.) and corrupt payloads fall back to the
  * deterministic stub rather than failing the pipeline. The Spark shape is
  * identical either way: per-partition batched map (`mapPartitions` — the
  * JVM analogue of `mapInPandas` batch plumbing), salted repartition for
  * decode-cost skew, one feature schema downstream (dedup, ANN).
  */
object Multimodal {

  /** A media blob row: content-addressed binary + provenance. */
  final case class MediaBlob(
      doc_id: String,
      media_ref: String,
      kind: String, // image | audio | video
      bytes: Array[Byte],
      content_hash: Long)

  /** Decoded-media features (what a real codec would produce). */
  final case class MediaFeatures(
      doc_id: String,
      media_ref: String,
      kind: String,
      content_hash: Long,
      width: Int,
      height: Int,
      duration_ms: Int,
      n_frames: Int,
      feature: Array[Float])

  /** Deterministic fake blob for a media_ref (test/bench corpus: the bytes
    * are a hash chain over the ref, so content-hash dedup is exercisable).
    */
  def syntheticBlob(docId: String, ref: String, kind: String): MediaBlob = {
    val n = 64 + (Xxh64.hashString(ref) & 0xff).toInt
    val bytes = new Array[Byte](n)
    var i = 0
    while (i < n) {
      bytes(i) = (Xxh64.hashLong(Xxh64.hashString(ref), i.toLong) & 0xff).toByte
      i += 1
    }
    MediaBlob(docId, ref, kind, bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** Deterministic REAL PNG blob: pixel (x,y) is a pure function of the ref
    * hash — same ref, same bytes, decodable by any PNG codec. */
  def syntheticPngBlob(docId: String, ref: String, w: Int, h: Int): MediaBlob = {
    val seed = Xxh64.hashString(ref)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = Xxh64.hashLong(seed, (y.toLong << 20) | x.toLong)
        img.setRGB(x, y, (v & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    MediaBlob(docId, ref, "image", bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** Deterministic REAL WAV blob: a sine of ref-derived frequency. */
  def syntheticWavBlob(docId: String, ref: String, ms: Int,
                       rate: Int = 8000): MediaBlob = {
    val freq = 200 + (math.abs(Xxh64.hashString(ref)) % 600).toInt
    val n = rate * ms / 1000
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (math.sin(2 * math.Pi * freq * i / rate) * 12000).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val bytes = bos.toByteArray
    MediaBlob(docId, ref, "audio", bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** Deterministic REAL FLAC audio blob via the from-scratch
    * [[graft.sources.Flac]] encoder: the PCM is pure doc-id arithmetic —
    * n = 800 + id%600 samples, L(i) = (13i + 7·id)%4096 - 2048, R(i) =
    * (11i + 5·id)%4096 - 2048 — so the q_audio_flac DuckDB oracle
    * recomputes the channel count, sample count, AND exact decoded sample
    * sum in SQL; losslessness makes only a genuine Rice + predictor decode
    * match. Variants keep every codec path exercised: id%5==4 is mono,
    * odd ids decorrelate mid/side, id%4 picks the fixed predictor order,
    * id%3 sizes the blocks (192/256/320) forcing multi-frame streams. */
  def syntheticFlacBlob(docId: String, ref: String, id: Long): MediaBlob = {
    val n = 800 + (id % 600).toInt
    def plane(a: Long, b: Long): Array[Int] =
      Array.tabulate(n)(i => ((a * i + b * id) % 4096).toInt - 2048)
    val chans =
      if (id % 5 == 4) Seq(plane(13, 7))
      else Seq(plane(13, 7), plane(11, 5))
    val bytes = graft.sources.Flac.encode(8000, 16, chans,
      blockSize = 192 + 64 * (id % 3).toInt,
      fixedOrder = (id % 4).toInt,
      midSide = id % 2 == 1)
    MediaBlob(docId, ref, "audio", bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** Deterministic REAL MP4 video blob via the from-scratch
    * [[graft.sources.Mp4]] container writer: geometry and timing are pure
    * doc-id arithmetic — w = 48 + id%40, h = 32 + (3·id)%24, frames =
    * 10 + id%50, per-frame ms = 20 + (id%5)·20, codec avc1 (hvc1 when
    * id%3==0) — so the q_video_mp4 DuckDB oracle recomputes every field in
    * SQL from the moov metadata alone; the samples are opaque by design
    * (no JVM H.264/HEVC codec) and frame decode falls back while the
    * sampling plan stays exact. */
  def syntheticMp4Blob(docId: String, ref: String, id: Long): MediaBlob = {
    val bytes = graft.sources.Mp4.encodeVideo(
      width = 48 + (id % 40).toInt,
      height = 32 + ((3 * id) % 24).toInt,
      nSamples = 10 + (id % 50).toInt,
      frameMs = 20 + (id % 5).toInt * 20,
      codec = if (id % 3 == 0) "hvc1" else "avc1")
    MediaBlob(docId, ref, "video", bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** Deterministic REAL WebM video blob via the from-scratch
    * [[graft.sources.Webm]] EBML writer: w = 40 + id%23, h = 30 + (11·id)%19,
    * frames = 10 + id%40, per-frame ms = 40 + (id%5)·10, codec V_VP8 when
    * id%3==0 else V_VP9 — metadata-exact, samples opaque (no JVM VP8/VP9
    * codec), same honest boundary as [[syntheticMp4Blob]]. */
  def syntheticWebmBlob(docId: String, ref: String, id: Long): MediaBlob = {
    val bytes = graft.sources.Webm.encodeVideo(
      width = 40 + (id % 23).toInt,
      height = 30 + ((11 * id) % 19).toInt,
      nFrames = 10 + (id % 40).toInt,
      frameMs = 40 + (id % 5).toInt * 10,
      codec = if (id % 3 == 0) "V_VP8" else "V_VP9")
    MediaBlob(docId, ref, "video", bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** Deterministic REAL animated-GIF video blob: `nFrames` full frames of
    * ref-derived pixels, each shown `frameMs` ms (GIF stores delays in
    * centiseconds, so use multiples of 10). Decodable by any GIF codec.
    */
  /** The ONE hash-pixel frame generator behind both video containers: the
    * q_video_frames oracle depends on GIF and AVI producing identical pixels
    * per (ref, frame, x, y). */
  private def hashFrame(seed: Long, f: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = Xxh64.hashLong(seed, (f.toLong << 40) | (y.toLong << 20) | x.toLong)
        img.setRGB(x, y, (v & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  def syntheticGifVideoBlob(docId: String, ref: String, w: Int, h: Int,
                            nFrames: Int, frameMs: Int): MediaBlob = {
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val seed = Xxh64.hashString(ref)
    var f = 0
    while (f < nFrames) {
      val img = hashFrame(seed, f, w, h)
      val meta = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), writer.getDefaultWriteParam)
      val fmt = meta.getNativeMetadataFormatName
      val root = meta.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      // find-or-create the GraphicControlExtension node carrying the delay
      val kids = root.getChildNodes
      var gce: javax.imageio.metadata.IIOMetadataNode = null
      var i = 0
      while (i < kids.getLength && gce == null) {
        if (kids.item(i).getNodeName == "GraphicControlExtension")
          gce = kids.item(i).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        i += 1
      }
      if (gce == null) {
        gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
        root.appendChild(gce)
      }
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", (frameMs / 10).toString)
      gce.setAttribute("transparentColorIndex", "0")
      meta.setFromTree(fmt, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    val bytes = bos.toByteArray
    MediaBlob(docId, ref, "video", bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** Deterministic REAL MJPEG-in-AVI video blob: a spec-shaped RIFF 'AVI '
    * container (avih + vids 'MJPG' stream header + movi '00dc' chunks) whose
    * frames are JPEG-encoded ref-derived pixels at 1000/`frameMs` fps.
    */
  def syntheticAviVideoBlob(docId: String, ref: String, w: Int, h: Int,
                            nFrames: Int, frameMs: Int): MediaBlob = {
    val seed = Xxh64.hashString(ref)
    val jpegs = Array.tabulate(nFrames) { f =>
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(hashFrame(seed, f, w, h), "jpg", bos)
      bos.toByteArray
    }
    import graft.sources.Bytes.le
    def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      fourcc(id) ++ le(4)(body.length) ++ body ++ pad
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fourcc(kind) ++ body)
    // avih: MainAVIHeader (56 bytes)
    val avih = chunk("avih",
      le(4)(frameMs * 1000, 0, 0, 0, nFrames, 0, 1, 0, w, h, 0, 0, 0, 0))
    // strh: AVIStreamHeader for a 'vids'/'MJPG' stream (56 bytes)
    val strh = chunk("strh",
      fourcc("vids") ++ fourcc("MJPG") ++
      le(4)(0, 0, 0, frameMs, 1000, 0, nFrames, 0, -1, 0) ++ le(2)(0, 0, w, h)) // rcFrame
    // strf: BITMAPINFOHEADER with 'MJPG' compression (40 bytes)
    val strf = chunk("strf",
      le(4)(40, w, h) ++ le(2)(1, 24) ++ fourcc("MJPG") ++
      le(4)(w * h * 3, 0, 0, 0, 0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", jpegs.flatMap(j => chunk("00dc", j)))
    val riffBody = fourcc("AVI ") ++ hdrl ++ movi
    val bytes = fourcc("RIFF") ++ le(4)(riffBody.length) ++ riffBody
    MediaBlob(docId, ref, "video", bytes, Xxh64.hashBytes(bytes, 42L))
  }

  /** ===== STUB KERNEL (unsupported codecs + fallback) =====
    * A real implementation decodes `bytes` with an image/audio codec. This
    * container ships none, so features are derived deterministically from
    * the byte content — the Spark-side contract (shape, determinism, cost
    * model) is identical.
    */
  def decodeStub(b: MediaBlob): MediaFeatures = {
    val h = b.content_hash
    val width = 16 + (math.abs(h) % 2048).toInt
    val height = 16 + (math.abs(h >> 11) % 2048).toInt
    val durationMs = if (b.kind == "image") 0 else 1000 + (math.abs(h >> 22) % 600000).toInt
    val nFrames = if (b.kind == "video") durationMs / 40 else if (b.kind == "image") 1 else 0
    val feature = new Array[Float](16)
    var i = 0
    while (i < 16) {
      feature(i) = ((Xxh64.hashLong(h, i.toLong) % 1000L) / 1000.0f)
      i += 1
    }
    MediaFeatures(b.doc_id, b.media_ref, b.kind, b.content_hash,
      width, height, durationMs, nFrames, feature)
  }

  // ===== REAL KERNELS (JDK codecs — no external dependency) =================
  // javax.imageio decodes PNG/JPEG/BMP/GIF and javax.sound.sampled decodes
  // WAV entirely inside the headless JDK. Video stays stubbed (the JDK ships
  // no video codec); unknown/corrupt payloads fall back to the deterministic
  // stub so the pipeline never fails on a bad blob.

  locally { System.setProperty("java.awt.headless", "true") }

  /** 16-dim image descriptor: 4×4 average-pooled grayscale thumbnail in
    * [0, 1] — content-based, so embedding near-dup works on real images. */
  private def grayThumb(img: java.awt.image.BufferedImage, side: Int): Array[Float] = {
    val f = new Array[Float](side * side)
    val counts = new Array[Int](side * side)
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < h) {
      val cy = math.min(side - 1, y * side / h)
      var x = 0
      while (x < w) {
        val cx = math.min(side - 1, x * side / w)
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        f(cy * side + cx) += lum / 255.0f
        counts(cy * side + cx) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < f.length) { if (counts(i) > 0) f(i) /= counts(i); i += 1 }
    f
  }

  /** 16-bin RMS energy profile over 16-bit little-endian PCM. */
  private def rmsProfile(pcm: Array[Byte], bins: Int): Array[Float] = {
    val nSamples = pcm.length / 2
    val f = new Array[Float](bins)
    if (nSamples == 0) return f
    val counts = new Array[Int](bins)
    val samples = graft.sources.Bytes.view(pcm, le = true)
    var s = 0
    while (s < nSamples) {
      val v = samples.u16(2 * s).toShort / 32768.0
      val b = math.min(bins - 1, s * bins / nSamples)
      f(b) += (v * v).toFloat
      counts(b) += 1
      s += 1
    }
    var i = 0
    while (i < bins) {
      if (counts(i) > 0) f(i) = math.sqrt(f(i) / counts(i)).toFloat
      i += 1
    }
    f
  }

  // ---- real video containers (animated GIF / MJPEG-AVI) -------------------

  /** Parsed video container metadata; `delaysMs(i)` is frame i's display
    * time (GIF: per-frame GCE delay; AVI: the uniform frame period). */
  final case class VideoInfo(container: String, width: Int, height: Int,
                             durationMs: Int, nFrames: Int, delaysMs: Array[Int])

  private def gifReader(bytes: Array[Byte]): Option[(javax.imageio.ImageReader,
      javax.imageio.stream.ImageInputStream)] = {
    if (bytes.length < 6 || bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F')
      return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return None }
    val r = readers.next()
    r.setInput(iis, false, false) // keep metadata: the per-frame delays live there
    Some((r, iis))
  }

  private def gifInfo(bytes: Array[Byte]): Option[VideoInfo] =
    gifReader(bytes).flatMap { case (r, iis) =>
      try {
        val n = r.getNumImages(true)
        if (n <= 0) None
        else {
          val delays = Array.tabulate(n) { i =>
            val root = r.getImageMetadata(i).getAsTree("javax_imageio_gif_image_1.0")
            var d = 0
            val kids = root.getChildNodes
            var j = 0
            while (j < kids.getLength) {
              val node = kids.item(j)
              if (node.getNodeName == "GraphicControlExtension") {
                val a = node.getAttributes.getNamedItem("delayTime")
                if (a != null) d = a.getNodeValue.toInt * 10 // centiseconds → ms
              }
              j += 1
            }
            // delay 0 means "as fast as possible" and is ubiquitous in real
            // GIFs; normalize to the 100 ms browsers render it at, so the
            // duration/schedule stay sane instead of collapsing to 0
            if (d == 0) 100 else d
          }
          Some(VideoInfo("gif", r.getWidth(0), r.getHeight(0), delays.sum, n, delays))
        }
      } finally { r.dispose(); iis.close() }
    }

  private def gifFrame(bytes: Array[Byte], frameNo: Int): Option[java.awt.image.BufferedImage] =
    gifReader(bytes).flatMap { case (r, iis) =>
      try Option(r.read(frameNo))
      catch { case _: Exception => None }
      finally { r.dispose(); iis.close() }
    }

  /** RIFF 'AVI ' walk: (width, height, frame period ms, [payload slices of
    * the '00dc'/'00db' movi chunks]). Strict little-endian chunk arithmetic —
    * JPEG payloads containing 'LIST' bytes cannot desync it. */
  private def parseAvi(bytes: Array[Byte]): Option[(Int, Int, Int, IndexedSeq[(Int, Int)])] = {
    val v = graft.sources.Bytes.view(bytes, le = true)
    def tag(off: Int): String = if (off + 4 <= bytes.length) v.fourcc(off) else ""
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "AVI ") return None
    var usecPerFrame = 0; var w = 0; var h = 0
    val frames = IndexedSeq.newBuilder[(Int, Int)]
    def walk(start: Int, end: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = tag(off)
        val size = v.u32(off + 4)
        if (off + 8 + size > end) return // truncated/corrupt: stop
        val body = v.slice(off + 8, size.toInt)
        if (id == "LIST") walk(off + 12, body.to) // skip the list type fourcc
        else if (id == "avih" && size >= 40) {
          usecPerFrame = body.u32(0).toInt
          w = body.u32(32).toInt; h = body.u32(36).toInt
        } else if (id == "00dc" || id == "00db") frames += ((body.from, body.length))
        off = body.to + (body.length & 1) // chunks are word-aligned
      }
    }
    walk(12, math.min(bytes.length, 8 + v.u32(4).toInt))
    val fs = frames.result()
    if (w <= 0 || h <= 0 || fs.isEmpty) None
    else Some((w, h, math.max(1, usecPerFrame / 1000), fs))
  }

  /** Container sniff + metadata: the two JVM-decodable formats plus MP4,
    * whose moov metadata (dims/duration/frame schedule) is real even though
    * its samples stay opaque — frame DECODE for mp4 falls back like any
    * codec the JVM lacks, but the sampling PLAN and container stats are
    * exact. */
  def videoInfo(bytes: Array[Byte]): Option[VideoInfo] =
    try gifInfo(bytes).orElse(parseAvi(bytes).map { case (w, h, periodMs, fs) =>
      VideoInfo("avi", w, h, periodMs * fs.length, fs.length,
        Array.fill(fs.length)(periodMs))
    }).orElse(mp4Info(bytes)).orElse(webmInfo(bytes)) catch { case _: Exception => None }

  private def webmInfo(bytes: Array[Byte]): Option[VideoInfo] =
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0x1A || (bytes(1) & 0xff) != 0x45 ||
        (bytes(2) & 0xff) != 0xDF || (bytes(3) & 0xff) != 0xA3) None
    else graft.sources.Webm.parse(bytes).flatMap { m =>
      m.tracks.find(t => t.trackType == 1 && t.nFrames > 0).map { t =>
        val ts = t.frameTsMs
        val delays = Array.tabulate(t.nFrames) { i =>
          if (i < t.nFrames - 1) math.max(1, (ts(i + 1) - ts(i)).toInt)
          else math.max(1, (m.durationMs - ts(i)).toInt)
        }
        VideoInfo("webm", t.width, t.height, m.durationMs.toInt, t.nFrames, delays)
      }
    }

  private def mp4Info(bytes: Array[Byte]): Option[VideoInfo] =
    if (bytes.length < 12 || bytes(4) != 'f' || bytes(5) != 't' ||
        bytes(6) != 'y' || bytes(7) != 'p') None
    else graft.sources.Mp4.parse(bytes).flatMap { m =>
      m.tracks.find(t => t.handler == "vide" && t.nSamples > 0).map { t =>
        val delays =
          if (t.sampleDeltasMs.length == t.nSamples) t.sampleDeltasMs
          else Array.fill(t.nSamples)(
            math.max(1, (t.durationMs / t.nSamples).toInt))
        VideoInfo("mp4", t.width, t.height, t.durationMs.toInt, t.nSamples, delays)
      }
    }

  /** Decode one frame of a parsed video (re-sniffs the container; a sampling
    * kernel touches only the frames it asked for — frames are never all
    * resident, so a 10^5-frame video cannot blow an executor). */
  def videoFrame(bytes: Array[Byte], frameNo: Int): Option[java.awt.image.BufferedImage] =
    try {
      if (bytes.length >= 3 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
        gifFrame(bytes, frameNo)
      else parseAvi(bytes).flatMap { case (_, _, _, fs) =>
        if (frameNo < 0 || frameNo >= fs.length) None
        else {
          val (off, len) = fs(frameNo)
          Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes, off, len)))
        }
      }
    } catch { case _: Exception => None }

  /** Frame index on screen at `tsMs` per the delay schedule. */
  private def frameAt(delaysMs: Array[Int], tsMs: Int): Int = {
    var i = 0; var cum = 0L
    while (i < delaysMs.length - 1 && cum + delaysMs(i) <= tsMs) {
      cum += delaysMs(i); i += 1
    }
    i
  }

  /** REAL video decode: true dims/duration/frame count from the container,
    * features = 4×4 gray pool averaged over ≤8 evenly-sampled frames. */
  private def decodeVideoReal(b: MediaBlob): Option[MediaFeatures] =
    videoInfo(b.bytes).flatMap { info =>
      val sampleIdx = (0 until math.min(8, info.nFrames))
        .map(k => k * info.nFrames / math.min(8, info.nFrames)).distinct
      val pooled = new Array[Float](16)
      var got = 0
      sampleIdx.foreach { i =>
        videoFrame(b.bytes, i).foreach { img =>
          val t = grayThumb(img, 4)
          var j = 0
          while (j < 16) { pooled(j) += t(j); j += 1 }
          got += 1
        }
      }
      // a container that parses but whose frames the JVM cannot decode (e.g.
      // H.264-in-AVI) must fall back to the stub like any other undecodable
      // payload — an all-zero feature would alias unrelated videos as dups
      if (got == 0) None
      else {
        var j = 0; while (j < 16) { pooled(j) /= got; j += 1 }
        Some(MediaFeatures(b.doc_id, b.media_ref, b.kind, b.content_hash,
          info.width, info.height, info.durationMs, info.nFrames, pooled))
      }
    }

  /** REAL decode: JDK codecs for images (PNG/JPEG/BMP/GIF), WAV audio, and
    * GIF/MJPEG-AVI video; stub fallback for codecs the JVM lacks, unknown
    * formats, and corrupt payloads. */
  def decodeReal(b: MediaBlob): MediaFeatures =
    try b.kind match {
      case "video" => decodeVideoReal(b).getOrElse(decodeStub(b))
      case "image" =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b.bytes))
        if (img == null) decodeStub(b)
        else MediaFeatures(b.doc_id, b.media_ref, b.kind, b.content_hash,
          img.getWidth, img.getHeight, 0, 1, grayThumb(img, 4))
      case "audio" if b.bytes.length >= 4 && b.bytes(0) == 'f' &&
          b.bytes(1) == 'L' && b.bytes(2) == 'a' && b.bytes(3) == 'C' =>
        // FLAC rides the same feature path as WAV through the from-scratch
        // sources/Flac codec (the JDK ships no FLAC SPI); decoded PCM is
        // rendered to 16-bit LE for the shared RMS profile
        graft.sources.Flac.decode(b.bytes) match {
          case None => decodeStub(b)
          case Some(d) =>
            val n = d.numSamples
            val nCh = d.channels.length
            val durationMs =
              if (d.sampleRate > 0) (n * 1000L / d.sampleRate).toInt else 0
            val pcm = new Array[Byte](n * nCh * 2)
            var i = 0
            while (i < n) {
              var c = 0
              while (c < nCh) {
                val v16 =
                  if (d.bitsPerSample >= 16) d.channels(c)(i) >> (d.bitsPerSample - 16)
                  else d.channels(c)(i) << (16 - d.bitsPerSample)
                val at = (i * nCh + c) * 2
                pcm(at) = (v16 & 0xff).toByte
                pcm(at + 1) = ((v16 >> 8) & 0xff).toByte
                c += 1
              }
              i += 1
            }
            MediaFeatures(b.doc_id, b.media_ref, b.kind, b.content_hash,
              0, 0, durationMs, 0, rmsProfile(pcm, 16))
        }
      case "audio" =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(b.bytes))
        try {
          val fmt = ais.getFormat
          val frames = ais.getFrameLength
          val durationMs = (frames * 1000.0 / fmt.getSampleRate).toInt
          val pcm = ais.readAllBytes()
          MediaFeatures(b.doc_id, b.media_ref, b.kind, b.content_hash,
            0, 0, durationMs, 0, rmsProfile(pcm, 16))
        } finally ais.close()
      case _ => decodeStub(b)
    } catch { case _: Exception => decodeStub(b) }

  /** Re-orient per the EXIF orientation tag (1 = as stored; 2-8 = the
    * mirror/rotate family). A resize that ignores it ships sideways
    * thumbnails — the classic image-pipeline bug. */
  private def orient(src: java.awt.image.BufferedImage, o: Int): java.awt.image.BufferedImage = {
    if (o <= 1 || o > 8) return src
    val w = src.getWidth; val h = src.getHeight
    val swap = o >= 5
    val out = new java.awt.image.BufferedImage(
      if (swap) h else w, if (swap) w else h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var yy = 0
    while (yy < out.getHeight) {
      var xx = 0
      while (xx < out.getWidth) {
        val (sx, sy) = o match {
          case 2 => (w - 1 - xx, yy)           // mirror horizontal
          case 3 => (w - 1 - xx, h - 1 - yy)   // rotate 180
          case 4 => (xx, h - 1 - yy)           // mirror vertical
          case 5 => (yy, xx)                   // transpose
          case 6 => (yy, h - 1 - xx)           // rotate 90 CW
          case 7 => (w - 1 - yy, h - 1 - xx)   // transverse
          case _ => (w - 1 - yy, xx)           // 8: rotate 90 CCW
        }
        out.setRGB(xx, yy, src.getRGB(sx, sy))
        xx += 1
      }
      yy += 1
    }
    out
  }

  /** REAL resize: EXIF-orientation-normalized first (JPEG APP1 via
    * sources/Exif; non-JPEG or tagless inputs pass through), then longest
    * side clamped to `maxSide`, aspect preserved, bilinear, re-encoded as
    * PNG. Returns (bytes, width, height) in the DISPLAY orientation. */
  def resizeImage(bytes: Array[Byte], maxSide: Int): Option[(Array[Byte], Int, Int)] = {
    val img0 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img0 == null) return None
    val img = graft.sources.Exif.parse(bytes)
      .map(m => orient(img0, m.orientation)).getOrElse(img0)
    val scale = math.min(1.0, maxSide.toDouble / math.max(img.getWidth, img.getHeight))
    val ow = math.max(1, math.ceil(img.getWidth * scale).toInt)
    val oh = math.max(1, math.ceil(img.getHeight * scale).toInt)
    val out = new java.awt.image.BufferedImage(ow, oh,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, ow, oh, null)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    Some((bos.toByteArray, ow, oh))
  }

  /** Decode a blob Dataset to features with per-partition batching (the
    * `mapInPandas`-shaped plumbing: one kernel init per partition, rows
    * streamed through it). Salt-repartition first so a few huge videos
    * cannot skew one task. The kernel is [[decodeReal]] — JDK codecs with
    * deterministic-stub fallback.
    */
  def decode(blobs: Dataset[MediaBlob], saltBuckets: Int = 16): Dataset[MediaFeatures] = {
    import blobs.sparkSession.implicits._
    blobs
      .repartition(blobs.sparkSession.sessionState.conf.numShufflePartitions,
        pmod(col("content_hash"), lit(saltBuckets)))
      .mapPartitions { it =>
        // kernel init happens once per partition here (decoder state, codec
        // registry); rows then stream through
        it.map(decodeReal)
      }
  }

  /** One REAL sampled video frame: container-parsed schedule position plus
    * the decoded frame re-encoded as PNG. */
  final case class SampledFrame(
      doc_id: String,
      media_ref: String,
      container: String,
      frame_no: Int,
      ts_ms: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      duration_ms: Int,
      png: Array[Byte])

  /** REAL frame sampling: decode each video blob's container (GIF or
    * MJPEG-AVI), take the frame on screen at every `everyMs` tick of its
    * true duration, and emit it as PNG bytes + schedule metadata. Same
    * mapPartitions/salt shape as [[decode]]; frames are decoded one at a
    * time per tick (never the whole video), so memory is bounded by one
    * frame regardless of clip length. Blobs the JVM cannot decode are
    * dropped (they carry no extractable frames — [[decode]] still features
    * them via the stub).
    */
  def extractFrames(blobs: Dataset[MediaBlob], everyMs: Int = 1000,
                    saltBuckets: Int = 16): Dataset[SampledFrame] = {
    import blobs.sparkSession.implicits._
    blobs
      .repartition(blobs.sparkSession.sessionState.conf.numShufflePartitions,
        pmod(col("content_hash"), lit(saltBuckets)))
      .mapPartitions { it =>
        it.filter(_.kind == "video").flatMap { b =>
          videoInfo(b.bytes).toSeq.flatMap(info => sampledFramesOf(b, info, everyMs))
        }
      }
  }

  /** One blob's sampled frames: the container is parsed ONCE and each
    * distinct scheduled frame decoded once, ascending (GIF: one reader
    * session, so the stream is never re-scanned per tick; AVI: one chunk
    * walk, JPEG slices decoded directly) — linear in container size, one
    * decoded frame resident at a time. */
  private def sampledFramesOf(b: MediaBlob, info: VideoInfo,
                              everyMs: Int): Seq[SampledFrame] = {
    val nTicks = math.max(1, (info.durationMs + everyMs - 1) / everyMs)
    val schedule = (0 until nTicks).map { k =>
      val ts = k * everyMs
      (ts, math.min(info.nFrames - 1, frameAt(info.delaysMs, ts)))
    }
    val ticksByFrame = schedule.groupBy(_._2)
    val fnos = ticksByFrame.keys.toSeq.sorted
    val out = Seq.newBuilder[SampledFrame]
    def emit(fno: Int, img: java.awt.image.BufferedImage): Unit = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val png = bos.toByteArray
      ticksByFrame(fno).foreach { case (ts, _) =>
        out += SampledFrame(b.doc_id, b.media_ref, info.container, fno, ts,
          info.width, info.height, info.nFrames, info.durationMs, png)
      }
    }
    try {
      if (info.container == "gif")
        gifReader(b.bytes).foreach { case (r, iis) =>
          try fnos.foreach { f =>
            (try Option(r.read(f)) catch { case _: Exception => None })
              .foreach(emit(f, _))
          } finally { r.dispose(); iis.close() }
        }
      else
        parseAvi(b.bytes).foreach { case (_, _, _, fs) =>
          fnos.foreach { f =>
            if (f >= 0 && f < fs.length) {
              val (off, len) = fs(f)
              Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(b.bytes, off, len)))
                .foreach(emit(f, _))
            }
          }
        }
    } catch { case _: Exception => () } // corrupt mid-stream: keep what decoded
    out.result().sortBy(_.ts_ms)
  }

  /** Frame sampling PLAN for videos: one (tick, ts_ms) row per `everyMs`
    * tick of the decoded duration — metadata-only explode, exactly the tick
    * schedule [[extractFrames]] (the kernel that produces the real bytes)
    * emits: `max(1, ceil(duration_ms / everyMs))` ticks at ts = k·everyMs.
    * Join plan to kernel output on (doc_id, media_ref, ts_ms); the kernel
    * additionally reports which CONTAINER frame was on screen at each tick.
    */
  def sampleFrames(features: DataFrame, everyMs: Int = 1000): DataFrame =
    features.where(col("kind") === "video")
      .select(col("doc_id"), col("media_ref"), col("content_hash"),
        explode(sequence(lit(0),
          greatest(expr(s"(duration_ms + ${everyMs - 1}) div $everyMs"), lit(1L))
            .cast("int") - 1))
          .as("tick"))
      .withColumn("ts_ms", col("tick") * everyMs)

  /** Resize plan: clamp longest side to `maxSide` preserving aspect ratio —
    * pure column arithmetic over the metadata (the kernel would apply it).
    */
  def resizePlan(features: DataFrame, maxSide: Int = 512): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide.toDouble) / greatest(col("width"), col("height")).cast("double"))
    features
      .withColumn("scale", scale)
      .withColumn("out_width", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", ceil(col("height") * col("scale")).cast("int"))
  }

  /** Exact media dedup by content hash (the blob never shuffles — only the
    * 64-bit hash + ids move).
    */
  def dedupByContent(blobs: DataFrame): DataFrame =
    blobs.groupBy(col("content_hash"))
      .agg(min(col("media_ref")).as("canonical_ref"), count(lit(1)).as("n_copies"))
}
