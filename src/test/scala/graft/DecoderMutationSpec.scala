package graft

import java.util.concurrent.{Callable, Executors, ExecutorService, TimeUnit, TimeoutException}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.Multimodal
import graft.sources._

/** Mutation property over the decoders of untrusted media and document
  * bytes: each encoder twin's output, truncated, bit-flipped, or with a length
  * field at a box, segment, chunk or IFD header replaced by a lie (0, 1, all
  * ones, the true length ±1), must decode within a fixed wall budget per call
  * and never throw, `Error`s included.
  *
  * Fixed: seed [[SeedValue]], [[Iterations]] random mutants per corpus entry
  * (every lie is tried exhaustively besides), [[BudgetMs]] per call. */
class DecoderMutationSpec extends AnyFunSuite {
  import DecoderMutationSpec._

  val SeedValue = 0x13B17E5L
  val Iterations = 1000
  val BudgetMs = 10000L

  // ---- header walks over the valid inputs (where the length fields are) ----

  private val isoContainers = Set("moov", "trak", "mdia", "minf", "stbl", "dinf")

  /** Box size fields of an ISO-BMFF tree; container boxes are walked too. */
  private def boxSizes(v: Bytes.View): Seq[LengthField] =
    Bytes.boxes(v).flatMap { b =>
      val at = b.body.from - 8
      LengthField(at, 4, "be", b.body.length + 8L) +:
        (if (isoContainers(b.typ)) boxSizes(b.body) else Nil)
    }

  /** Marker segment lengths of a JPEG 2000 codestream starting at `from`. */
  private def jpxLengths(b: Array[Byte], from: Int): Seq[LengthField] = {
    val v = Bytes.view(b)
    val out = Seq.newBuilder[LengthField]
    var i = from + 2
    while (v.u8(i + 1) != 0x93) {
      val l = v.u16(i + 2)
      out += LengthField(i + 2, 2, "be", l)
      i += 2 + l
    }
    out.result()
  }

  /** Data-length fields of a short-form JBIG2 embedded segment stream. */
  private def jbig2Lengths(b: Array[Byte]): Seq[LengthField] = {
    val v = Bytes.view(b)
    val out = Seq.newBuilder[LengthField]
    var i = 0
    while (i < b.length) {
      val lenAt = i + 7 + (v.u8(i + 5) >>> 5)
      val len = v.u32(lenAt)
      out += LengthField(lenAt, 4, "be", len)
      i = lenAt + 4 + len.toInt
    }
    out.result()
  }

  /** The APP1 segment length, the IFD0 offset, both IFD entry counts and
    * every entry's value count of a big-endian Exif JPEG. */
  private def exifLengths(b: Array[Byte]): Seq[LengthField] = {
    val v = Bytes.view(b)
    val t = 2 + 10 // SOI, then APP1 marker, length and "Exif\0\0"
    def ifd(at: Int): Seq[LengthField] = {
      val n = v.u16(t + at)
      LengthField(t + at, 2, "be", n) +:
        (0 until n).map(k => t + at + 2 + 12 * k + 4).map(p => LengthField(p, 4, "be", v.u32(p)))
    }
    val ifd0 = v.u32(t + 4).toInt
    val exifAt = Bytes.ifd(Bytes.view(b).slice(t, v.u16(4) - 8), ifd0)
      .find(_.tag == 0x8769).map(e => v.u32(t + e.valueAt).toInt).get
    Seq(LengthField(4, 2, "be", v.u16(4)), LengthField(t + 4, 4, "be", ifd0)) ++
      ifd(ifd0) ++ ifd(exifAt)
  }

  private val ebmlMasters =
    Set(0x1A45DFA3L, 0x18538067L, 0x1549A966L, 0x1654AE6BL, 0xAEL, 0xE0L, 0x1F43B675L)

  /** Element size vints of an EBML tree in `[from, to)`. */
  private def ebmlSizes(b: Array[Byte], from: Int, to: Int): Seq[LengthField] = {
    val out = Seq.newBuilder[LengthField]
    var i = from
    while (i < to) {
      val idLen = Integer.numberOfLeadingZeros(b(i) & 0xff) - 23
      val id = Bytes.view(b).uint(i, idLen)
      val szAt = i + idLen
      val szLen = Integer.numberOfLeadingZeros(b(szAt) & 0xff) - 23
      val size = Bytes.view(b).uint(szAt, szLen) & ((1L << (7 * szLen)) - 1)
      out += LengthField(szAt, szLen, "vint", size)
      val body = szAt + szLen
      if (ebmlMasters(id)) out ++= ebmlSizes(b, body, body + size.toInt)
      i = body + size.toInt
    }
    out.result()
  }

  /** Chunk sizes of a RIFF tree: the RIFF size, then every chunk and LIST. */
  private def riffSizes(b: Array[Byte]): Seq[LengthField] = {
    val v = Bytes.view(b, le = true)
    def walk(from: Int, to: Int): Seq[LengthField] = {
      val out = Seq.newBuilder[LengthField]
      var off = from
      while (off + 8 <= to) {
        val size = v.u32(off + 4).toInt
        out += LengthField(off + 4, 4, "le", size)
        if (v.fourcc(off) == "LIST") out ++= walk(off + 12, off + 8 + size)
        off += 8 + size + (size & 1)
      }
      out.result()
    }
    LengthField(4, 4, "le", v.u32(4)) +: walk(12, b.length)
  }

  // ---- the corpus ---------------------------------------------------------

  private lazy val targets: Seq[Target] = {
    val rnd = new scala.util.Random(SeedValue)
    val mp4 = Mp4.encodeVideo(64, 48, 6, 40)
    val img = Array.tabulate(19 * 13)(i => (i * 7 + rnd.nextInt(40)) & 0xff)
    val jpx = Jpx.encode(19, 13, img, levels = 2)
    val jpx3 = Jpx.encodeComps(19, 13, Seq(img, img.map(255 - _), img.map(_ / 2)), rct = true)
    val jp2 = Bytes.box("jP  ", Array(0x0d, 0x0a, 0x87, 0x0a).map(_.toByte)) ++
      Bytes.box("ftyp", "jp2 \u0000\u0000\u0000\u0000jp2 ".getBytes("ISO-8859-1")) ++
      Bytes.box("jp2c", jpx)
    val jpeg = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(
        new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB), "jpg", bos)
      bos.toByteArray
    }
    val exif = Exif.withExif(jpeg, Exif.Meta(6, "cam", "model-with-a-long-name",
      "2026:01:02 03:04:05", "2026:01:02 03:04:06", 640, 480))
    val bm = Jbig2.Bitmap(23, 11, Array.fill(23 * 11)((rnd.nextInt(3) / 2).toByte))
    val (pageSeg, regionSeg) = Jbig2.encodeSegments(bm)
    val (tPage, tDict, tText) = Jbig2.encodeTextSegments(bm)
    val (hPage, hDict, hRegion) = Jbig2.encodeHalftoneSegments(bm)
    val pcm = Seq.fill(2)(Array.fill(600)(rnd.nextInt(4000) - 2000))
    val flac = Flac.encode(44100, 16, pcm, blockSize = 256, midSide = true)
    val webm = Webm.encodeVideo(40, 30, 5, 40)
    val avi = Multimodal.syntheticAviVideoBlob("d", "r", 16, 12, 3, 40).bytes
    def jbig2(name: String, stream: Array[Byte]) =
      Target(name, stream, Jbig2.decodeEmbedded(Array.emptyByteArray, _), jbig2Lengths(stream))
    Seq(
      Target("mp4", mp4, Mp4.parse, boxSizes(Bytes.view(mp4))),
      Target("jpx raw", jpx, Jpx.decode, jpxLengths(jpx, 0)),
      Target("jpx rct", jpx3, Jpx.decode, jpxLengths(jpx3, 0)),
      Target("jpx jp2", jp2, Jpx.decode,
        boxSizes(Bytes.view(jp2)) ++ jpxLengths(jp2, jp2.length - jpx.length)),
      Target("exif", exif, Exif.parse, exifLengths(exif)),
      jbig2("jbig2 generic", pageSeg ++ regionSeg),
      jbig2("jbig2 text", tPage ++ tDict ++ tText),
      jbig2("jbig2 halftone", hPage ++ hDict ++ hRegion),
      Target("flac", flac, Flac.decode, Seq(LengthField(5, 3, "be", 34))),
      Target("webm", webm, Webm.parse, ebmlSizes(webm, 0, webm.length)),
      Target("avi", avi, Multimodal.videoInfo, riffSizes(avi)))
  }

  // ---- mutations ----------------------------------------------------------

  private def withLength(b: Array[Byte], f: LengthField, value: Long): Array[Byte] = {
    val out = b.clone()
    val bytes = f.order match {
      case "be" => Bytes.be(f.width)(value)
      case "le" => Bytes.le(f.width)(value)
      case _ => // same vint width: marker bit over the low 7·width value bits
        val v = Bytes.be(f.width)(value & ((1L << (7 * f.width)) - 1))
        v(0) = (v(0) | (0x80 >>> (f.width - 1))).toByte
        v
    }
    System.arraycopy(bytes, 0, out, f.at, f.width)
    out
  }

  /** 0, 1, all ones and the true length ±1, in the field's own width. */
  private def lies(f: LengthField): Seq[Long] = {
    val bits = if (f.order == "vint") 7 * f.width else 8 * f.width
    val ones = if (bits >= 64) -1L else (1L << bits) - 1
    Seq(0L, 1L, ones, f.truth - 1, f.truth + 1).distinct
  }

  /** A random mutant of `t`: a truncation, 1-8 bit flips, or a lie in a
    * random length field plus one bit flip. */
  private def mutant(t: Target): Gen[(String, Array[Byte])] = {
    val n = t.bytes.length
    val flip = for (at <- Gen.choose(0, n - 1); bit <- Gen.choose(0, 7)) yield (at, bit)
    def flipped(b: Array[Byte], fs: Seq[(Int, Int)]) = {
      val out = b.clone()
      fs.foreach { case (at, bit) => out(at) = (out(at) ^ (1 << bit)).toByte }
      out
    }
    val truncate = Gen.choose(0, n - 1).map(k => (s"truncated to $k", t.bytes.take(k)))
    val flips = Gen.choose(1, 8).flatMap(Gen.listOfN(_, flip))
      .map(fs => (s"flipped $fs", flipped(t.bytes, fs)))
    val lie = for {
      f <- Gen.oneOf(t.lengths)
      value <- Gen.oneOf(lies(f))
      fl <- flip
    } yield (s"length at ${f.at} = $value, flipped $fl", flipped(withLength(t.bytes, f, value), Seq(fl)))
    Gen.frequency(1 -> truncate, 2 -> flips, 1 -> lie)
  }

  // ---- the property -------------------------------------------------------

  private def daemonPool(): ExecutorService = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val th = new Thread(r, "decoder-mutation"); th.setDaemon(true); th
  }

  test("mutated encoder-twin outputs decode within the budget and never throw") {
    val started = System.nanoTime()
    var pool = daemonPool()
    val failures = Seq.newBuilder[String]
    var calls = 0
    var slowest = (0L, "")
    def check(t: Target, what: String, input: Array[Byte]): Unit = {
      calls += 1
      val t0 = System.nanoTime()
      val result = pool.submit(new Callable[Option[String]] {
        def call(): Option[String] =
          try { t.decode(input); None } catch { case e: Throwable => Some(e.toString) }
      })
      try result.get(BudgetMs, TimeUnit.MILLISECONDS)
        .foreach(e => failures += s"${t.name}, $what: threw $e")
      catch {
        case _: TimeoutException =>
          failures += s"${t.name}, $what: ran past $BudgetMs ms"
          pool.shutdownNow(); pool = daemonPool() // the stuck call keeps its thread
      }
      val ms = (System.nanoTime() - t0) / 1000000
      if (ms > slowest._1) slowest = (ms, s"${t.name}, $what")
    }
    var seed = Seed(SeedValue)
    for (t <- targets) {
      assert(t.decode(t.bytes) match { case o: Option[_] => o.isDefined; case _ => false },
        s"${t.name}: the unmutated input must decode")
      assert(t.lengths.nonEmpty, t.name)
      for (f <- t.lengths; value <- lies(f))
        check(t, s"length at ${f.at} = $value", withLength(t.bytes, f, value))
      val gen = mutant(t)
      for (_ <- 0 until Iterations) {
        gen.apply(Gen.Parameters.default, seed).foreach { case (what, input) => check(t, what, input) }
        seed = seed.next
      }
    }
    pool.shutdownNow()
    val found = failures.result()
    val secs = (System.nanoTime() - started) / 1e9
    info(f"$calls calls over ${targets.length} inputs in $secs%.1f s; slowest ${slowest._1} ms: ${slowest._2}")
    assert(found.isEmpty, s"${found.length} failures, first ones:\n${found.take(10).mkString("\n")}")
  }

  // ---- JBIG2 regions larger than their page ---------------------------------

  /** `stream` with the big-endian 32-bit field at `off` of its last segment's
    * data set to `value`. */
  private def lastSegmentField(stream: Array[Byte], off: Int, value: Long): Array[Byte] = {
    val out = stream.clone()
    System.arraycopy(Bytes.be(4)(value), 0, out, jbig2Lengths(stream).last.at + 4 + off, 4)
    out
  }

  test("a JBIG2 generic region or halftone grid with more pixels than its page decodes to None") {
    val rnd = new scala.util.Random(SeedValue)
    val bm = Jbig2.Bitmap(23, 11, Array.fill(23 * 11)((rnd.nextInt(3) / 2).toByte))
    val (pageSeg, regionSeg) = Jbig2.encodeSegments(bm)
    val (hPage, hDict, hRegion) = Jbig2.encodeHalftoneSegments(bm)
    def decode(stream: Array[Byte]) = Jbig2.decodeEmbedded(Array.emptyByteArray, stream)
    assert(decode(pageSeg ++ regionSeg).map(_.bitmap.bits.toSeq).contains(bm.bits.toSeq))
    assert(decode(hPage ++ hDict ++ hRegion).map(_.bitmap.bits.toSeq).contains(bm.bits.toSeq))
    // region width 23 → 4,194,327 (bit 22 set) on the 23×11 page: 46M pixels,
    // under the 64M-pixel region cap, but 182,362 times the page
    assert(decode(lastSegmentField(pageSeg ++ regionSeg, 0, 23L | (1L << 22))).isEmpty)
    // halftone grid height 11 → 262,155 (bit 18 set): 23×262,155 cells,
    // under the 16M-cell grid cap, but 23,832 times the page
    assert(decode(lastSegmentField(hPage ++ hDict ++ hRegion, 22, 11L | (1L << 18))).isEmpty)
  }

  // ---- JPX marker segments shorter than their fields ----------------------

  private def marker(code: Int, body: Array[Byte]): Array[Byte] =
    Array(0xff.toByte, code.toByte) ++ Bytes.be(2)(body.length + 2) ++ body

  /** QCD (guard bits 2, one exponent), SOT of tile 0 whose single packet is
    * empty, SOD, the packets, EOC. */
  private def jpxTail(packets: Int): Array[Byte] =
    marker(0x5c, Array(0x40, 0x40).map(_.toByte)) ++
      marker(0x90, Bytes.be(2)(0) ++ Bytes.be(4)(12 + packets) ++ Array[Byte](0, 1)) ++
      Array(0xff.toByte, 0x93.toByte) ++ new Array[Byte](packets) ++
      Array(0xff.toByte, 0xd9.toByte)

  private val soc = Array(0xff.toByte, 0x4f.toByte)
  private def siz(w: Int, h: Int) = marker(0x51,
    Bytes.be(2)(0) ++ Bytes.be(4)(w, h, 0, 0, w, h, 0, 0) ++ Bytes.be(2)(1) ++ Array[Byte](7, 1, 1))
  private val cod = marker(0x52, Array[Byte](0, 0, 0, 1, 0, 0, 4, 4, 0, 1))

  test("a JPX SIZ segment whose length is shorter than its fields decodes to None") {
    // reference: the same picture with a well-formed SIZ decodes
    assert(Jpx.decode(soc ++ siz(3, 2) ++ cod ++ jpxTail(1)).map(_.samples.toSeq)
      .contains(Seq.fill(6)(128)))
    // SIZ claims 2 bytes (its length field alone). Its fields would then be
    // read from what follows: a COM segment whose marker takes the place of
    // Rsiz, whose length (37) is the high half of Xsiz, and whose body ends
    // where the SIZ fields end
    val fields = Bytes.be(2)(0) ++ Bytes.be(4)(1, 0, 0, 0x250000, 1, 0, 0) ++
      Bytes.be(2)(1) ++ Array[Byte](7, 1, 1)
    val shortSiz = Array(0xff, 0x51, 0, 2, 0xff, 0x64, 0, 0x25).map(_.toByte) ++ fields
    assert(Jpx.decode(soc ++ shortSiz ++ cod ++ jpxTail(1)).isEmpty)
  }

  test("a JPX COD segment whose length is shorter than its fields decodes to None") {
    assert(Jpx.decode(soc ++ siz(4, 4) ++ cod ++ jpxTail(1)).isDefined)
    // COD claims 7 bytes: Scod, progression, layers and MCT. Its levels,
    // code-block sizes, style and transform would then be read from a COM
    // segment behind it: marker 0xff (255 levels), 0x64 and the length's
    // high nibble (64×64 code-blocks), the length's low byte (style 0) and
    // the COM body's first byte (the 5/3 transform)
    val shortCod = Array(0xff, 0x52, 0, 7, 0, 0, 0, 1, 0).map(_.toByte) ++
      marker(0x64, Array(1.toByte) ++ new Array[Byte](1021))
    assert(Jpx.decode(soc ++ siz(4, 4) ++ shortCod ++ jpxTail(256)).isEmpty)
  }
}

object DecoderMutationSpec {

  /** A length field of a valid input: `width` bytes at `at`, big-endian,
    * little-endian or an EBML size vint. */
  final case class LengthField(at: Int, width: Int, order: String, truth: Long)

  /** One corpus entry: a valid input, the entry point under test, and the
    * length fields of its headers. */
  final case class Target(name: String, bytes: Array[Byte], decode: Array[Byte] => Any,
                          lengths: Seq[LengthField])
}
