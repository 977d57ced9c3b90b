package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Jbig2, Pdf}

/** JBIG2 (ITU-T T.88) codec tests. The decoder's testable property is the
  * same one [[PdfCryptSpec]] uses for the cipher family: the spec's own
  * forward direction (MQ encoder + generic-region encoder + embedded-stream
  * writer) produces streams the decoder must reproduce exactly — bit-for-bit
  * bitmap equality across TPGDON, moved AT pixels, and the PDF
  * /JBIG2Globals split organisation.
  */
class Jbig2Spec extends AnyFunSuite {

  // ---- MQ coder -------------------------------------------------------------

  test("MQ round-trip: random bits under random contexts") {
    val rnd = new scala.util.Random(42)
    val bits = Array.fill(5000)(rnd.nextInt(2))
    val cxs = Array.fill(5000)(rnd.nextInt(1 << 16))
    val enc = new Jbig2.MqEncoder
    val ectx = new Jbig2.Contexts(1 << 16)
    bits.indices.foreach(i => enc.encode(ectx, cxs(i), bits(i)))
    val coded = enc.finish()
    val dec = new Jbig2.MqDecoder(coded)
    val dctx = new Jbig2.Contexts(1 << 16)
    val back = bits.indices.map(i => dec.decode(dctx, cxs(i))).toArray
    assert(back.sameElements(bits))
  }

  test("MQ round-trip: skewed sources compress and still round-trip") {
    // heavily-biased bits exercise the MPS/LPS exchange + renorm paths the
    // uniform source rarely hits, and the adaptive table should pay off
    for (p <- Seq(0.02, 0.5, 0.98)) {
      val rnd = new scala.util.Random((p * 1000).toInt)
      val bits = Array.fill(8000)(if (rnd.nextDouble() < p) 1 else 0)
      val enc = new Jbig2.MqEncoder
      val ectx = new Jbig2.Contexts(1)
      bits.foreach(b => enc.encode(ectx, 0, b))
      val coded = enc.finish()
      val dec = new Jbig2.MqDecoder(coded)
      val dctx = new Jbig2.Contexts(1)
      val back = bits.indices.map(_ => dec.decode(dctx, 0)).toArray
      assert(back.sameElements(bits), s"p=$p")
      if (p != 0.5) assert(coded.length < 8000 / 8 + 32, s"p=$p did not compress: ${coded.length}")
    }
  }

  test("MQ round-trip: short sequences stress the flush boundary") {
    // a 2000-seed sweep of 1-80-decision sequences: this is the regime that
    // exposed the carry-bit leak in BYTEOUT (bit 27 must be cleared after
    // folding the carry into the pending byte) and pins SETBITS staying
    // inside [C, C+A)
    for (seed <- 0 until 2000) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(80)
      val cxs = Array.fill(n)(rnd.nextInt(19))
      val bits = Array.fill(n)(rnd.nextInt(2))
      def ctx() = {
        val c = new Jbig2.Contexts(19)
        c.idx(18) = 46; c.idx(17) = 3; c.idx(0) = 4 // JPEG2000 initial states
        c
      }
      val enc = new Jbig2.MqEncoder
      val ectx = ctx()
      for (i <- 0 until n) enc.encode(ectx, cxs(i), bits(i))
      val coded = enc.finish()
      val dec = new Jbig2.MqDecoder(coded)
      val dctx = ctx()
      val back = (0 until n).map(i => dec.decode(dctx, cxs(i)))
      assert(back == bits.toSeq, s"seed=$seed n=$n")
    }
  }

  test("MQ round-trip: all-zero and all-one runs (byte-stuffing path)") {
    for (v <- Seq(0, 1)) {
      val bits = Array.fill(4096)(v)
      val enc = new Jbig2.MqEncoder
      val ectx = new Jbig2.Contexts(1)
      bits.foreach(b => enc.encode(ectx, 0, b))
      val coded = enc.finish()
      val dec = new Jbig2.MqDecoder(coded)
      val dctx = new Jbig2.Contexts(1)
      assert(bits.indices.forall(_ => dec.decode(dctx, 0) == v), s"v=$v")
    }
  }

  // ---- Generic region -------------------------------------------------------

  private def randomBitmap(w: Int, h: Int, seed: Int, density: Int = 3): Jbig2.Bitmap = {
    val rnd = new scala.util.Random(seed)
    Jbig2.Bitmap(w, h, Array.fill[Byte](w * h)(if (rnd.nextInt(7) < density) 1 else 0))
  }

  test("generic region round-trip: template 0, nominal AT") {
    for (seed <- 0 until 5; tp <- Seq(false, true)) {
      val bm = randomBitmap(37, 23, seed)
      val coded = Jbig2.encodeGenericRegion(bm, tp)
      val back = Jbig2.decodeGenericRegion(coded, 37, 23, tp)
      assert(java.util.Arrays.equals(back.bits, bm.bits), s"seed=$seed tpgdon=$tp")
    }
  }

  test("generic region round-trip: moved AT pixels") {
    val bm = randomBitmap(41, 19, seed = 7)
    for (at <- Seq(
        Jbig2.AtPixels(a1 = (2, -1)),
        Jbig2.AtPixels(a1 = (-2, 0), a2 = (-4, -1)),
        Jbig2.AtPixels(a1 = (8, -1), a3 = (5, -2)))) {
      val coded = Jbig2.encodeGenericRegion(bm, tpgdon = false, at)
      val back = Jbig2.decodeGenericRegion(coded, 41, 19, tpgdon = false, at)
      assert(java.util.Arrays.equals(back.bits, bm.bits), s"at=$at")
    }
  }

  test("TPGDON: repeated rows take the typical-prediction path and shrink") {
    val w = 64; val h = 48
    val row = Array.tabulate[Byte](w)(x => if (x % 3 == 0) 1 else 0)
    val bm = Jbig2.Bitmap(w, h, Array.fill(h)(row).flatten)
    val plain = Jbig2.encodeGenericRegion(bm, tpgdon = false)
    val tpgd = Jbig2.encodeGenericRegion(bm, tpgdon = true)
    assert(java.util.Arrays.equals(
      Jbig2.decodeGenericRegion(tpgd, w, h, tpgdon = true).bits, bm.bits))
    assert(tpgd.length < plain.length,
      s"typical rows should compress: tpgd=${tpgd.length} plain=${plain.length}")
  }

  test("packed rows are MSB-first 1-bpp") {
    val bm = Jbig2.Bitmap(10, 2, Array[Byte](
      1, 0, 0, 0, 0, 0, 0, 1, 1, 1,
      0, 1, 0, 0, 0, 0, 0, 0, 0, 0))
    assert(bm.packed.toSeq == Seq(0x81.toByte, 0xC0.toByte, 0x40.toByte, 0x00.toByte))
  }

  // ---- Embedded segment stream ----------------------------------------------

  test("embedded stream round-trip: segments parse, region decodes") {
    val bm = randomBitmap(33, 21, seed = 3)
    val stream = Jbig2.encodeEmbedded(bm, tpgdon = true)
    val segs = Jbig2.parseSegments(stream).get
    assert(segs.map(_.segType) == Seq(48, 39))
    val r = Jbig2.decodeFirstGenericRegion(stream).get
    assert(r.bitmap.width == 33 && r.bitmap.height == 21)
    assert(java.util.Arrays.equals(r.bitmap.bits, bm.bits))
  }

  test("split organisation: globals page segment + image region segment") {
    val bm = randomBitmap(25, 17, seed = 11)
    val (page, region) = Jbig2.encodeSegments(bm)
    val r = Jbig2.decodeFirstGenericRegion(page ++ region).get
    assert(java.util.Arrays.equals(r.bitmap.bits, bm.bits))
    // region segment alone still decodes (globals optional for generic-only)
    val alone = Jbig2.decodeFirstGenericRegion(region).get
    assert(java.util.Arrays.equals(alone.bitmap.bits, bm.bits))
  }

  test("malformed and out-of-scope streams return None, never throw") {
    assert(Jbig2.parseSegments(Array[Byte](1, 2, 3)).isEmpty)
    assert(Jbig2.decodeFirstGenericRegion(Array.emptyByteArray).isEmpty)
    // an MMR-flagged region header must fall back
    val bm = randomBitmap(9, 9, seed = 1)
    val (_, region) = Jbig2.encodeSegments(bm)
    val mmr = region.clone()
    // region segment: 11-byte header, 17 bytes of region info, flags at +17
    mmr(11 + 17) = (mmr(11 + 17) | 1).toByte
    assert(Jbig2.decodeFirstGenericRegion(mmr).isEmpty)
    // truncated MQ data decodes without throwing (marker-byte tail) but a
    // truncated segment header is malformed
    assert(Jbig2.parseSegments(region.take(6)).isEmpty)
  }

  // ---- PDF end-to-end -------------------------------------------------------

  test("synthetic JBIG2 PDFs: dims and dark count are bitstream-authoritative") {
    for (id <- 0L until 12L) {
      val rows = Pdf.extractImages(Pdf.PdfBinary(id.toString, 0, Pdf.syntheticJbig2Pdf(id)))
      assert(rows.size == 1, s"id=$id")
      val r = rows.head
      val w0 = 24 + (id % 20).toInt
      val h0 = 16 + ((3 * id) % 14).toInt
      val dark = (for (y <- 0 until h0; x <- 0 until w0
                       if (3 * x + 5 * y + id) % 7 < 3) yield 1).size.toLong
      assert(r.filter == "jbig2", s"id=$id: ${r.filter}")
      // the PDF dict deliberately lies (/Width w0+7): decode must win
      assert(r.width == w0 && r.height == h0, s"id=$id: ${r.width}x${r.height}")
      assert(r.dark == dark, s"id=$id: dark=${r.dark} expected $dark")
    }
  }

  test("undecodable JPX payload yields -1 dims; non-Flate JBIG2 chain labeled unsupported") {
    val bm = randomBitmap(12, 12, seed = 2)
    val stream = Jbig2.encodeEmbedded(bm)
    def onePdf(filter: String, payload: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
      w("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      w("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
      w("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /XObject << /Im0 5 0 R >> >> >>\nendobj\n")
      w("4 0 obj\n<< /Length 2 >>\nstream\nBT\nendstream\nendobj\n")
      w(s"5 0 obj\n<< /Subtype /Image /Width 12 /Height 12 /BitsPerComponent 1 " +
        s"/Filter $filter /Length ${payload.length} >>\nstream\n")
      out.write(payload)
      w("\nendstream\nendobj\n%%EOF\n")
      out.toByteArray
    }
    // a JBIG2 stream behind /JPXDecode is not a JPEG 2000 codestream: the
    // real decoder refuses it rather than guessing
    val jpx = Pdf.extractImages(Pdf.PdfBinary("a", 0, onePdf("/JPXDecode", stream)))
    assert(jpx.head.filter == "jpx" && jpx.head.width == -1)
    val hexed = stream.map(b => f"${b & 0xff}%02x").mkString.getBytes("ISO-8859-1") ++ Array('>'.toByte)
    val chain = Pdf.extractImages(Pdf.PdfBinary("b", 0,
      onePdf("[ /ASCIIHexDecode /JBIG2Decode ]", hexed)))
    assert(chain.head.filter == "unsupported" && chain.head.width == -1)
  }

  // ---- GBTEMPLATE 1-3 ---------------------------------------------------------

  test("generic region round-trip: templates 1-3, nominal and moved AT") {
    for (template <- 1 to 3; tp <- Seq(false, true)) {
      val bm = randomBitmap(33, 21, seed = 7 * template + (if (tp) 1 else 0))
      val nominal = if (template == 1) Jbig2.AtPixels(a1 = (3, -1))
                    else Jbig2.AtPixels(a1 = (2, -1))
      for (at <- Seq(nominal, Jbig2.AtPixels(a1 = (-2, -1)), Jbig2.AtPixels(a1 = (0, -2)))) {
        val coded = Jbig2.encodeGenericRegion(bm, tp, at, template)
        val back = Jbig2.decodeGenericRegion(coded, 33, 21, tp, at, template)
        assert(java.util.Arrays.equals(back.bits, bm.bits),
          s"template=$template tpgdon=$tp at=$at")
      }
    }
  }

  test("embedded stream round-trip: generic regions under templates 1-3") {
    for (template <- 1 to 3) {
      val bm = randomBitmap(26, 17, seed = 100 + template)
      val (page, region) = Jbig2.encodeSegments(bm,
        at = Jbig2.AtPixels(a1 = (2, -1)), template = template)
      val r = Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ region).get
      assert(r.bitmap.width == 26 && r.bitmap.height == 17)
      assert(java.util.Arrays.equals(r.bitmap.bits, bm.bits), s"template=$template")
    }
  }

  // ---- Annex A integer codec --------------------------------------------------

  test("arithmetic integer codec round-trips every bucket and OOB") {
    val boundary = Seq(0, 1, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436,
      100000, Int.MaxValue / 2)
    val values: Seq[Option[Int]] =
      boundary.map(v => Some(v)) ++ boundary.filter(_ != 0).map(v => Some(-v)) ++
        Seq(None, Some(0), None) ++ // OOB interleaved with real zeros
        Seq.tabulate(500)(i => if (i % 17 == 0) None
          else Some(new scala.util.Random(i).nextInt(9001) - 4500))
    val enc = new Jbig2.MqEncoder
    val cx = new Jbig2.Contexts(512)
    values.foreach(v => Jbig2.encodeInt(enc, cx, v))
    val coded = enc.finish()
    val dec = new Jbig2.MqDecoder(coded)
    val cx2 = new Jbig2.Contexts(512)
    values.zipWithIndex.foreach { case (v, i) =>
      assert(Jbig2.decodeInt(dec, cx2) == v, s"value #$i = $v")
    }
  }

  // ---- Symbol dictionary + text region ---------------------------------------

  test("symbol/text organisation round-trips: all corners x templates") {
    for (template <- 0 to 3; corner <- 0 to 3) {
      val bm = randomBitmap(29 + corner, 18 + template, seed = 31 * template + corner)
      val at = if (template <= 1) Jbig2.AtPixels() else Jbig2.AtPixels(a1 = (2, -1))
      val (page, dict, text) =
        Jbig2.encodeTextSegments(bm, template, corner, chunkW = 7, at = at)
      val r = Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ dict ++ text).get
      assert(r.bitmap.width == bm.width && r.bitmap.height == bm.height)
      assert(java.util.Arrays.equals(r.bitmap.bits, bm.bits),
        s"template=$template corner=$corner")
    }
  }

  test("symbol reuse: periodic bitmaps dedupe slices into fewer symbols") {
    // period-8 columns with chunkW=8 → every slice identical → ONE symbol
    val w = 40; val h = 12
    val bits = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w if (x % 8 + 3 * y) % 5 < 2)
      bits(y * w + x) = 1
    val bm = Jbig2.Bitmap(w, h, bits)
    val (page, dict, text) = Jbig2.encodeTextSegments(bm, chunkW = 8)
    // the dictionary payload must carry exactly one symbol (numNew at
    // offset 2 + 8 AT bytes + 4): five instances reuse it
    val numNew = ((dict(11 + 2 + 8 + 4) & 0xff) << 24) | ((dict(11 + 2 + 8 + 5) & 0xff) << 16) |
      ((dict(11 + 2 + 8 + 6) & 0xff) << 8) | (dict(11 + 2 + 8 + 7) & 0xff)
    assert(numNew == 1, s"expected 1 deduped symbol, dict header says $numNew")
    val r = Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ dict ++ text).get
    assert(java.util.Arrays.equals(r.bitmap.bits, bm.bits))
  }

  test("split organisation: symbol dictionary in globals, text region in stream") {
    val bm = randomBitmap(25, 14, seed = 77)
    val (page, dict, text) = Jbig2.encodeTextSegments(bm)
    val r = Jbig2.decodeEmbedded(page ++ dict, text).get
    assert(java.util.Arrays.equals(r.bitmap.bits, bm.bits))
  }

  // ---- Pattern dictionary + halftone region ------------------------------------

  test("halftone round-trip: multi-size patterns, gray planes, skewed grids") {
    for (template <- 0 to 3) {
      // 5 patterns of 3x2 → 3 gray bitplanes; grid 7x4 with a skew vector
      val pats = (0 until 5).map { k =>
        Jbig2.Bitmap(3, 2, Array.tabulate(6)(i => (((i + k) % (k + 2)) min 1).toByte))
      }
      val hgw = 7; val hgh = 4
      val gi = Array.tabulate(hgw * hgh)(i => (i * 3 + template) % 5)
      val w = 40; val h = 30
      val dictP = Jbig2.encodePatternDictPayload(pats.toIndexedSeq, template)
      val htP = Jbig2.encodeHalftoneRegionPayload(w, h, 0, 0, 5, gi,
        hgw, hgh, hgx = 2, hgy = 1, hrx = 4, hry = 1, template = template)
      // expected page: independent direct composition
      val want = Jbig2.Bitmap(w, h, new Array[Byte](w * h))
      for (mg <- 0 until hgh; ng <- 0 until hgw) {
        val p = pats(gi(mg * hgw + ng))
        val x0 = 2 + mg * 1 + ng * 4
        val y0 = 1 + mg * 4 - ng * 1
        for (yy <- 0 until p.height; xx <- 0 until p.width
             if y0 + yy >= 0 && y0 + yy < h && x0 + xx >= 0 && x0 + xx < w)
          want.set(x0 + xx, y0 + yy,
            want.get(x0 + xx, y0 + yy) | p.get(xx, yy))
      }
      val pageInfo = Array.fill(19)(0.toByte) // parse only needs w/h at 0/4
      System.arraycopy(Array[Byte](0, 0, 0, w.toByte), 0, pageInfo, 0, 4)
      System.arraycopy(Array[Byte](0, 0, 0, h.toByte), 0, pageInfo, 4, 4)
      val stream = // hand-assemble: page info 48, pattern dict 16, halftone 23
        Jbig2.segmentBytes(0, 48, 1, pageInfo) ++
          Jbig2.segmentBytes(1, 16, 1, dictP) ++
          Jbig2.segmentBytes(2, 23, 1, htP, refs = Seq(1L))
      val r = Jbig2.decodeEmbedded(Array.emptyByteArray, stream).get
      assert(java.util.Arrays.equals(r.bitmap.bits, want.bits), s"template=$template")
    }
  }

  test("halftone 1x1 organisation reproduces any bitmap exactly") {
    for (template <- Seq(0, 2)) {
      val bm = randomBitmap(31, 22, seed = 400 + template)
      val (page, dict, ht) = Jbig2.encodeHalftoneSegments(bm, template)
      val r = Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ dict ++ ht).get
      assert(r.bitmap.width == 31 && r.bitmap.height == 22)
      assert(java.util.Arrays.equals(r.bitmap.bits, bm.bits), s"template=$template")
      // split organisation: dictionary travels the globals stream
      val r2 = Jbig2.decodeEmbedded(page ++ dict, ht).get
      assert(java.util.Arrays.equals(r2.bitmap.bits, bm.bits))
    }
  }

  test("out-of-scope halftone forms fall back: skip flag, missing dictionary") {
    val bm = randomBitmap(10, 8, seed = 9)
    val (page, dict, ht) = Jbig2.encodeHalftoneSegments(bm)
    // halftone without its pattern dictionary is undecodable
    assert(Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ ht).isEmpty)
    // flip HENABLESKIP: out of scope, never a guess
    val skip = ht.clone()
    // header: 12 bytes (1 ref), region info 17, flags at +17
    skip(12 + 17) = (skip(12 + 17) | 8).toByte
    assert(Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ dict ++ skip).isEmpty)
  }

  test("out-of-scope symbol/text forms fall back to None, never throw") {
    val bm = randomBitmap(16, 10, seed = 5)
    val (page, dict, text) = Jbig2.encodeTextSegments(bm)
    // a text region whose dictionary is missing is undecodable
    assert(Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ text).isEmpty)
    // flip SDHUFF on: Huffman dictionaries are out of scope
    val huff = dict.clone()
    huff(11 + 1) = (huff(11 + 1) | 1).toByte // payload flags low byte
    assert(Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ huff ++ text).isEmpty)
    // flip SBHUFF on the text region
    val thuff = text.clone()
    // text region payload: 12-byte header (1 ref), 17 region info, flags at +17
    thuff(12 + 17 + 1) = (thuff(12 + 17 + 1) | 1).toByte
    assert(Jbig2.decodeEmbedded(Array.emptyByteArray, page ++ dict ++ thuff).isEmpty)
  }

  test("symbol dictionaries that never progress fail closed within a wall budget") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    // template-0 symbol dictionary payload: flags, nominal AT bytes, SDNUMEXSYMS,
    // SDNUMNEWSYMS, then the arithmetic-coded body `code` writes
    def dictPayload(numEx: Int, numNew: Int)(
        code: (Jbig2.MqEncoder, Jbig2.Contexts, Jbig2.Contexts, Jbig2.Contexts) => Unit) = {
      val enc = new Jbig2.MqEncoder
      code(enc, new Jbig2.Contexts(512), new Jbig2.Contexts(512), new Jbig2.Contexts(512))
      Array[Byte](0, 0) ++ Array(3, -1, -3, -1, 2, -2, -2, -2).map(_.toByte) ++
        be32(numEx) ++ be32(numNew) ++ enc.finish()
    }
    // every height class after the first is empty (dh = 0, then OOB): no
    // symbol is ever added, and the decoder's marker padding keeps repeating it
    val emptyClasses = dictPayload(numEx = 1, numNew = 1) { (enc, iadh, iadw, _) =>
      Jbig2.encodeInt(enc, iadh, Some(1))
      Jbig2.encodeInt(enc, iadw, None)
      for (_ <- 0 until 200) {
        Jbig2.encodeInt(enc, iadh, Some(0))
        Jbig2.encodeInt(enc, iadw, None)
      }
    }
    // an export-flag run of zero never advances over the referred symbol
    val (page, dict, _) = Jbig2.encodeTextSegments(randomBitmap(8, 6, seed = 9))
    val zeroRuns = dictPayload(numEx = 1, numNew = 0) { (enc, _, _, iaex) =>
      for (_ <- 0 until 200) Jbig2.encodeInt(enc, iaex, Some(0))
    }
    val streams = Seq(
      "empty height classes" -> (page ++ Jbig2.segmentBytes(1, 0, 1, emptyClasses)),
      "zero export runs" -> (page ++ dict ++ Jbig2.segmentBytes(2, 0, 1, zeroRuns, refs = Seq(1L))))
    for ((name, stream) <- streams) {
      val decoded = Future(Jbig2.decodeEmbedded(Array.emptyByteArray, stream))
      assert(Await.result(decoded, 20.seconds).isEmpty, name)
    }
  }
}
