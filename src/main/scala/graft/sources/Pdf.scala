package graft.sources

import graft.core.Xxh64
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** PDF source — page-wise text/image/link extraction shaped after the
  * reference's pypdf processor (/root/reference/crawl4ai/processors/pdf/
  * processor.py:57-430): one input binary → N page rows with text, image
  * counts, and links.
  *
  * REAL bytes go through [[PdfParse]] — a from-scratch parser for the
  * classic text-PDF subset (raw//FlateDecode streams, BT…ET text operators,
  * page tree, /Annots URIs, image XObjects; the JDK's Inflater is the only
  * codec needed). Inputs the parser cannot resolve (not a PDF, encrypted,
  * exotic filters) fall back to the deterministic STUB kernel below, which
  * synthesizes page features from the byte content — so the Spark plumbing
  * (`binaryFile` schema, per-partition batched decode, page explosion,
  * span-doc projection) always has rows to carry and the benchmark corpus
  * needs no real files.
  */
object Pdf {

  final case class PdfBinary(path: String, length: Long, content: Array[Byte])
  final case class PdfPage(
      doc_id: String,
      page_no: Int,
      text: String,
      n_images: Int,
      links: Seq[String])

  /** ===== STUB KERNEL ===== deterministic fake page extraction: page count
    * and per-page features derive from the content hash. A real build swaps
    * this body for a pypdf-equivalent JVM parser; the signature and the
    * one-binary→many-pages shape are the contract.
    */
  def extractPagesStub(doc: PdfBinary): Seq[PdfPage] = {
    val h = Xxh64.hashBytes(doc.content, 42L)
    val nPages = 1 + (math.abs(h) % 8).toInt
    (0 until nPages).map { p =>
      val ph = Xxh64.hashLong(h, p.toLong)
      val nWords = 20 + (math.abs(ph) % 80).toInt
      val words = (0 until nWords).map(i =>
        s"w${math.abs(Xxh64.hashLong(ph, i.toLong)) % 500}")
      val nImages = (math.abs(ph >> 17) % 4).toInt
      val nLinks = (math.abs(ph >> 29) % 3).toInt
      val links = (0 until nLinks).map(i =>
        s"http://ref.example.com/${math.abs(Xxh64.hashLong(ph, 1000L + i)) % 1000}")
      PdfPage(doc.path, p, words.mkString(" "), nImages, links)
    }
  }

  // ---- deterministic synthetic PDF generator (bench/driver corpus) --------

  private def pdfTokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty)

  private def pageTexts(id: Long, text: String): Seq[String] = {
    val toks = pdfTokens(text)
    val nPages = 1 + (math.abs(id) % 3).toInt
    (0 until nPages).map { p =>
      if (toks.isEmpty) ""
      else (0 until 8).map(k => toks(((p * 8 + k) % toks.length).toInt)).mkString(" ")
    }
  }

  private def hasImage(id: Long): Boolean = id % 2 == 0
  private def linksFor(id: Long): Seq[String] =
    if (id % 5 == 0) Seq(s"http://ref.example.com/pdf/$id") else Nil

  private def deflateBytes(content: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(content); d.finish()
    val buf = new Array[Byte](content.length * 2 + 64)
    val len = d.deflate(buf); d.end()
    java.util.Arrays.copyOf(buf, len)
  }

  /** GENERATOR-INTENT twin of [[syntheticPdf]]: the page rows the builder
    * intends, computed WITHOUT the parser — the oracle side of q_pdf_pages.
    */
  def syntheticPdfIntent(id: Long, text: String): Seq[PdfPage] =
    pageTexts(id, text).zipWithIndex.map { case (t, p) =>
      PdfPage(s"doc$id.pdf", p,
        t,
        if (p == 0 && hasImage(id)) 1 else 0,
        if (p == 0) linksFor(id) else Nil)
    }

  /** True when the synthetic doc for `id` is emitted ENCRYPTED (AES-128
    * standard security handler, empty user password) — every third classic-
    * layout doc, so the driver gate exercises the decryption path too. */
  def syntheticEncrypted(id: Long): Boolean = id % 3 == 1 && id % 7 != 0

  private def md5(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("US-ASCII"))

  /** Deterministic synthetic PDF bytes for one (id, text) document:
    * 1 + id%3 pages of 8-token slices, an image XObject on page 0 for even
    * ids, a /URI annot for ids divisible by 5 — and ids divisible by 7 emit
    * the MODERN layout (catalog/pages/page dicts packed in a /ObjStm,
    * resolved via a PDF-1.5 xref STREAM) so the driver gate exercises both
    * parser paths. All streams Flate-compressed. Docs selected by
    * [[syntheticEncrypted]] are AES-128-encrypted at generation time
    * (deterministic file ID/O/IVs; the real Algorithm-2 key so the parser's
    * /U check passes) with the /Encrypt dict carried by a trailer keyword.
    */
  def syntheticPdf(id: Long, text: String): Array[Byte] = {
    val texts = pageTexts(id, text)
    val n = texts.length
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val modern = id % 7 == 0
    val encrypted = syntheticEncrypted(id)
    val id0 = md5(s"graftpdf$id")
    val oVal = md5(s"graftO$id") ++ md5(s"graftO2$id")
    val fileKey =
      if (encrypted) PdfCrypt.fileKeyClassic(Array.emptyByteArray, oVal, -44, id0, 4, 128)
      else Array.emptyByteArray
    // generation-side encryptors (no-ops when plaintext)
    def encStream(num: Int, data: Array[Byte]): Array[Byte] =
      if (!encrypted) data
      else PdfCrypt.aesEncrypt(PdfCrypt.objectKey(fileKey, num, 0, aes = true),
        java.util.Arrays.copyOf(md5(s"iv$id/$num"), 16), data)
    def encString(num: Int, s: String): String =
      if (!encrypted) s"($s)"
      else PdfCrypt.emitString(encStream(num, s.getBytes("ISO-8859-1")))
    w(if (modern) "%PDF-1.5\n" else "%PDF-1.4\n")
    // numbering: 1 catalog, 2 pages, 3..2+n page dicts, 3+n..2+2n contents,
    // then image (imgNum), annot (annotNum), [objstm, xrefstm]
    val imgNum = 3 + 2 * n
    val annotNum = imgNum + 1
    val stmNum = annotNum + 1
    val xrefNum = stmNum + 1
    def pageDict(i: Int): String = {
      val extra = new StringBuilder
      if (i == 0 && hasImage(id))
        extra ++= s" /Resources << /XObject << /Im0 $imgNum 0 R >> >>"
      if (i == 0 && linksFor(id).nonEmpty)
        extra ++= s" /Annots [ $annotNum 0 R ]"
      s"<< /Type /Page /Parent 2 0 R /Contents ${3 + n + i} 0 R$extra >>"
    }
    val kids = (0 until n).map(i => s"${3 + i} 0 R").mkString(" ")
    val catalog = "<< /Type /Catalog /Pages 2 0 R >>"
    val pagesD = s"<< /Type /Pages /Kids [ $kids ] /Count $n >>"

    if (!modern) {
      w(s"1 0 obj\n$catalog\nendobj\n")
      w(s"2 0 obj\n$pagesD\nendobj\n")
      (0 until n).foreach { i =>
        w(s"${3 + i} 0 obj\n${pageDict(i)}\nendobj\n")
      }
    }
    val contentOffs = new Array[Int](n)
    (0 until n).foreach { i =>
      contentOffs(i) = out.size()
      val content = s"BT /F1 12 Tf 72 720 Td (${texts(i)}) Tj ET".getBytes("ISO-8859-1")
      val data = encStream(3 + n + i, deflateBytes(content))
      w(s"${3 + n + i} 0 obj\n<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    val imgOff = out.size()
    if (hasImage(id))
      w(s"$imgNum 0 obj\n<< /Subtype /Image /Width 8 /Height 8 /Length 0 >>\nstream\n\nendstream\nendobj\n")
    val annotOff = out.size()
    linksFor(id).foreach { uri =>
      w(s"$annotNum 0 obj\n<< /Type /Annot /Subtype /Link /A << /S /URI /URI ${encString(annotNum, uri)} >> >>\nendobj\n")
    }
    if (modern) {
      // pack the page tree into an ObjStm + xref stream
      val dicts = Seq(catalog, pagesD) ++ (0 until n).map(pageDict)
      val offs = dicts.scanLeft(0)((acc, d) => acc + d.length + 1)
      val header = dicts.indices.map(i => s"${i + 1} ${offs(i)}").mkString(" ") + " "
      val payload = (header + dicts.mkString(" ")).getBytes("ISO-8859-1")
      val stm = deflateBytes(payload)
      val stmOff = out.size()
      w(s"$stmNum 0 obj\n<< /Type /ObjStm /N ${dicts.length} /First ${header.length} /Length ${stm.length} /Filter /FlateDecode >>\nstream\n")
      out.write(stm)
      w("\nendstream\nendobj\n")
      val xrefOff = out.size()
      def row(t: Int, f2: Int, f3: Int): Array[Byte] =
        Array(t.toByte) ++ Bytes.be(3)(f2) ++ Array(f3.toByte)
      val size = xrefNum + 1
      val rows = (0 until size).flatMap {
        case 0 => row(0, 0, 0)
        case i if i <= 2 + n => row(2, stmNum, i - 1)       // packed dicts
        case i if i == stmNum => row(1, stmOff, 0)
        case i if i == xrefNum => row(1, xrefOff, 0)
        case i if i == imgNum => row(if (hasImage(id)) 1 else 0, imgOff, 0)
        case i if i == annotNum => row(if (linksFor(id).nonEmpty) 1 else 0, annotOff, 0)
        case i => row(1, contentOffs(i - 3 - n), 0)          // content streams
      }.toArray
      val xr = deflateBytes(rows)
      w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [ 1 3 1 ] /Index [ 0 $size ] /Root 1 0 R /Length ${xr.length} /Filter /FlateDecode >>\nstream\n")
      out.write(xr)
      w("\nendstream\nendobj\n")
      w(s"startxref\n$xrefOff\n%%EOF\n")
    } else if (encrypted) {
      val encNum = xrefNum + 1
      def hexs(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
      val u = PdfCrypt.computeU(fileKey, id0, 4)
      w(s"$encNum 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 /P -44 " +
        s"/O <${hexs(oVal)}> /U <${hexs(u)}> " +
        "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF >>\nendobj\n")
      w(s"trailer\n<< /Size ${encNum + 1} /Root 1 0 R /Encrypt $encNum 0 R " +
        s"/ID [<${hexs(id0)}> <${hexs(id0)}>] >>\n%%EOF\n")
    } else {
      w("%%EOF\n")
    }
    out.toByteArray
  }

  final case class PdfImageRow(doc_id: String, page_no: Int, img_index: Int,
                               filter: String, width: Int, height: Int,
                               dark: Long = -1L)

  /** Real parse → decoded image rows per page ([[PdfParse.PdfImage]] —
    * bitstream-authoritative dims; `dark` = decoded 1-pixel count for
    * bi-level codecs); empty when the document doesn't parse.
    */
  def extractImages(doc: PdfBinary): Seq[PdfImageRow] =
    PdfParse.parse(doc.content, decodeImages = true).toSeq.flatten.zipWithIndex.flatMap {
      case (p, i) => p.images.zipWithIndex.map { case (im, k) =>
        PdfImageRow(doc.path, i, k, im.filter, im.width, im.height, im.dark)
      }
    }

  /** Deterministic synthetic PDF embedding REAL JPEG image XObjects: one
    * page, `1 + id%2` images whose dimensions are pure doc-id arithmetic
    * (w = 20 + (id+13k)%30, h = 15 + (7id+11k)%25) — the q_pdf_images
    * DuckDB oracle recomputes them in SQL, and only a genuine JPEG
    * bitstream decode can match (PdfSpec pins that a lying /Width cannot
    * leak through). Even (id+k) images ship bare /DCTDecode; odd ones ship
    * the [/FlateDecode /DCTDecode] chain, so both filter paths stay
    * exercised.
    */
  def syntheticImagePdf(id: Long): Array[Byte] = {
    val nImg = 1 + (id % 2).toInt
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    val imRefs = (0 until nImg).map(k => s"/Im$k ${5 + k} 0 R").mkString(" ")
    w(s"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      s"/Resources << /XObject << $imRefs >> >> >>\nendobj\n")
    val content = s"BT /F1 12 Tf 72 720 Td (images doc $id) Tj ET"
    w(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    (0 until nImg).foreach { k =>
      val iw = 20 + ((id + 13 * k) % 30).toInt
      val ih = 15 + ((id * 7 + 11 * k) % 25).toInt
      val img = new java.awt.image.BufferedImage(iw, ih,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < ih) {
        var x = 0
        while (x < iw) {
          img.setRGB(x, y, (((id * 31 + x * 7 + y * 13) % 0xffffff) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val jpeg = bos.toByteArray
      val (payload, filter) =
        if ((id + k) % 2 == 0) (jpeg, "/DCTDecode")
        else (deflateBytes(jpeg), "[ /FlateDecode /DCTDecode ]")
      w(s"${5 + k} 0 obj\n<< /Subtype /Image /Width $iw /Height $ih " +
        s"/BitsPerComponent 8 /ColorSpace /DeviceRGB /Filter $filter " +
        s"/Length ${payload.length} >>\nstream\n")
      out.write(payload)
      w("\nendstream\nendobj\n")
    }
    w("%%EOF\n")
    out.toByteArray
  }

  /** Deterministic synthetic PDF embedding a REAL JBIG2 image XObject:
    * one page, one /JBIG2Decode image whose bitmap is pure doc-id
    * arithmetic — w = 24 + id%20, h = 16 + (3·id)%14, pixel(x,y) black iff
    * (3x + 5y + id) % 7 < 3 — so the q_pdf_jbig2 DuckDB oracle recomputes
    * dims AND the dark-pixel count in SQL, and only a genuine MQ +
    * generic-region decode can match. Variants keep every engine path
    * exercised: odd ids split the page-info segment into a /JBIG2Globals
    * stream; id%4==2 wraps the image stream in [/FlateDecode /JBIG2Decode];
    * odd ids code with TPGDON; id%3==0 moves the A1 adaptive pixel;
    * (id/3)%4 picks the generic-region context template (GBTEMPLATE 0-3);
    * id%5==4 codes the region as MMR (T.6) instead of arithmetic; and
    * id%6==3 (non-MMR) codes the page as a SYMBOL DICTIONARY + TEXT REGION
    * — the scanned-text organisation — with the dictionary shipped in the
    * /JBIG2Globals stream for odd ids and id%4 picking the reference
    * corner; id%6==5 (non-MMR) codes it as a PATTERN DICTIONARY + HALFTONE
    * REGION (1×1 patterns, 1:1 grid — a legal halftone whose composition
    * IS the bitmap). The raster is the same under every organisation, so
    * one oracle covers all paths.
    */
  def syntheticJbig2Pdf(id: Long): Array[Byte] = {
    val w0 = 24 + (id % 20).toInt
    val h0 = 16 + ((3 * id) % 14).toInt
    val bits = new Array[Byte](w0 * h0)
    var y = 0
    while (y < h0) {
      var x = 0
      while (x < w0) {
        if ((3 * x + 5 * y + id) % 7 < 3) bits(y * w0 + x) = 1
        x += 1
      }
      y += 1
    }
    val bm = Jbig2.Bitmap(w0, h0, bits)
    val tpgdon = id % 2 == 1
    val at = if (id % 3 == 0) Jbig2.AtPixels(a1 = (2, -1)) else Jbig2.AtPixels()
    val template = ((id / 3) % 4).toInt
    val textOrg = id % 6 == 3 && id % 5 != 4
    val halftoneOrg = id % 6 == 5 && id % 5 != 4
    val split = id % 2 == 1
    val (pageSeg, regionSeg) =
      if (textOrg) {
        val (p, dict, text) =
          Jbig2.encodeTextSegments(bm, template, refCorner = (id % 4).toInt, at = at)
        // split ships page info AND the dictionary via /JBIG2Globals —
        // the cross-stream referred-segment form Acrobat writes
        if (split) (p ++ dict, text) else (p, dict ++ text)
      } else if (halftoneOrg) {
        val (p, dict, ht) = Jbig2.encodeHalftoneSegments(bm, template)
        if (split) (p ++ dict, ht) else (p, dict ++ ht)
      } else Jbig2.encodeSegments(bm, tpgdon, at, mmr = id % 5 == 4, template = template)
    val flated = id % 4 == 2
    val imgStream0 = if (split) regionSeg else pageSeg ++ regionSeg
    val imgStream = if (flated) deflateBytes(imgStream0) else imgStream0
    val filter = if (flated) "[ /FlateDecode /JBIG2Decode ]" else "/JBIG2Decode"
    val parms =
      if (split && flated) "/DecodeParms [ null << /JBIG2Globals 6 0 R >> ]"
      else if (split) "/DecodeParms << /JBIG2Globals 6 0 R >>"
      else ""
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Im0 5 0 R >> >> >>\nendobj\n")
    val content = s"BT /F1 12 Tf 72 720 Td (jbig2 doc $id) Tj ET"
    w(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    // the dict LIES about /Width|/Height on purpose: the decoded region
    // header is authoritative, exactly like the DCT path's JPEG dims
    w(s"5 0 obj\n<< /Subtype /Image /Width ${w0 + 7} /Height ${h0 + 3} " +
      s"/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter $filter $parms " +
      s"/Length ${imgStream.length} >>\nstream\n")
    out.write(imgStream)
    w("\nendstream\nendobj\n")
    if (split) {
      w(s"6 0 obj\n<< /Length ${pageSeg.length} >>\nstream\n")
      out.write(pageSeg)
      w("\nendstream\nendobj\n")
    }
    w("%%EOF\n")
    out.toByteArray
  }

  /** Deterministic synthetic PDF embedding a REAL CCITT fax image XObject:
    * one page, one /CCITTFaxDecode image whose bitmap is pure doc-id
    * arithmetic — w = 20 + id%25, h = 14 + (5·id)%19, pixel(x,y) black iff
    * (5x + 3y + 2·id) % 11 < 4 — so the q_pdf_ccitt DuckDB oracle
    * recomputes dims AND the dark-pixel count in SQL, and only a genuine
    * T.4/T.6 run-length decode can match. Variants: id%3==0 codes Modified
    * Huffman (K=0 + /EncodedByteAlign); everything else is G4 (K=-1); odd
    * ids wrap the stream in [/FlateDecode /CCITTFaxDecode].
    */
  def syntheticCcittPdf(id: Long): Array[Byte] = {
    val w0 = 20 + (id % 25).toInt
    val h0 = 14 + ((5 * id) % 19).toInt
    val bits = new Array[Byte](w0 * h0)
    var y = 0
    while (y < h0) {
      var x = 0
      while (x < w0) {
        if ((5 * x + 3 * y + 2 * id) % 11 < 4) bits(y * w0 + x) = 1
        x += 1
      }
      y += 1
    }
    val bm = Jbig2.Bitmap(w0, h0, bits)
    val mh = id % 3 == 0
    val raw = Ccitt.encode(bm, if (mh) "CCITT RLE" else "CCITT T.6")
    val flated = id % 2 == 1
    val payload = if (flated) deflateBytes(raw) else raw
    val filter = if (flated) "[ /FlateDecode /CCITTFaxDecode ]" else "/CCITTFaxDecode"
    val faxParms = s"<< /K ${if (mh) 0 else -1} /Columns $w0 /Rows $h0" +
      (if (mh) " /EncodedByteAlign true" else "") + " >>"
    val parms =
      if (flated) s"/DecodeParms [ null $faxParms ]" else s"/DecodeParms $faxParms"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Im0 5 0 R >> >> >>\nendobj\n")
    val content = s"BT /F1 12 Tf 72 720 Td (ccitt doc $id) Tj ET"
    w(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    // the dict height is authoritative only via /Rows; /Width lies so the
    // coded /Columns geometry must win
    w(s"5 0 obj\n<< /Subtype /Image /Width ${w0 + 9} /Height $h0 " +
      s"/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter $filter $parms " +
      s"/Length ${payload.length} >>\nstream\n")
    out.write(payload)
    w("\nendstream\nendobj\n")
    w("%%EOF\n")
    out.toByteArray
  }

  /** Deterministic synthetic PDF embedding a REAL JPEG 2000 image XObject:
    * one page, one /JPXDecode grayscale image whose samples are pure
    * doc-id arithmetic — w = 17 + id%23, h = 13 + (7·id)%17, sample(x,y) =
    * (7x + 11y + 3·id) % 256 — coded LOSSLESSLY (reversible 5/3), so the
    * q_pdf_jpx DuckDB oracle recomputes dims AND the exact sample sum in
    * SQL and only a genuine EBCOT + wavelet decode can match. Variants:
    * id%3 picks the DWT level count (0/1/2); odd ids ship the JP2 box
    * container, even ids the raw codestream; id%4==1 codes THREE
    * components (two extra doc-id planes, sample_sum spans all three) and
    * id%8==1 runs them through the reversible colour transform.
    */
  def syntheticJpxPdf(id: Long): Array[Byte] = {
    val w0 = 17 + (id % 23).toInt
    val h0 = 13 + ((7 * id) % 17).toInt
    def plane(f: (Int, Int) => Long): Array[Int] = {
      val p = new Array[Int](w0 * h0)
      var y = 0
      while (y < h0) {
        var x = 0
        while (x < w0) { p(y * w0 + x) = (f(x, y) % 256).toInt; x += 1 }
        y += 1
      }
      p
    }
    val gray = plane((x, y) => 7 * x + 11 * y + 3 * id)
    // id%4==1 ships THREE components (the gray formula as R plus two more
    // doc-id planes); id%8==1 additionally decorrelates them through the
    // reversible colour transform — the lossless-RGB form real JP2s use
    val comps =
      if (id % 4 == 1)
        Seq(gray, plane((x, y) => 5 * x + 13 * y + 7 * id),
          plane((x, y) => 11 * x + 3 * y + 5 * id))
      else Seq(gray)
    val cs = Jpx.encodeComps(w0, h0, comps, levels = (id % 3).toInt, cbExp = 4,
      rct = id % 8 == 1)
    val payload =
      if (id % 2 == 1) {
        // minimal JP2 container: signature box, ftyp box, jp2c codestream box
        import Bytes.box
        box("jP  ", Array(0x0d, 0x0a, 0x87.toByte, 0x0a).map(_.toByte)) ++
          box("ftyp", "jp2 ".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte) ++
            "jp2 ".getBytes("US-ASCII")) ++
          box("jp2c", cs)
      } else cs
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Im0 5 0 R >> >> >>\nendobj\n")
    val content = s"BT /F1 12 Tf 72 720 Td (jpx doc $id) Tj ET"
    w(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    // the dict LIES about /Width|/Height: the SIZ header is authoritative
    w(s"5 0 obj\n<< /Subtype /Image /Width ${w0 + 5} /Height ${h0 + 2} " +
      s"/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /JPXDecode " +
      s"/Length ${payload.length} >>\nstream\n")
    out.write(payload)
    w("\nendstream\nendobj\n")
    w("%%EOF\n")
    out.toByteArray
  }

  /** Real parse with stub fallback: one binary in, its page rows out. */
  def extractPages(doc: PdfBinary): Seq[PdfPage] =
    PdfParse.parse(doc.content) match {
      case Some(ps) => ps.zipWithIndex.map { case (p, i) =>
        PdfPage(doc.path, i, p.text, p.nImages, p.links)
      }
      case None => extractPagesStub(doc)
    }

  /** Binary docs → page rows; decode batched per partition (one kernel init
    * per task), pages exploded downstream of the kernel.
    */
  def pages(docs: Dataset[PdfBinary]): Dataset[PdfPage] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it => it.flatMap(extractPages) }
  }

  /** Page rows → the engine's span-document shape (text span per page, media
    * span per image) so PDF content joins the same docs table as HTML.
    */
  def toSpanDocs(pages: DataFrame): DataFrame =
    pages.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("page_no"), col("text"), col("n_images")))).as("ps"))
      .select(col("doc_id"), flatten(transform(col("ps"), p =>
        array(struct(
          lit("text").as("kind"), p.getField("text").as("text"),
          lit("").as("media_ref"), p.getField("page_no").as("offset"))))).as("spans"))
}
