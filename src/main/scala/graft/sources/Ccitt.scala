package graft.sources

/** CCITT Group 3/4 fax codec (ITU-T T.4/T.6) — the bi-level codec behind
  * PDF's /CCITTFaxDecode (ISO 32000 §7.4.6) and JBIG2's MMR generic-region
  * mode (T.88 §6.2.6), which the reference consumes through its PDF
  * processor's rasterisation path (processors/pdf/processor.py:57-430 —
  * scanned-fax PDFs are overwhelmingly G4 inside).
  *
  * Rather than hand-rolling the T.4 run-length Huffman tables, the raw fax
  * payload is wrapped in a minimal single-strip TIFF container and decoded
  * through the JDK's built-in TIFF ImageIO plugin (public API since Java 9,
  * `javax.imageio` "tiff" format, compression types "CCITT RLE"/"CCITT
  * T.4"/"CCITT T.6") — the same pattern [[PdfParse]] uses for /DCTDecode
  * via the JDK JPEG codec. The forward direction (test corpus) writes a
  * bilevel image through the same plugin and extracts the coded strip.
  *
  * PDF parameter → TIFF compression mapping (ISO 32000 Table 11 / TIFF 6.0):
  *  - K < 0  (pure G4/MMR)                  → Compression 4, T6Options 0
  *  - K = 0 + EncodedByteAlign (MH, aligned) → Compression 2 ("CCITT RLE",
  *    byte-aligned Modified Huffman — exactly the aligned-K=0 PDF stream)
  *  - K = 0 + EndOfLine (MH with EOLs)       → Compression 3, T4Options 0
  *  - K > 0 + EndOfLine (mixed 2-D with EOLs)→ Compression 3, T4Options 1
  * K ≥ 0 streams with neither EOLs nor byte alignment have no TIFF
  * expression → None (the caller labels the image unsupported). Polarity:
  * the coded domain is white/black RUNS (first run white, T.4 §4.2.1.3),
  * independent of the PDF /BlackIs1 sample mapping — `Bitmap` bit 1 means
  * a black-CODED pixel, which is also JBIG2's convention.
  */
object Ccitt {

  /** Build the minimal big-endian single-strip TIFF wrapper around a raw
    * fax payload. `t46Options` lands in T4Options (compression 3) or
    * T6Options (compression 4); ignored for compression 2. */
  private def tiffWrap(raw: Array[Byte], w: Int, h: Int, compression: Int,
                       t46Options: Int): Array[Byte] = {
    val withOpts = compression == 3 || compression == 4
    val nTags = if (withOpts) 11 else 10
    val ifdOff = 8
    val dataOff = ifdOff + 2 + nTags * 12 + 4
    val out = new java.io.ByteArrayOutputStream(dataOff + raw.length)
    val d = new java.io.DataOutputStream(out)
    d.writeShort(0x4d4d) // "MM" big-endian
    d.writeShort(42)
    d.writeInt(ifdOff)
    d.writeShort(nTags)
    def tag(id: Int, typ: Int, value: Int): Unit = {
      d.writeShort(id); d.writeShort(typ); d.writeInt(1)
      if (typ == 3) { d.writeShort(value); d.writeShort(0) } else d.writeInt(value)
    }
    tag(256, 4, w)            // ImageWidth
    tag(257, 4, h)            // ImageLength
    tag(258, 3, 1)            // BitsPerSample
    tag(259, 3, compression)  // Compression
    tag(262, 3, 0)            // Photometric: WhiteIsZero (reader normalises
                              // to the binary palette: black-coded -> RGB black)
    tag(266, 3, 1)            // FillOrder: MSB-first (PDF stream order)
    tag(273, 4, dataOff)      // StripOffsets
    tag(277, 3, 1)            // SamplesPerPixel
    tag(278, 4, h)            // RowsPerStrip: single strip
    tag(279, 4, raw.length)   // StripByteCounts
    if (withOpts) tag(if (compression == 3) 292 else 293, 4, t46Options)
    d.writeInt(0)             // next IFD
    d.write(raw)
    out.toByteArray
  }

  /** Decode a raw /CCITTFaxDecode payload under the PDF parameter set.
    * Returns the decoded bitmap (bit 1 = black-coded pixel) or None for a
    * parameter combination TIFF cannot express or a payload the codec
    * rejects. `rows` must be the actual row count (PDF Rows, or the
    * image dict's /Height when Rows is 0/absent). */
  def decode(data: Array[Byte], columns: Int, rows: Int, k: Int,
             byteAlign: Boolean = false, endOfLine: Boolean = false): Option[Jbig2.Bitmap] = {
    if (columns <= 0 || rows <= 0 || columns.toLong * rows > 64L * 1024 * 1024) return None
    val wrapped =
      if (k < 0) tiffWrap(data, columns, rows, 4, 0)
      else if (k == 0 && byteAlign && !endOfLine) tiffWrap(data, columns, rows, 2, 0)
      else if (endOfLine) {
        val opts = (if (k > 0) 1 else 0) | (if (byteAlign) 4 else 0)
        tiffWrap(data, columns, rows, 3, opts)
      } else return None
    val read: Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(wrapped)))
      catch { case _: Exception => None }
    val img = read match {
      case Some(i) if i.getWidth == columns && i.getHeight == rows => i
      case _ => return None
    }
    // palette-independent but fast: resolve which SAMPLE value renders
    // black ONCE from the color model, then read raster rows directly
    // (getRGB per pixel converts through the color model every call — an
    // order of magnitude slower on a 1728x2200 fax page)
    val blackSample =
      if ((img.getColorModel.getRGB(0) & 0xffffff) == 0) 0 else 1
    val bits = new Array[Byte](columns * rows)
    val raster = img.getRaster
    val row = new Array[Int](columns)
    var y = 0
    while (y < rows) {
      raster.getSamples(0, y, columns, 1, 0, row)
      var x = 0
      while (x < columns) {
        if (row(x) == blackSample) bits(y * columns + x) = 1
        x += 1
      }
      y += 1
    }
    Some(Jbig2.Bitmap(columns, rows, bits))
  }

  /** Decode a pure T.6 (MMR) stream — JBIG2 MMR generic regions and the
    * PDF K<0 case. */
  def decodeG4(data: Array[Byte], w: Int, h: Int): Option[Jbig2.Bitmap] =
    decode(data, w, h, k = -1)

  /** Encode a bitmap (bit 1 = black) through the JDK TIFF writer and
    * extract the coded strip — the forward direction for the test corpus.
    * `compressionType` is the ImageIO name: "CCITT T.6" (→ PDF K<0),
    * "CCITT RLE" (→ PDF K=0 + EncodedByteAlign), "CCITT T.4". */
  def encode(bm: Jbig2.Bitmap, compressionType: String = "CCITT T.6"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(bm.width, bm.height,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    val raster = img.getRaster
    val row = new Array[Int](bm.width)
    var y = 0
    while (y < bm.height) {
      var x = 0
      while (x < bm.width) {
        // binary palette: sample 0 = black; the plugin codes those as the
        // T.4/T.6 BLACK runs (verified against the published horizontal-
        // mode code sequence in CcittSpec)
        row(x) = if (bm.bits(y * bm.width + x) != 0) 0 else 1
        x += 1
      }
      raster.setSamples(0, y, bm.width, 1, 0, row)
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType(compressionType)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { ios.close(); writer.dispose() }
    extractSingleStrip(bos.toByteArray)
  }

  /** Pull the single coded strip back out of the plugin's TIFF container.
    * Big-endian and little-endian headers both handled; a multi-strip
    * layout would restart coding per strip and cannot be concatenated, so
    * it is rejected loudly (cannot happen for the fixture-sized images the
    * forward direction encodes — the plugin writes RowsPerStrip = height
    * well past them). */
  private def extractSingleStrip(tiff: Array[Byte]): Array[Byte] = {
    val t = Bytes.tiff(Bytes.view(tiff))
      .getOrElse(throw new IllegalArgumentException("ccitt encode: not a TIFF"))
    var off = -1L; var len = -1L; var strips = 1L
    Bytes.ifd(t, t.u32(4)).foreach { e =>
      val v = if (e.typ == 3) t.u16(e.valueAt).toLong else t.u32(e.valueAt)
      if (e.tag == 273) { off = v; strips = e.count }
      if (e.tag == 279) len = v
    }
    require(strips == 1 && off >= 0 && len >= 0,
      s"ccitt encode: expected a single-strip TIFF, got $strips strips")
    t.bytes(off.toInt, len.toInt)
  }
}
