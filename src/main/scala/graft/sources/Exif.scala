package graft.sources

import scala.collection.mutable.ArrayBuffer
import Bytes.be

/** EXIF metadata (the TIFF 6.0 IFD structure inside a JPEG APP1 segment,
  * per JEITA CP-3451 / ISO 12234-2) — what an image-curation pipeline
  * actually filters and corrects on: orientation (a resize that ignores it
  * ships sideways thumbnails), capture timestamps (dedup/freshness), and
  * camera make/model (source attribution). Everything is structural — a
  * JPEG marker walk to APP1, the byte-order-tagged TIFF header, and
  * 12-byte IFD entries — with no codec work: the image payload itself
  * stays with the JDK decoder.
  *
  * Parsed: IFD0 tags Orientation (0x0112), Make (0x010F), Model (0x0110),
  * DateTime (0x0132), plus the Exif sub-IFD (0x8769) tags DateTimeOriginal
  * (0x9003) and PixelX/YDimension (0xA002/0xA003). Hostile offsets and
  * counts fail closed (None); a JPEG without APP1 Exif parses as None,
  * which callers treat as "no metadata", never an error.
  */
object Exif {

  final case class Meta(orientation: Int, make: String, model: String,
                        dateTime: String, dateTimeOriginal: String,
                        pixelX: Int, pixelY: Int)

  def parse(jpeg: Array[Byte]): Option[Meta] = {
    try parseImpl(jpeg) catch { case _: Exception => None }
  }

  private def parseImpl(jpeg: Array[Byte]): Option[Meta] = {
    val j = Bytes.view(jpeg)
    if (jpeg.length < 4 || j.u16(0) != 0xffd8) return None // not a JPEG
    // marker walk to APP1 "Exif\0\0"
    var i = 2
    var app1: Bytes.View = null
    while (app1 == null && i + 4 <= jpeg.length) {
      if (j.u8(i) != 0xff) return None
      val marker = j.u8(i + 1)
      if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS: no APP1
      val len = j.u16(i + 2)
      if (len < 2 || i + 2 + len > jpeg.length) return None
      if (marker == 0xe1 && len >= 8 + 6 && j.fourcc(i + 4) == "Exif" && j.u16(i + 8) == 0)
        app1 = j.slice(i + 10, len - 8)
      i += 2 + len
    }
    if (app1 == null || app1.length < 8) return None
    val t = Bytes.tiff(app1).getOrElse(return None)
    var orientation = 0
    var make = ""; var model = ""; var dateTime = ""; var dateTimeOriginal = ""
    var pixelX = 0; var pixelY = 0
    var exifIfdAt = -1L

    def str(p: Int, n: Int): String =
      if (p < 0 || n <= 0 || p + n > t.length) ""
      else t.ascii(p, n).takeWhile(_ != '\u0000').trim

    /** Inline SHORT/LONG value or its offset-resolved first element. */
    def intValue(e: Bytes.IfdEntry): Int =
      if (e.typ == 3 && e.count >= 1) t.u16(e.valueAt) // SHORT stored inline
      else if (e.typ == 4 && e.count >= 1) t.u32(e.valueAt).toInt // LONG inline
      else 0

    /** ASCII value: inline when count ≤ 4, via offset otherwise. */
    def strValue(e: Bytes.IfdEntry): String =
      if (e.count <= 0 || e.count > 4096) ""
      else if (e.count <= 4) str(e.valueAt, e.count.toInt)
      else str(t.u32(e.valueAt).toInt, e.count.toInt)

    Bytes.ifd(t, t.u32(4)).foreach { e =>
      e.tag match {
        case 0x0112 => orientation = intValue(e)
        case 0x010F => make = strValue(e)
        case 0x0110 => model = strValue(e)
        case 0x0132 => dateTime = strValue(e)
        case 0x8769 => exifIfdAt = t.u32(e.valueAt)
        case _ => ()
      }
    }
    if (exifIfdAt >= 0) Bytes.ifd(t, exifIfdAt).foreach { e =>
      e.tag match {
        case 0x9003 => dateTimeOriginal = strValue(e)
        case 0xA002 => pixelX = intValue(e)
        case 0xA003 => pixelY = intValue(e)
        case _ => ()
      }
    }
    if (orientation == 0 && make.isEmpty && model.isEmpty &&
        dateTime.isEmpty && dateTimeOriginal.isEmpty && pixelX == 0) None
    else Some(Meta(orientation, make, model, dateTime, dateTimeOriginal,
      pixelX, pixelY))
  }

  // ---- writer (test corpus: wrap an existing JPEG with an APP1 Exif) ---------

  /** Insert a big-endian APP1 Exif segment right after SOI. IFD0 carries
    * Make/Model/DateTime/Orientation + the Exif sub-IFD with
    * DateTimeOriginal and pixel dimensions — the layout real cameras
    * write. */
  def withExif(jpeg: Array[Byte], meta: Meta): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8)
    // value area layout is computed as strings are appended
    val values = new ArrayBuffer[Byte]()
    def ascii(s: String): (Long, Array[Byte]) = {
      val b = (s + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      if (b.length <= 4) (b.length.toLong, java.util.Arrays.copyOf(b, 4))
      else { val off = values.length; values ++= b; (b.length.toLong, be(4)(off)) } // patched later
    }
    final case class Entry(tag: Int, typ: Int, count: Long, value: Array[Byte])
    val makeE = ascii(meta.make); val modelE = ascii(meta.model)
    val dtE = ascii(meta.dateTime); val dtoE = ascii(meta.dateTimeOriginal)
    // sizes: header 8; ifd0 = 2 + 5*12 + 4; exif ifd = 2 + 3*12 + 4
    val ifd0At = 8L
    val ifd0Size = 2 + 5 * 12 + 4
    val exifAt = ifd0At + ifd0Size
    val exifSize = 2 + 3 * 12 + 4
    val valuesAt = exifAt + exifSize
    val ifd0 = Seq(
      Entry(0x010F, 2, makeE._1, makeE._2),
      Entry(0x0110, 2, modelE._1, modelE._2),
      Entry(0x0112, 3, 1, be(2)(meta.orientation, 0)),
      Entry(0x0132, 2, dtE._1, dtE._2),
      Entry(0x8769, 4, 1, be(4)(exifAt)))
    val exifIfd = Seq(
      Entry(0x9003, 2, dtoE._1, dtoE._2),
      Entry(0xA002, 4, 1, be(4)(meta.pixelX)),
      Entry(0xA003, 4, 1, be(4)(meta.pixelY)))
    def render(entries: Seq[Entry]): Array[Byte] = {
      val out = new ArrayBuffer[Byte]()
      out ++= be(2)(entries.length)
      entries.sortBy(_.tag).foreach { e =>
        out ++= be(2)(e.tag, e.typ) ++ be(4)(e.count)
        // out-of-line ASCII values were stored as value-area offsets:
        // rebase them past both IFDs
        val v =
          if (e.typ == 2 && e.count > 4)
            be(4)(valuesAt + Bytes.view(e.value).u32(0))
          else e.value
        out ++= v
      }
      out ++= be(4)(0) // next-IFD pointer
      out.toArray
    }
    val tiff = "MM".getBytes("US-ASCII") ++ be(2)(42) ++ be(4)(ifd0At) ++
      render(ifd0) ++ render(exifIfd) ++ values.toArray
    val app1Body = "Exif".getBytes("US-ASCII") ++ Array(0.toByte, 0.toByte) ++ tiff
    val app1 = Array(0xff.toByte, 0xe1.toByte) ++ be(2)(app1Body.length + 2) ++ app1Body
    jpeg.take(2) ++ app1 ++ jpeg.drop(2)
  }
}
