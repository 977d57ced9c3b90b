package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Jpx, Pdf}

/** JPEG 2000 codec tests. Same testable-property discipline as [[Jbig2Spec]]:
  * the spec's forward direction (5/3 analysis, EBCOT encoder, tag-tree and
  * packet-header writer) produces codestreams the decoder must reproduce
  * LOSSLESSLY — exact sample equality across image sizes, DWT level counts,
  * code-block grids, and both container forms (raw codestream / JP2 boxes).
  */
class JpxSpec extends AnyFunSuite {

  private def pattern(w: Int, h: Int, f: (Int, Int) => Int): Array[Int] =
    Array.tabulate(w * h)(i => f(i % w, i / w) & 0xff)

  test("lossless round-trip: sizes × levels × block grids") {
    for {
      (w, h) <- Seq((1, 1), (3, 2), (7, 5), (16, 16), (33, 29), (40, 25))
      levels <- Seq(0, 1, 2)
      if (1 << levels) <= math.min(w, h) || levels == 0
    } {
      val img = pattern(w, h, (x, y) => 7 * x + 11 * y + 3)
      val cs = Jpx.encode(w, h, img, levels = levels, cbExp = 4)
      val d = Jpx.decode(cs).get
      assert(d.width == w && d.height == h, s"$w x $h lv$levels")
      assert(d.samples.sameElements(img), s"$w x $h lv$levels")
    }
  }

  test("lossless round-trip: random images, small code-blocks force grids") {
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(seed)
      val w = 20 + rnd.nextInt(30); val h = 15 + rnd.nextInt(25)
      val img = Array.fill(w * h)(rnd.nextInt(256))
      for (cbExp <- Seq(2, 4)) {
        val cs = Jpx.encode(w, h, img, levels = 2, cbExp = cbExp)
        val d = Jpx.decode(cs).get
        assert(d.samples.sameElements(img), s"seed=$seed cbExp=$cbExp")
      }
    }
  }

  test("extreme images: flat, binary-like, gradient") {
    val cases = Seq[(Int, Int, (Int, Int) => Int)](
      (19, 11, (_, _) => 0),
      (19, 11, (_, _) => 255),
      (24, 17, (x, y) => if ((x + y) % 2 == 0) 0 else 255),
      (31, 23, (x, _) => (x * 255) / 30))
    for (((w, h, f), i) <- cases.zipWithIndex; levels <- Seq(0, 2)) {
      val img = pattern(w, h, f)
      val d = Jpx.decode(Jpx.encode(w, h, img, levels = levels)).get
      assert(d.samples.sameElements(img), s"case=$i lv$levels")
    }
  }

  test("1-D 5/3 lifting is an exact identity") {
    for (n <- 1 to 16; seed <- 0 until 3) {
      val rnd = new scala.util.Random(seed * 100 + n)
      val a = Array.fill(n)(rnd.nextInt(512) - 256)
      val b = a.clone()
      Jpx.sd1d(b, 0, 1, n)
      Jpx.sr1d(b, 0, 1, n)
      assert(b.sameElements(a), s"n=$n seed=$seed")
    }
  }

  test("Tier-1 EBCOT round-trips every band orientation and block shape") {
    for (band <- 0 to 3; w <- Seq(1, 2, 3, 4, 5, 8); h <- Seq(1, 2, 3, 4, 5, 8); seed <- 0 until 2) {
      val rnd = new scala.util.Random(seed * 1000 + band * 100 + w * 10 + h)
      val c = Array.fill(w * h)(rnd.nextInt(1024) - 512)
      val (bytes, numbps, passes) = Jpx.t1Encode(band, w, h, c)
      val back = Jpx.t1Decode(band, w, h, numbps, passes, bytes)
      assert(back.sameElements(c), s"band=$band $w x $h seed=$seed")
    }
  }

  test("tag trees round-trip exact values over shared inner nodes") {
    for ((gw, gh) <- Seq((1, 1), (2, 2), (3, 1), (5, 3), (13, 7)); seed <- 0 until 3) {
      val rnd = new scala.util.Random(seed * 31 + gw * 7 + gh)
      val vals = Array.fill(gw * gh)(rnd.nextInt(6))
      val enc = new Jpx.TagTree(gw, gh)
      enc.build((x, y) => vals(y * gw + x))
      val bw = new Jpx.BitWriter
      for (y <- 0 until gh; x <- 0 until gw) enc.encodeFull(bw, x, y)
      val bytes = bw.finish()
      val dec = new Jpx.TagTree(gw, gh)
      val br = new Jpx.BitReader(bytes, 0)
      for (y <- 0 until gh; x <- 0 until gw)
        assert(dec.decodeFull(br, x, y) == vals(y * gw + x),
          s"grid $gw x $gh seed=$seed at ($x,$y)")
    }
  }

  test("JP2 box container unwraps to the codestream") {
    val img = pattern(21, 14, (x, y) => x * y)
    val cs = Jpx.encode(21, 14, img, levels = 1)
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val len = 8 + body.length
      Array(((len >>> 24) & 0xff).toByte, ((len >>> 16) & 0xff).toByte,
        ((len >>> 8) & 0xff).toByte, (len & 0xff).toByte) ++
        typ.getBytes("US-ASCII") ++ body
    }
    val jp2 = box("jP  ", Array[Byte](0x0d, 0x0a, 0x87.toByte, 0x0a)) ++
      box("ftyp", "jp2 ".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte) ++
        "jp2 ".getBytes("US-ASCII")) ++
      box("jp2c", cs)
    val d = Jpx.decode(jp2).get
    assert(d.width == 21 && d.samples.sameElements(img))
  }

  test("streams outside the subset return None, never throw") {
    val img = pattern(16, 16, (x, y) => x + y)
    val cs = Jpx.encode(16, 16, img, levels = 1)
    assert(Jpx.decode(Array.emptyByteArray).isEmpty)
    assert(Jpx.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Jpx.decode(cs.take(20)).isEmpty)
    // flip the COD transform byte to 9/7 irreversible: must refuse
    val codAt = (0 until cs.length - 1)
      .find(j => (cs(j) & 0xff) == 0xff && (cs(j + 1) & 0xff) == 0x52).get
    val irr = cs.clone()
    val codLen = ((cs(codAt + 2) & 0xff) << 8) | (cs(codAt + 3) & 0xff)
    irr(codAt + 2 + codLen - 1) = 0 // SPcod transform: 0 = 9/7
    assert(Jpx.decode(irr).isEmpty)
    // random tails must not throw
    val rnd = new scala.util.Random(3)
    val junk = cs.take(60) ++ Array.fill[Byte](40)(rnd.nextInt(256).toByte)
    Jpx.decode(junk) // value irrelevant; must not throw
    // hostile JP2 box lengths must not loop: a length >= 0x80000000 used
    // to step the box walk BACKWARDS (Int truncation) and hang the task
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val len = 8 + body.length
      Array(((len >>> 24) & 0xff).toByte, ((len >>> 16) & 0xff).toByte,
        ((len >>> 8) & 0xff).toByte, (len & 0xff).toByte) ++
        typ.getBytes("US-ASCII") ++ body
    }
    val hostile = box("jP  ", Array[Byte](0x0d, 0x0a, 0x87.toByte, 0x0a)) ++
      Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xf0.toByte) ++
      "abcdefgh".getBytes("US-ASCII")
    assert(Jpx.decode(hostile).isEmpty)
    // a box shorter than its header must also end the walk
    val shortBox = box("jP  ", Array[Byte](0x0d, 0x0a, 0x87.toByte, 0x0a)) ++
      Array[Byte](0, 0, 0, 4) ++ "abcd".getBytes("US-ASCII")
    assert(Jpx.decode(shortBox).isEmpty)
  }

  test("multi-component round-trip: RGB with and without the RCT") {
    for (rct <- Seq(false, true); levels <- Seq(0, 1, 2)) {
      val w = 21; val h = 17
      val r0 = pattern(w, h, (x, y) => (7 * x + 11 * y) % 256)
      val g0 = pattern(w, h, (x, y) => (5 * x + 13 * y + 3) % 256)
      val b0 = pattern(w, h, (x, y) => (11 * x + 3 * y + 9) % 256)
      val cs = Jpx.encodeComps(w, h, Seq(r0, g0, b0), levels, cbExp = 4, rct = rct)
      val d = Jpx.decode(cs).get
      assert(d.width == w && d.height == h && d.comps == 3, s"rct=$rct levels=$levels")
      assert(java.util.Arrays.equals(d.samples.slice(0, w * h), r0), s"R rct=$rct L=$levels")
      assert(java.util.Arrays.equals(d.samples.slice(w * h, 2 * w * h), g0), s"G rct=$rct L=$levels")
      assert(java.util.Arrays.equals(d.samples.slice(2 * w * h, 3 * w * h), b0), s"B rct=$rct L=$levels")
    }
  }

  test("multi-component: random planes and a 4th pass-through component") {
    val rnd = new scala.util.Random(11)
    val w = 18; val h = 14
    val planes = Seq.fill(4)(Array.fill(w * h)(rnd.nextInt(256)))
    val cs = Jpx.encodeComps(w, h, planes, levels = 1, cbExp = 4, rct = true)
    val d = Jpx.decode(cs).get
    assert(d.comps == 4)
    for (c <- 0 until 4)
      assert(java.util.Arrays.equals(
        d.samples.slice(c * w * h, (c + 1) * w * h), planes(c)), s"component $c")
  }

  test("synthetic JPX PDFs: dims and sample sum are bitstream-authoritative") {
    for (id <- 0L until 12L) {
      val rows = Pdf.extractImages(Pdf.PdfBinary(id.toString, 0, Pdf.syntheticJpxPdf(id)))
      assert(rows.size == 1, s"id=$id")
      val r = rows.head
      val w0 = 17 + (id % 23).toInt
      val h0 = 13 + ((7 * id) % 17).toInt
      val rgb = id % 4 == 1
      val sum = (for (y <- 0 until h0; x <- 0 until w0) yield {
        val base = (7 * x + 11 * y + 3 * id) % 256
        if (rgb) base + (5 * x + 13 * y + 7 * id) % 256 + (11 * x + 3 * y + 5 * id) % 256
        else base
      }).sum
      assert(r.filter == "jpx", s"id=$id: ${r.filter}")
      // the dict's lying /Width cannot leak: SIZ dims are authoritative
      assert(r.width == w0 && r.height == h0, s"id=$id: ${r.width}x${r.height}")
      assert(r.dark == sum, s"id=$id: sum=${r.dark} expected $sum")
    }
  }
}
