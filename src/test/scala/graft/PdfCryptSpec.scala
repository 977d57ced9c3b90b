package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{PdfCrypt, PdfParse}

/** Encrypted-PDF tests: the spec carries a standard-security-handler
  * ENCRYPTOR (the same published algorithms run forward) and asserts the
  * parser's decryption path recovers byte-identical extraction versus the
  * plaintext document — for RC4-40 (V1 R2), RC4-128 (V2 R3), AES-128
  * (V4 R4 /AESV2), and AES-256 (V5 R6 /AESV3), with and without a real
  * user password, and through an encrypted object stream.
  */
class PdfCryptSpec extends AnyFunSuite {

  import PdfFixtures.encryptPdf

  // a multi-feature plaintext: 2 pages, Flate content, image, link URI
  private def plainDoc: Array[Byte] = PdfFixtures.buildPdf(
    Seq(
      PdfFixtures.bt("encrypted alpha", "second line"),
      PdfFixtures.bt("encrypted beta")),
    compress = true, withImage = true,
    withLink = Some("http://ref.example.com/secret-link"))

  private def extract(b: Array[Byte], pw: Array[Byte] = Array.emptyByteArray) =
    PdfParse.parse(b, pw).map(_.map(p => (p.text, p.nImages, p.links)))

  for (variant <- Seq("rc4-40", "rc4-128", "aes-128", "aes-256")) {
    test(s"$variant round trip: decrypted extraction equals plaintext extraction") {
      val plain = plainDoc
      val enc = encryptPdf(plain, variant)
      assert(!new String(enc, "ISO-8859-1").contains("encrypted alpha"),
        "ciphertext must not contain the plaintext")
      assert(extract(enc) == extract(plain))
      assert(extract(plain).get.head._3 == Seq("http://ref.example.com/secret-link"))
    }
  }

  for (variant <- Seq("rc4-128", "aes-128", "aes-256")) {
    test(s"$variant with a real user password: rejected empty, accepted with password") {
      val plain = plainDoc
      val pw = "hunter2".getBytes("US-ASCII")
      val enc = encryptPdf(plain, variant, pw)
      assert(extract(enc).isEmpty, "wrong (empty) password must fall back to None")
      assert(extract(enc, pw) == extract(plain))
    }
  }

  for (variant <- Seq("rc4-40", "rc4-128", "aes-128", "aes-256")) {
    test(s"$variant owner password opens the document (Algorithm 7 / R6 /OE)") {
      val plain = plainDoc
      val userPw = "hunter2".getBytes("US-ASCII")
      val ownerPw = "the-owner-secret".getBytes("US-ASCII")
      val enc = encryptPdf(plain, variant, userPw, ownerPw)
      assert(extract(enc, ownerPw) == extract(plain), "owner password must decrypt")
      assert(extract(enc, userPw) == extract(plain), "user password still works")
      assert(extract(enc).isEmpty, "empty password valid in neither role")
      assert(extract(enc, "wrong".getBytes("US-ASCII")).isEmpty,
        "a password valid in neither role must fall back to None")
    }
  }

  test("owner password with EMPTY user password: both roles open, garbage does not") {
    // the common "encrypted for permissions" shape: anyone reads, only the
    // owner edits — empty password authenticates as user, the owner
    // password authenticates via /O
    val plain = plainDoc
    val ownerPw = "admin-only".getBytes("US-ASCII")
    for (variant <- Seq("rc4-128", "aes-256")) {
      val enc = encryptPdf(plain, variant, Array.emptyByteArray, ownerPw)
      assert(extract(enc) == extract(plain), s"$variant: empty user password opens")
      assert(extract(enc, ownerPw) == extract(plain), s"$variant: owner password opens")
      assert(extract(enc, "nope".getBytes("US-ASCII")).isEmpty, s"$variant: junk rejected")
    }
  }

  test("Algorithm 3/7 round trip: owner key recovers the padded user password") {
    import org.scalacheck.Gen
    val gen = for {
      owner <- Gen.nonEmptyListOf(Gen.asciiPrintableChar).map(_.mkString.take(40))
      user <- Gen.listOf(Gen.asciiPrintableChar).map(_.mkString.take(40))
      r128 <- Gen.oneOf(true, false)
    } yield (owner.getBytes("UTF-8"), user.getBytes("UTF-8"), r128)
    val seed0 = org.scalacheck.rng.Seed(0xC0FFEEL)
    var seed = seed0
    (0 until 100).foreach { _ =>
      val (owner, user, r128) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val (r, bits) = if (r128) (3, 128) else (2, 40)
      val o = PdfCrypt.computeO(owner, user, r, bits)
      val recovered = PdfCrypt.ownerToUser(owner, o, r, bits)
      assert(recovered.sameElements(PdfCrypt.padPassword(user)))
    }
  }

  test("encrypted object stream: container decrypts, packed objects parse") {
    // pages live inside an /ObjStm; the CONTAINER stream is encrypted,
    // strings inside it are not individually re-encrypted (§7.6.2)
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    val content = "BT /F1 12 Tf 72 720 Td (packed secret text) Tj ET"
    w(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    val o1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val o2 = "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>"
    val o3 = "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    val header = s"1 0 2 ${o1.length + 1} 3 ${o1.length + o2.length + 2} "
    val payload = (header + o1 + " " + o2 + " " + o3).getBytes("ISO-8859-1")
    val d = new java.util.zip.Deflater()
    d.setInput(payload); d.finish()
    val buf = new Array[Byte](payload.length * 2 + 64)
    val len = d.deflate(buf); d.end()
    val stm = java.util.Arrays.copyOf(buf, len)
    w(s"5 0 obj\n<< /Type /ObjStm /N 3 /First ${header.length} /Length ${stm.length} /Filter /FlateDecode >>\nstream\n")
    out.write(stm)
    w("\nendstream\nendobj\n")
    w("%%EOF\n")
    val plain = out.toByteArray
    val enc = encryptPdf(plain, "aes-128")
    assert(!new String(enc, "ISO-8859-1").contains("packed secret"))
    assert(extract(enc) == extract(plain))
    assert(extract(plain).get.head._1 == "packed secret text")
  }

  test("unsupported /Encrypt scheme falls back to None (stub path)") {
    val plain = plainDoc
    // a fake V 3 custom-handler dict the parser must refuse, not mangle
    val enc0 = encryptPdf(plain, "rc4-128")
    val enc = new String(enc0, "ISO-8859-1")
      .replace("/V 2 /R 3", "/V 3 /R 3").getBytes("ISO-8859-1")
    assert(extract(enc).isEmpty)
  }

  test("hash2B matches its spec shape: 32 bytes, password-sensitive, salt-sensitive") {
    val a = PdfCrypt.hash2B("pw".getBytes, Array.tabulate(8)(_.toByte))
    val b = PdfCrypt.hash2B("pw".getBytes, Array.tabulate(8)(i => (i + 1).toByte))
    val c = PdfCrypt.hash2B("pw2".getBytes, Array.tabulate(8)(_.toByte))
    assert(a.length == 32 && b.length == 32)
    assert(!java.util.Arrays.equals(a, b) && !java.util.Arrays.equals(a, c))
    // deterministic
    assert(java.util.Arrays.equals(a, PdfCrypt.hash2B("pw".getBytes, Array.tabulate(8)(_.toByte))))
  }
}
