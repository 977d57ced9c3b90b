package graft.sources

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** PDF standard security handler (ISO 32000 §7.6) — decryption of encrypted
  * documents so [[PdfParse]] covers the files pypdf handles via its
  * `_encryption.py` (reference consumes them through
  * processors/pdf/processor.py:57-430). Everything here is the published
  * algorithm set:
  *
  *  - Algorithm 2 file-key derivation (R2/R3/R4): MD5 over padded password,
  *    /O, /P, and the first file ID, with the 50-round re-hash for R ≥ 3;
  *  - Algorithm 1 per-object keys: MD5(fileKey ‖ objnum[3 LE] ‖ gen[2 LE]
  *    ‖ "sAlT" for AES), truncated to min(len+5, 16);
  *  - ciphers: RC4 (V1 40-bit, V2 /Length-bit) and AES-128-CBC (/CFM
  *    /AESV2, 16-byte IV prefix, PKCS#5 padding);
  *  - Algorithm 2.A/2.B (V5 R6, /CFM /AESV3): SHA-256/384/512 iterated hash,
  *    file key recovered by AES-256-CBC-decrypting /UE with the key-salt
  *    hash; data decrypted directly with the 32-byte file key (no
  *    per-object derivation at V5);
  *  - Algorithm 4/5 (R2 / R ≥ 3) /U user-password verification, and the
  *    R6 validation-salt check;
  *  - Algorithm 3 /O computation and Algorithm 7 owner-password
  *    authentication (R ≤ 4): the owner key RC4-decrypts /O back to the
  *    padded user password, which is then verified via Algorithm 6 — so a
  *    caller holding only the OWNER password opens the document; at R6 the
  *    owner path validates against /O's validation salt (with the full
  *    48-byte /U as extra hash data) and unwraps the file key from /OE.
  *
  * A failed check under BOTH roles means "needs a password we don't have"
  * and the caller falls back to the stub kernel. The empty password is
  * wired through [[PdfParse.parse]] by default (the overwhelmingly common
  * "encrypted for permissions" shape); a caller with a real user OR owner
  * password can pass it — [[StdSecurityHandler.forDocument]] tries the
  * supplied password in both roles, user first.
  */
object PdfCrypt {

  /** §7.6.3.3 padding string, applied to user passwords under 32 bytes. */
  private[sources] val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  def padPassword(pw: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    val n = math.min(pw.length, 32)
    System.arraycopy(pw, 0, out, 0, n)
    System.arraycopy(Pad, 0, out, n, 32 - n)
    out
  }

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance(s"SHA-$bits")
    parts.foreach(d.update)
    d.digest()
  }

  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("ARCFOUR")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "ARCFOUR"))
    c.doFinal(data) // RC4 is symmetric; DECRYPT == ENCRYPT
  }

  private def aesCbc(mode: Int, key: Array[Byte], iv: Array[Byte],
                     data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Raw AES-CBC without padding or IV framing — the R6 /UE key wrap shape
    * (also used by the test-corpus encryptor to produce /UE). */
  def aesCbcNoPad(encrypt: Boolean, key: Array[Byte], iv: Array[Byte],
                  data: Array[Byte]): Array[Byte] =
    aesCbc(if (encrypt) Cipher.ENCRYPT_MODE else Cipher.DECRYPT_MODE, key, iv, data)

  /** AES decrypt with the PDF layout: 16-byte IV prefix, PKCS#5 padding
    * stripped tolerantly (a malformed pad yields the raw block output — the
    * downstream filter chain then fails loudly instead of us throwing). */
  def aesDecrypt(key: Array[Byte], data0: Array[Byte]): Array[Byte] = {
    // repair-mode scans delimit streams at the `endstream` keyword, which
    // over-captures the EOL written after the data — drop trailing CR/LF
    // until the ciphertext is block-aligned
    var end = data0.length
    while (end > 16 && (end - 16) % 16 != 0 &&
           (data0(end - 1) == '\n' || data0(end - 1) == '\r')) end -= 1
    val data = if (end == data0.length) data0 else java.util.Arrays.copyOf(data0, end)
    if (data.length < 32 || (data.length - 16) % 16 != 0)
      return Array.emptyByteArray
    val plain = aesCbc(Cipher.DECRYPT_MODE, key,
      java.util.Arrays.copyOfRange(data, 0, 16),
      java.util.Arrays.copyOfRange(data, 16, data.length))
    val pad = plain.last & 0xff
    if (pad >= 1 && pad <= 16 && pad <= plain.length)
      java.util.Arrays.copyOfRange(plain, 0, plain.length - pad)
    else plain
  }

  /** AES encrypt (test-corpus generation): prepends the deterministic IV,
    * applies PKCS#5 padding. */
  def aesEncrypt(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val pad = 16 - (data.length % 16)
    val padded = java.util.Arrays.copyOf(data, data.length + pad)
    java.util.Arrays.fill(padded, data.length, padded.length, pad.toByte)
    iv ++ aesCbc(Cipher.ENCRYPT_MODE, key, iv, padded)
  }

  /** Algorithm 2: the R2/R3/R4 file encryption key. */
  def fileKeyClassic(password: Array[Byte], o: Array[Byte], p: Int,
                     id0: Array[Byte], r: Int, lengthBits: Int,
                     encryptMetadata: Boolean = true): Array[Byte] = {
    val keyLen = lengthBits / 8
    var h = md5(Seq(padPassword(password), o, Bytes.le(4)(p), id0) ++
      (if (r >= 4 && !encryptMetadata) Seq(Array.fill(4)(0xff.toByte)) else Nil): _*)
    if (r >= 3)
      (0 until 50).foreach(_ => h = md5(java.util.Arrays.copyOf(h, keyLen)))
    java.util.Arrays.copyOf(h, keyLen)
  }

  /** Algorithm 1: per-object key for R ≤ 4 (V5 uses the file key directly). */
  def objectKey(fileKey: Array[Byte], num: Int, gen: Int, aes: Boolean): Array[Byte] = {
    val salt = Bytes.le(3)(num) ++ Bytes.le(2)(gen)
    val h =
      if (aes) md5(fileKey, salt, Array(0x73, 0x41, 0x6c, 0x54).map(_.toByte))
      else md5(fileKey, salt)
    java.util.Arrays.copyOf(h, math.min(fileKey.length + 5, 16))
  }

  /** Algorithm 3 steps (a)–(d): the RC4 key derived from the owner
    * password (the user password stands in when no owner password was set,
    * per step (a)). Unlike Algorithm 2's 50-round loop, step (c) re-hashes
    * the FULL 16-byte digest each round; R2 keys are fixed at 40 bits. */
  private def ownerKey(ownerPw: Array[Byte], r: Int, lengthBits: Int): Array[Byte] = {
    var h = md5(padPassword(ownerPw))
    if (r >= 3) (0 until 50).foreach(_ => h = md5(h))
    java.util.Arrays.copyOf(h, if (r == 2) 5 else lengthBits / 8)
  }

  /** Algorithm 3 (R ≤ 4): the /O entry — the padded USER password
    * RC4-encrypted under the owner key, with the 19 XOR-salted extra passes
    * for R ≥ 3. Forward direction (document creation / test corpus). */
  def computeO(ownerPw: Array[Byte], userPw: Array[Byte], r: Int,
               lengthBits: Int): Array[Byte] = {
    val key = ownerKey(if (ownerPw.isEmpty) userPw else ownerPw, r, lengthBits)
    var data = rc4(key, padPassword(userPw))
    if (r >= 3)
      for (i <- 1 to 19) data = rc4(key.map(b => (b ^ i).toByte), data)
    data
  }

  /** Algorithm 7 steps (a)–(b): recover the padded user password from /O
    * under a candidate owner password — the encryption passes of
    * Algorithm 3 undone in reverse order (i = 19 down to 0). The caller
    * completes authentication by running the Algorithm 6 user check on the
    * result. */
  def ownerToUser(ownerPw: Array[Byte], o: Array[Byte], r: Int,
                  lengthBits: Int): Array[Byte] = {
    val key = ownerKey(ownerPw, r, lengthBits)
    if (r == 2) rc4(key, o)
    else {
      var data = o
      for (i <- 19 to 0 by -1) data = rc4(key.map(b => (b ^ i).toByte), data)
      data
    }
  }

  /** Algorithm 4 (R2) / Algorithm 5 (R ≥ 3) expected /U value for a
    * password; used for both verification and test-corpus generation. */
  def computeU(fileKey: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(fileKey, Pad)
    else {
      var x = md5(Pad, id0)
      for (i <- 0 to 19) {
        val k = fileKey.map(b => (b ^ i).toByte)
        x = rc4(k, x)
      }
      // R ≥ 3 stores 16 significant bytes + 16 of arbitrary padding
      java.util.Arrays.copyOf(x, 32)
    }

  /** R ≥ 3 /U comparison uses only the first 16 bytes (the rest is pad). */
  def userPasswordMatches(fileKey: Array[Byte], id0: Array[Byte], r: Int,
                          u: Array[Byte]): Boolean = {
    val expect = computeU(fileKey, id0, r)
    val n = if (r == 2) 32 else 16
    if (u.length < n) false
    else java.util.Arrays.equals(
      java.util.Arrays.copyOf(expect, n), java.util.Arrays.copyOf(u, n))
  }

  /** Algorithm 2.B (R6) iterated hash: SHA-256 seed, then rounds of
    * 64×(pw ‖ K ‖ udata) AES-128-CBC-encrypted under K's head, re-hashed
    * with SHA-256/384/512 chosen by the ciphertext's head sum; stops after
    * round ≥ 64 when the last ciphertext byte ≤ round − 32. */
  def hash2B(password: Array[Byte], salt: Array[Byte],
             udata: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    var k = sha(256, password, salt, udata)
    var e = Array.emptyByteArray
    var i = 0
    while (i < 64 || (e.last & 0xff) > i - 32) {
      val block = password ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      (0 until 64).foreach(j => System.arraycopy(block, 0, k1, j * block.length, block.length))
      e = aesCbc(Cipher.ENCRYPT_MODE,
        java.util.Arrays.copyOf(k, 16),
        java.util.Arrays.copyOfRange(k, 16, 32), k1)
      val mod = java.util.Arrays.copyOf(e, 16).foldLeft(0)((a, b) => a + (b & 0xff)) % 3
      k = sha(mod match { case 0 => 256; case 1 => 384; case _ => 512 }, e)
      i += 1
    }
    java.util.Arrays.copyOf(k, 32)
  }

  /** Algorithm 2.A (R6, user-password path): validate against /U's
    * validation salt, then recover the 32-byte file key from /UE. /U is
    * 48 bytes: hash(32) ‖ validationSalt(8) ‖ keySalt(8). */
  def fileKeyR6(password: Array[Byte], u: Array[Byte],
                ue: Array[Byte]): Option[Array[Byte]] = {
    if (u.length < 48 || ue.length < 32) return None
    val pw = java.util.Arrays.copyOf(password, math.min(password.length, 127))
    val hash = java.util.Arrays.copyOfRange(u, 0, 32)
    val vSalt = java.util.Arrays.copyOfRange(u, 32, 40)
    val kSalt = java.util.Arrays.copyOfRange(u, 40, 48)
    if (!java.util.Arrays.equals(hash2B(pw, vSalt), hash)) return None
    val ik = hash2B(pw, kSalt)
    Some(aesCbc(Cipher.DECRYPT_MODE, ik, new Array[Byte](16),
      java.util.Arrays.copyOf(ue, 32)))
  }

  /** Algorithm 2.A (R6, OWNER-password path): /O has the same 48-byte
    * hash ‖ validationSalt ‖ keySalt layout as /U, but both owner hashes
    * take the FULL 48-byte /U as additional data; the file key unwraps
    * from /OE. */
  def fileKeyR6Owner(password: Array[Byte], o: Array[Byte], u: Array[Byte],
                     oe: Array[Byte]): Option[Array[Byte]] = {
    if (o.length < 48 || u.length < 48 || oe.length < 32) return None
    val pw = java.util.Arrays.copyOf(password, math.min(password.length, 127))
    val u48 = java.util.Arrays.copyOf(u, 48)
    val hash = java.util.Arrays.copyOfRange(o, 0, 32)
    val vSalt = java.util.Arrays.copyOfRange(o, 32, 40)
    val kSalt = java.util.Arrays.copyOfRange(o, 40, 48)
    if (!java.util.Arrays.equals(hash2B(pw, vSalt, u48), hash)) return None
    val ik = hash2B(pw, kSalt, u48)
    Some(aesCbc(Cipher.DECRYPT_MODE, ik, new Array[Byte](16),
      java.util.Arrays.copyOf(oe, 32)))
  }

  // ---- handler ---------------------------------------------------------------

  sealed trait Cf
  case object CfRc4 extends Cf
  case object CfAesV2 extends Cf
  case object CfAesV3 extends Cf

  /** A verified decryptor: per-object stream/string decryption. */
  final case class StdSecurityHandler(fileKey: Array[Byte], cf: Cf) {
    def decrypt(num: Int, gen: Int, data: Array[Byte]): Array[Byte] = cf match {
      case CfRc4   => rc4(objectKey(fileKey, num, gen, aes = false), data)
      case CfAesV2 => aesDecrypt(objectKey(fileKey, num, gen, aes = true), data)
      case CfAesV3 => aesDecrypt(fileKey, data)
    }
  }

  object StdSecurityHandler {

    private def num(dict: String, key: String, dflt: Int): Int =
      (key + """\s+(-?\d+)""").r.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(dflt)

    /** A string value ((…) literal or <…> hex) for `key` in `dict`, as raw
      * bytes. */
    def strValue(dict: String, key: String): Option[Array[Byte]] = {
      val i = dict.indexOf(key)
      if (i < 0) return None
      var j = i + key.length
      while (j < dict.length && dict.charAt(j).isWhitespace) j += 1
      if (j >= dict.length) None
      else if (dict.charAt(j) == '(') Some(literalBytes(dict, j)._1)
      else if (dict.charAt(j) == '<' && (j + 1 >= dict.length || dict.charAt(j + 1) != '<')) {
        val close = dict.indexOf('>', j)
        if (close < 0) None else Some(hexBytes(dict.substring(j + 1, close)))
      } else None
    }

    def hexBytes(hex0: String): Array[Byte] = {
      val hex = hex0.filterNot(_.isWhitespace)
      val padded = if (hex.length % 2 == 1) hex + "0" else hex
      padded.grouped(2).flatMap(h =>
        try Some(Integer.parseInt(h, 16).toByte) catch { case _: Exception => None }
      ).toArray
    }

    /** Literal-string bytes starting at the '(' at `from`; returns (bytes,
      * index just past the closing paren). Escape rules per §7.3.4.2. */
    def literalBytes(s: String, from: Int): (Array[Byte], Int) = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte]
      var i = from + 1
      var depth = 1
      while (i < s.length && depth > 0) {
        s.charAt(i) match {
          case '\\' if i + 1 < s.length =>
            s.charAt(i + 1) match {
              case 'n' => out += '\n'; i += 2
              case 'r' => out += '\r'; i += 2
              case 't' => out += '\t'; i += 2
              case 'b' => out += '\b'; i += 2
              case 'f' => out += '\f'; i += 2
              case '(' => out += '('; i += 2
              case ')' => out += ')'; i += 2
              case '\\' => out += '\\'; i += 2
              case d if d >= '0' && d <= '7' =>
                var code = 0; var k = 0
                i += 1
                while (k < 3 && i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                  code = code * 8 + (s.charAt(i) - '0'); i += 1; k += 1
                }
                out += code.toByte
              case _ => i += 1
            }
          case '(' => depth += 1; out += '('; i += 1
          case ')' =>
            depth -= 1
            if (depth > 0) out += ')'
            i += 1
          case c => out += c.toByte; i += 1
        }
      }
      (out.toArray, i)
    }

    /** Build a handler from the /Encrypt dict + first file ID, trying the
      * supplied password first as the USER password (Algorithm 6 / 2.A),
      * then as the OWNER password (Algorithm 7 / the R6 /OE path). None =
      * unsupported scheme or a password valid in neither role (caller
      * falls back to the stub kernel). */
    def forDocument(encryptDict: String, id0: Array[Byte],
                    password: Array[Byte] = Array.emptyByteArray): Option[StdSecurityHandler] = {
      if (!encryptDict.contains("/Standard")) return None
      val v = num(encryptDict, "/V", 0)
      val r = num(encryptDict, "/R", if (v >= 2) 3 else 2)
      val p = num(encryptDict, "/P", -1)
      val lengthBits = num(encryptDict, "/Length", 40)
      val o = strValue(encryptDict, "/O").getOrElse(return None)
      val u = strValue(encryptDict, "/U").getOrElse(return None)
      val encMeta = !encryptDict.contains("/EncryptMetadata false")
      // classic path: the file key for a candidate user password, verified
      // against /U; the owner role recovers the padded user password from
      // /O (Algorithm 7) and re-enters the same check
      def classicKey(bits: Int): Option[Array[Byte]] = {
        val userKey = fileKeyClassic(password, o, p, id0, r, bits, encMeta)
        if (userPasswordMatches(userKey, id0, r, u)) Some(userKey)
        else {
          val recovered = ownerToUser(password, o, r, bits)
          val ownKey = fileKeyClassic(recovered, o, p, id0, r, bits, encMeta)
          if (userPasswordMatches(ownKey, id0, r, u)) Some(ownKey) else None
        }
      }
      v match {
        case 1 | 2 =>
          classicKey(if (v == 1) 40 else lengthBits).map(StdSecurityHandler(_, CfRc4))
        case 4 =>
          // /CF /StdCF /CFM names the cipher; V2 = RC4, AESV2 = AES-128
          val aes = encryptDict.contains("/AESV2")
          classicKey(lengthBits)
            .map(StdSecurityHandler(_, if (aes) CfAesV2 else CfRc4))
        case 5 =>
          val ue = strValue(encryptDict, "/UE").getOrElse(return None)
          fileKeyR6(password, u, ue)
            .orElse(strValue(encryptDict, "/OE")
              .flatMap(oe => fileKeyR6Owner(password, o, u, oe)))
            .map(StdSecurityHandler(_, CfAesV3))
        case _ => None
      }
    }
  }

  /** Re-emit decrypted bytes as a PDF string token: a literal when printable
    * ASCII without delimiters, else a hex string — both parse back to the
    * same bytes. */
  def emitString(bytes: Array[Byte]): String = {
    val clean = bytes.forall { b =>
      val c = b & 0xff
      c >= 0x20 && c < 0x7f && c != '(' && c != ')' && c != '\\'
    }
    if (clean) "(" + new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1) + ")"
    else "<" + bytes.map(b => f"${b & 0xff}%02x").mkString + ">"
  }

  /** Rewrite every string token in an object dict with its decrypted value
    * (strings inside object STREAMS are exempt per §7.6.2 — the caller only
    * applies this to top-level dicts). */
  private[sources] def decryptDictStrings(dict: String, num: Int, gen: Int,
                                          h: StdSecurityHandler): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < dict.length) {
      val c = dict.charAt(i)
      if (c == '(') {
        val (raw, next) = StdSecurityHandler.literalBytes(dict, i)
        sb ++= emitString(try h.decrypt(num, gen, raw) catch { case _: Exception => raw })
        i = next
      } else if (c == '<' && i + 1 < dict.length && dict.charAt(i + 1) == '<') {
        sb ++= "<<"; i += 2 // dict open — NOT a hex string
      } else if (c == '>' && i + 1 < dict.length && dict.charAt(i + 1) == '>') {
        sb ++= ">>"; i += 2
      } else if (c == '<' && i + 1 < dict.length) {
        val close = dict.indexOf('>', i)
        if (close < 0) { sb += c; i += 1 }
        else {
          val raw = StdSecurityHandler.hexBytes(dict.substring(i + 1, close))
          sb ++= emitString(try h.decrypt(num, gen, raw) catch { case _: Exception => raw })
          i = close + 1
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}
