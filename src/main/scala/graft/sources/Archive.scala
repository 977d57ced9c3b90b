package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Archive expansion — crawls meet .zip / .tar / .tar.gz dataset dumps
  * constantly (the reference's seeder treats them as opaque URLs; a data
  * engine has to open them). The unit of parallelism is the ARCHIVE: one
  * binaryFile task explodes one archive into member rows, so a directory
  * of dumps fans out across the cluster without any shuffle. ZIP decodes
  * through the JDK inflater; TAR is a from-scratch 512-byte-header walk
  * (octal sizes, ustar magic — pure structure); gzip wrapping is sniffed
  * and unwrapped first, re-sniffing the payload (so .tar.gz, .zip behind
  * gzip, and bare .gz single files all land in the same row shape).
  *
  * Bomb guards: decompressed output is capped per archive and per member —
  * a zip bomb fails ITS archive closed (empty member list) without taking
  * the task down.
  */
object Archive {

  final case class Member(path: String, bytes: Array[Byte])

  private val MaxTotal = 256L * 1024 * 1024 // per-archive decompressed cap
  private val MaxMembers = 100000

  /** Explode one archive blob into its REGULAR-FILE members. Directories,
    * links, and unsupported entry types are skipped; a malformed or
    * bomb-sized archive yields an empty list (fail closed per archive). */
  def members(name: String, raw: Array[Byte]): Seq[Member] =
    try membersImpl(name, raw) catch { case _: Exception => Seq.empty }

  private def membersImpl(name: String, raw: Array[Byte]): Seq[Member] = {
    if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b) {
      val inner = gunzipCapped(raw)
      // a gzipped archive re-sniffs; a bare .gz file is one member named
      // after the archive minus its .gz suffix
      return if (looksZip(inner) || looksTar(inner))
        membersImpl(name.stripSuffix(".gz"), inner)
      else Seq(Member(name.stripSuffix(".gz"), inner))
    }
    if (looksZip(raw)) zipMembers(raw)
    else if (looksTar(raw)) tarMembers(raw)
    else Seq.empty
  }

  private def looksZip(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4

  /** ustar magic at 257, or a plausible first header block with a valid
    * octal size + NUL-padded name (pre-POSIX tars lack the magic). */
  private def looksTar(b: Array[Byte]): Boolean = {
    if (b.length < 512) return false
    if (b.length >= 262 && b(257) == 'u' && b(258) == 's' && b(259) == 't' &&
        b(260) == 'a' && b(261) == 'r') return true
    octalAt(b, 124, 12).isDefined && b(0) != 0 &&
      (0 until 100).forall(i => b(i) == 0 || (b(i) & 0xff) >= 0x20)
  }

  private def gunzipCapped(raw: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw))
    try readCapped(in, MaxTotal) finally in.close()
  }

  private def readCapped(in: java.io.InputStream, cap: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      total += n
      if (total > cap) throw new java.io.IOException("archive exceeds cap")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  private def zipMembers(raw: Array[Byte]): Seq[Member] = {
    val out = new ArrayBuffer[Member]()
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(raw), UTF_8)
    try {
      var total = 0L
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory && out.length < MaxMembers) {
          val bytes = readCapped(zin, MaxTotal - total)
          total += bytes.length
          out += Member(e.getName, bytes)
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toSeq
  }

  private def octalAt(b: Array[Byte], at: Int, len: Int): Option[Long] = {
    var v = 0L
    var seen = false
    var i = at
    while (i < at + len && i < b.length) {
      val c = b(i) & 0xff
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (c != 0 && c != ' ') return None
      i += 1
    }
    if (seen) Some(v) else None
  }

  /** TAR walk: 512-byte headers, octal size at 124, typeflag at 156 ('0' or
    * NUL = regular file), data rounded up to 512; two zero blocks (or EOF)
    * end the archive. GNU 'L' long-name records are honoured. */
  private def tarMembers(raw: Array[Byte]): Seq[Member] = {
    val out = new ArrayBuffer[Member]()
    var i = 0
    var total = 0L
    var pendingLongName: String = null
    while (i + 512 <= raw.length && out.length < MaxMembers) {
      if (raw(i) == 0) return out.toSeq // zero block: end
      val rawName = {
        var e = i
        while (e < i + 100 && raw(e) != 0) e += 1
        new String(raw, i, e - i, UTF_8)
      }
      val size = octalAt(raw, i + 124, 12).getOrElse(return out.toSeq)
      val typeflag = raw(i + 156)
      if (total + size > MaxTotal) return Seq.empty // bomb: fail closed
      val dataAt = i + 512
      if (dataAt + size > raw.length) return out.toSeq // truncated
      val name = if (pendingLongName != null) pendingLongName else rawName
      if (typeflag == 'L') {
        // GNU long name: the data block holds the NEXT entry's name
        pendingLongName = new String(raw, dataAt, size.toInt, UTF_8).takeWhile(_ != 0)
      } else {
        if (typeflag == '0' || typeflag == 0) {
          out += Member(name,
            java.util.Arrays.copyOfRange(raw, dataAt, dataAt + size.toInt))
          total += size
        }
        pendingLongName = null
      }
      i = dataAt + ((size + 511) / 512).toInt * 512
    }
    out.toSeq
  }

  /** Read archives under `path` into one row per member: (archive,
    * member_path, content, n_bytes). One task per archive file. */
  def readArchive(spark: SparkSession, path: String): DataFrame = {
    val explodeUdf = udf((name: String, content: Array[Byte]) =>
      members(name.substring(name.lastIndexOf('/') + 1), content))
    spark.read.format("binaryFile").load(path)
      .select(col("path").as("archive"),
        explode(explodeUdf(col("path"), col("content"))).as("m"))
      .select(col("archive"), col("m.path").as("member_path"),
        col("m.bytes").as("content"),
        octet_length(col("m.bytes")).as("n_bytes"))
  }

  // ---- writer twins (test corpus) ---------------------------------------------

  def writeZip(members: Seq[Member]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos, UTF_8)
    members.foreach { m =>
      val e = new java.util.zip.ZipEntry(m.path)
      // fixed timestamp: archives must be byte-identical across runs
      e.setTime(0L)
      z.putNextEntry(e)
      z.write(m.bytes)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  def writeTar(members: Seq[Member]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    members.foreach { m =>
      val hdr = new Array[Byte](512)
      val nameB = m.path.getBytes(UTF_8)
      require(nameB.length <= 100, "writer emits short names only")
      System.arraycopy(nameB, 0, hdr, 0, nameB.length)
      def octal(v: Long, at: Int, len: Int): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val pad = "0" * (len - 1 - s.length) + s
        System.arraycopy(pad.getBytes(UTF_8), 0, hdr, at, len - 1)
      }
      octal(420, 100, 8) // mode 0644
      octal(0, 108, 8); octal(0, 116, 8) // uid/gid
      octal(m.bytes.length.toLong, 124, 12)
      octal(0, 136, 12) // mtime: determinism
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // checksum spaces
      hdr(156) = '0'
      System.arraycopy("ustar\u000000".getBytes(UTF_8), 0, hdr, 257, 8)
      var sum = 0L
      hdr.foreach(b => sum += b & 0xff)
      val cks = java.lang.Long.toOctalString(sum)
      val ckPad = "0" * (6 - cks.length) + cks
      System.arraycopy(ckPad.getBytes(UTF_8), 0, hdr, 148, 6)
      hdr(154) = 0; hdr(155) = ' '
      bos.write(hdr)
      bos.write(m.bytes)
      val pad = (512 - m.bytes.length % 512) % 512
      bos.write(new Array[Byte](pad))
    }
    bos.write(new Array[Byte](1024)) // two zero blocks
    bos.toByteArray
  }

  def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(raw); g.close()
    bos.toByteArray
  }
}
