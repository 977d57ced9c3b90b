package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.Warc
import org.scalatest.funsuite.AnyFunSuite

class WarcSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("parseSegment: strict Content-Length parse survives hostile payloads") {
    // payload 2 contains a fake record header AND a blank line — only a
    // length-driven parser gets this right
    val p1 = "hello <b>world</b>"
    val p2 = "WARC/1.0\r\nContent-Length: 999\r\n\r\nnot a record"
    val p3 = "multiébyte 中文 payload" // é + CJK: octet len > char len
    def rec(uri: String, p: String): String = {
      val n = p.getBytes(UTF_8).length
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: $n\r\n\r\n" + p
    }
    val segment = (Seq(rec("u1", p1), rec("u2", p2), rec("u3", p3))
      .mkString("\r\n\r\n") + "\r\n\r\n").getBytes(UTF_8)
    val got = Warc.parseSegment(segment)
    assert(got.map(_.target_uri) == Seq("u1", "u2", "u3"))
    assert(got.map(_.payload) == Seq(p1, p2, p3))
    assert(got(2).content_length == p3.getBytes(UTF_8).length.toLong)
    assert(got.forall(_.warc_type == "response"))
  }

  test("parseSegment: truncated trailer and inter-record noise are skipped") {
    val ok = "WARC/1.0\r\nWARC-Target-URI: good\r\nContent-Length: 2\r\n\r\nab"
    val noise = "\r\n\r\n\n\n junk between records \r\n"
    val truncated = "WARC/1.0\r\nWARC-Target-URI: bad\r\nContent-Len" // no blank line
    val got = Warc.parseSegment((ok + noise + truncated).getBytes(UTF_8))
    assert(got.map(_.target_uri) == Seq("good"))
    assert(got.head.payload == "ab")
  }

  test("writeWarc → readWarc roundtrip is exact, including multibyte payloads") {
    val rows = Seq(
      ("https://a.example/1", "plain text"),
      ("https://a.example/2", "embedded\r\n\r\nblank line and WARC/1.0 magic"),
      ("https://a.example/3", "café 中文 😀"))
      .toDF("uri", "payload")
    val dir = java.nio.file.Files.createTempDirectory("warcspec").toString
    Warc.writeWarc(rows, "uri", "payload", dir)
    val back = Warc.readWarc(spark, dir)
      .select("target_uri", "payload", "warc_type", "record_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(back.map(t => (t._1, t._2)).toSeq ==
      rows.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq)
    assert(back.forall(_._3 == "response"))
    // deterministic record ids: urn:uuid derived from the uri hash
    assert(back.forall(_._4.startsWith("<urn:uuid:")))
    val dir2 = java.nio.file.Files.createTempDirectory("warcspec2").toString
    Warc.writeWarc(rows, "uri", "payload", dir2)
    val ids2 = Warc.readWarc(spark, dir2).select("record_id")
      .as[String].collect().sorted.toSeq
    assert(ids2 == back.map(_._4).sorted.toSeq)
  }

  test("writeWarcGz → readWarc: member-per-record gzip segments roundtrip") {
    val rows = Seq(
      ("https://b.example/1", "gz payload one"),
      ("https://b.example/2", "café 中文 😀 in a compressed record"),
      ("https://b.example/3", "third\r\n\r\nwith fake separators inside"))
      .toDF("uri", "payload")
    val dir = java.nio.file.Files.createTempDirectory("warcgz").toString
    Warc.writeWarcGz(rows.repartition(2), "uri", "payload", dir)
    // the files really are .warc.gz with MULTIPLE members where a partition
    // holds >1 record: count gzip magics (1f 8b at a member boundary)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.nonEmpty)
    val memberCount = files.map { f =>
      val b = java.nio.file.Files.readAllBytes(f.toPath)
      (0 until b.length - 1).count(i =>
        (b(i) & 0xff) == 0x1f && (b(i + 1) & 0xff) == 0x8b && (b(i + 2) & 0xff) == 0x08)
    }.sum
    assert(memberCount == 3, s"expected 3 gzip members, saw $memberCount")
    val back = Warc.readWarc(spark, dir)
      .select("target_uri", "payload").as[(String, String)]
      .collect().sortBy(_._1).toSeq
    assert(back == rows.collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1).toSeq)
    // a corrupt gzip segment fails closed: flip a byte inside the first
    // member's DEFLATE data (the fixed 10-byte member header ends at 10) —
    // the CRC veto must yield empty, never partial records or a throw
    val corrupt = java.nio.file.Files.readAllBytes(files.head.toPath)
    corrupt(12) = (corrupt(12) ^ 0x55).toByte
    assert(Warc.parseSegment(corrupt).isEmpty)
  }

  test("writeWarcGz: many records over many partitions through a session-only filesystem") {
    // the `warcgz-test` scheme exists only in the session's Hadoop
    // configuration, and is never cached: executors that built a fresh
    // Configuration could not resolve it
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.warcgz-test.impl", classOf[SessionOnlyFs].getName)
    hconf.setBoolean("fs.warcgz-test.impl.disable.cache", true)
    val rows = (0 until 240).map(i => (s"https://m.example/$i", s"record $i " + "body " * (i % 7)))
      .toDF("uri", "payload")
    val local = java.nio.file.Files.createTempDirectory("warcgz-many").toString
    try Warc.writeWarcGz(rows.repartition(4), "uri", "payload", s"warcgz-test://$local/out")
    finally Seq("fs.warcgz-test.impl", "fs.warcgz-test.impl.disable.cache").foreach(hconf.unset)
    val files = new java.io.File(s"$local/out").listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == 4)
    // every record is its own member (magic, CM = deflate, FLG = 0), and
    // every segment parses in full
    val bytes = files.map(f => java.nio.file.Files.readAllBytes(f.toPath))
    val members = bytes.map(b => (0 until b.length - 3).count(i =>
      (b(i) & 0xff) == 0x1f && (b(i + 1) & 0xff) == 0x8b && b(i + 2) == 8 && b(i + 3) == 0)).sum
    assert(members == 240, s"expected 240 gzip members, saw $members")
    val perSegment = bytes.map(Warc.parseSegment)
    assert(perSegment.forall(_.size > 1))
    val back = Warc.readWarc(spark, s"$local/out")
      .select("target_uri", "payload").as[(String, String)].collect().sortBy(_._1).toSeq
    assert(back == rows.as[(String, String)].collect().sortBy(_._1).toSeq)
    assert(perSegment.map(_.size).sum == 240)
  }
}

/** The local filesystem under a scheme that only a configuration naming
  * `fs.warcgz-test.impl` can resolve. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("warcgz-test:///")
  override def getScheme: String = "warcgz-test"
}
