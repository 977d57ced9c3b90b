package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC source/sink — the ISO 28500 web-archive record format every large
  * crawl corpus ships in (Common Crawl segments, Internet Archive, the
  * corpora the reference's Common-Crawl seeder indexes into,
  * `/root/reference/crawl4ai/async_url_seeder.py:709-762`). Reading WARC is
  * how a 100 TB pipeline ingests an EXISTING crawl instead of re-fetching
  * it; writing WARC is how a crawl run exports an archival corpus.
  *
  * Scale shape: the unit of parallelism is the FILE on both sides —
  * exactly how WARC is used in practice (Common Crawl publishes ~1 GB
  * segment files; readers schedule one task per segment). The reader is a
  * strict Content-Length-driven parser over `binaryFile` rows (payloads
  * containing "WARC/1.0" or CRLF runs cannot desync it), so one task parses
  * one segment with O(record) memory for the emitted rows. Spark's
  * binaryFile source caps files at 2 GB — the standard segment size is
  * under it; repack larger archives.
  */
object Warc {

  /** One parsed record: header fields the pipeline consumes + the payload
    * (UTF-8 text in this engine; payload bytes are length-exact).
    */
  final case class WarcRecord(
      warc_type: String, target_uri: String, record_id: String,
      warc_date: String, content_length: Long, payload: String)

  // ---- sink ----------------------------------------------------------------

  /** Format each row as a WARC/1.0 response record (header block +
    * Content-Length-exact payload) as a Column expression — codegen'd string
    * concat, no UDF. Record IDs are deterministic urn:uuid values derived
    * from the target URI's md5, so a re-run writes byte-identical archives
    * (the engine-wide determinism contract).
    */
  def recordCol(uri: org.apache.spark.sql.Column,
                payload: org.apache.spark.sql.Column,
                date: String): org.apache.spark.sql.Column = {
    val h = md5(uri)
    val uuid = concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
    concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: response\r\n"),
      lit("WARC-Record-ID: <urn:uuid:"), uuid, lit(">\r\n"),
      lit(s"WARC-Date: $date\r\n"),
      lit("WARC-Target-URI: "), uri, lit("\r\n"),
      lit("Content-Type: text/html\r\n"),
      lit("Content-Length: "), octet_length(payload).cast("string"), lit("\r\n"),
      lit("\r\n"),
      payload)
  }

  /** Write (uri, payload) rows as WARC files under `path` — one WARC segment
    * per partition (repartition upstream to size segments). The text writer
    * joins records with the WARC record separator (two CRLFs).
    */
  def writeWarc(df: DataFrame, uriCol: String, payloadCol: String,
                path: String, date: String = "2026-01-01T00:00:00Z"): Unit =
    df.select(recordCol(col(uriCol), col(payloadCol), date).as("value"))
      .write.mode("overwrite").option("lineSep", "\r\n\r\n").text(path)

  /** Write .warc.gz segments in the Common Crawl member-per-record layout:
    * one gzip MEMBER per record (each carrying its own trailing separator),
    * one segment file per partition, written straight through the Hadoop
    * filesystem on the executor — a range reader can split the archive at
    * member boundaries without decompressing the whole segment, which is
    * the property that makes the format work at 100 TB. Executors resolve
    * the filesystem from the session's Hadoop configuration.
    */
  def writeWarcGz(df: DataFrame, uriCol: String, payloadCol: String,
                  path: String, date: String = "2026-01-01T00:00:00Z"): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(hconf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    import spark.implicits._
    df.select(recordCol(col(uriCol), col(payloadCol), date).as("value"))
      .as[String]
      .foreachPartition { (it: Iterator[String]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val p = new org.apache.hadoop.fs.Path(path, f"part-$pid%05d.warc.gz")
          val file = p.getFileSystem(conf.value).create(p, true)
          // closing a member's stream must end its native Deflater but not
          // the segment stream the next member goes to
          val segment = new java.io.FilterOutputStream(file) {
            override def write(b: Array[Byte], off: Int, len: Int): Unit = file.write(b, off, len)
            override def close(): Unit = flush()
          }
          try it.foreach { rec =>
            val gz = new java.util.zip.GZIPOutputStream(segment)
            try gz.write((rec + "\r\n\r\n").getBytes(UTF_8)) finally gz.close()
          } finally file.close()
        }
      }
  }

  // ---- source --------------------------------------------------------------

  /** Decompress every member of a (possibly multi-member) gzip stream —
    * Common Crawl's .warc.gz convention is ONE GZIP MEMBER PER RECORD so
    * readers can range-split at member boundaries; the JDK inflater walks
    * concatenated members natively, and a single-member segment (whole-file
    * gzip) decodes through the same path. */
  private def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** Strict sequential parse of one WARC segment: gzip segments (sniffed by
    * magic, single- or member-per-record) decompress first — a corrupt gzip
    * stream fails the SEGMENT closed rather than emitting partial records —
    * then scan to each "WARC/1.0" version line, read headers to the blank
    * line, then consume exactly Content-Length payload BYTES (multi-byte
    * UTF-8 safe — lengths are octet counts on both sides). Anything between
    * records (CRLF runs, trailing separators) is skipped without
    * interpretation.
    */
  def parseSegment(raw: Array[Byte]): Seq[WarcRecord] = {
    val bytes =
      if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b)
        try gunzipAll(raw) catch { case _: Exception => return Seq.empty }
      else raw
    parsePlain(bytes)
  }

  private def parsePlain(bytes: Array[Byte]): Seq[WarcRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    val magic = "WARC/1.0".getBytes(UTF_8)
    var i = 0
    def startsAt(p: Int, pat: Array[Byte]): Boolean = {
      if (p + pat.length > bytes.length) return false
      var j = 0
      while (j < pat.length) { if (bytes(p + j) != pat(j)) return false; j += 1 }
      true
    }
    while (i >= 0 && i < bytes.length) {
      // next version line
      while (i < bytes.length && !startsAt(i, magic)) i += 1
      if (i < bytes.length) {
        // header block ends at the first blank line (\r\n\r\n or \n\n)
        var hEnd = i
        var sepLen = 0
        while (sepLen == 0 && hEnd < bytes.length) {
          if (startsAt(hEnd, "\r\n\r\n".getBytes(UTF_8))) sepLen = 4
          else if (startsAt(hEnd, "\n\n".getBytes(UTF_8))) sepLen = 2
          else hEnd += 1
        }
        if (sepLen == 0) { i = bytes.length } // truncated trailer: stop
        else {
          val header = new String(bytes, i, hEnd - i, UTF_8)
          val fields = header.split("\r?\n").drop(1).iterator
            .map(_.split(":", 2))
            .collect { case Array(k, v) =>
              // Locale.ROOT: default-locale lowercasing breaks the
              // 'warc-target-uri' lookup on Turkish/Azeri JVMs (dotless ı)
              k.trim.toLowerCase(java.util.Locale.ROOT) -> v.trim }
            .toMap
          // tolerate a malformed Content-Length (skip the record's payload
          // rather than failing the whole segment's task)
          val len = fields.get("content-length")
            .flatMap(_.toLongOption).filter(_ >= 0L).getOrElse(0L)
          val pStart = hEnd + sepLen
          val pLen = math.min(len, (bytes.length - pStart).toLong).toInt
          out += WarcRecord(
            fields.getOrElse("warc-type", ""),
            fields.getOrElse("warc-target-uri", ""),
            fields.getOrElse("warc-record-id", ""),
            fields.getOrElse("warc-date", ""),
            len,
            new String(bytes, pStart, pLen, UTF_8))
          i = pStart + pLen
        }
      }
    }
    out.toSeq
  }

  /** Read WARC segments under `path` into one row per record. One task per
    * segment file (binaryFile source) running the strict parser.
    */
  def readWarc(spark: SparkSession, path: String): DataFrame = {
    val parse = udf((content: Array[Byte]) => parseSegment(content))
    spark.read.format("binaryFile").load(path)
      .select(explode(parse(col("content"))).as("rec"))
      .select(col("rec.warc_type"), col("rec.target_uri"), col("rec.record_id"),
        col("rec.warc_date"), col("rec.content_length"), col("rec.payload"))
  }
}
