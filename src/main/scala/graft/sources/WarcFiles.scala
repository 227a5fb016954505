package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) source/sink — the web-crawl ingestion format: a
  * WARC file is a sequence of records, each `WARC/1.0` + CRLF headers +
  * CRLFCRLF + `Content-Length` payload bytes + CRLFCRLF. The gzip
  * flavor compresses EACH RECORD AS ITS OWN GZIP MEMBER and
  * concatenates the members (the Common Crawl layout — member
  * boundaries are record boundaries, which is what makes a 1 GB
  * crawl file record-splittable); `GZIPInputStream` decodes
  * concatenated members natively. WET extracted-text files are the
  * same container with `WARC-Type: conversion` records.
  *
  * Same posture as the tar/avro/proto sources: distributed write via
  * the Hadoop FS API with the [[FileSink]] task commit, read via
  * `binaryFile` + a per-file walk, malformed tails quarantined (records
  * parsed before the corruption point are kept). Header names are
  * case-insensitive on read (the spec's rule); only the headers the
  * pipeline consumes are surfaced as columns, the rest ride in a map.
  *
  * Shape at scale: one WARC file per write task, one `binaryFile` row
  * per read task, zero shuffles either way. Record payloads are opaque
  * bytes — HTML/text extraction is [[graft.operators.TextAnalysis]]'s
  * job downstream, exactly as a WET pipeline separates fetch from
  * extraction.
  */
object WarcFiles {

  private val CRLF = "\r\n"

  /** header values are CRLF-delimited on the wire — a CR/LF (or other
    * control char) inside url/rtype/date would corrupt the record
    * framing at WRITE time and surface on read as a quarantined tail
    * (silent data loss). Fail loudly at write time instead, the same
    * posture as ProtoFiles' null-element rejection (advisor finding
    * r17). Tab is allowed (legal in HTTP-style header values). */
  private def checkedHeaderValue(name: String, v: String): String = {
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\r' || c == '\n' || (c < 0x20 && c != '\t') || c == 0x7f)
        throw new IllegalArgumentException(
          f"WarcFiles.write: control char U+${c.toInt}%04X in $name value" +
            " — would corrupt CRLF record framing")
      i += 1
    }
    v
  }

  /** Distributed writer: `df` must carry `url` (string), `rtype`
    * (string — e.g. "response"/"conversion"), `date` (string, the
    * ISO-8601 `WARC-Date` value; kept opaque so the caller controls
    * the clock), `payload` (binary). Each task writes
    * `part-<pid>.warc.gz` (or `.warc` with `gzip = false`), committed
    * through [[FileSink]]; the temp marker `.wtmp-` carries no ".warc",
    * so read's `*.warc*` glob never surfaces a dead attempt's file.
    * In gzip mode each record is its OWN gzip member (Common Crawl
    * layout). */
  def write(df: DataFrame, outDir: String, gzip: Boolean = true): Unit = {
    val need = Seq("url", "rtype", "date", "payload")
    val missing = need.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"WarcFiles.write needs columns $need, missing: $missing")
    val proj = df.select(col("url").cast("string"),
      col("rtype").cast("string"), col("date").cast("string"),
      col("payload").cast("binary"))
    FileSink(df.sparkSession, outDir, "*.warc*", ".wtmp-")
      .writeParts(proj.queryExecution.toRdd,
          if (gzip) "warc.gz" else "warc") { (rows, os) =>
        var count = 0L
        rows.foreach { ir =>
          val url = checkedHeaderValue("url",
            if (ir.isNullAt(0)) "" else ir.getUTF8String(0).toString)
          val rtype = checkedHeaderValue("rtype",
            if (ir.isNullAt(1)) "resource" else ir.getUTF8String(1).toString)
          val date = checkedHeaderValue("date",
            if (ir.isNullAt(2)) "" else ir.getUTF8String(2).toString)
          val payload =
            if (ir.isNullAt(3)) Array.emptyByteArray else ir.getBinary(3)
          val header = new StringBuilder()
            .append("WARC/1.0").append(CRLF)
            .append("WARC-Type: ").append(rtype).append(CRLF)
            .append("WARC-Target-URI: ").append(url).append(CRLF)
            .append("WARC-Date: ").append(date).append(CRLF)
            .append("Content-Length: ").append(payload.length).append(CRLF)
            .append(CRLF).toString
          val rec = new java.io.ByteArrayOutputStream()
          rec.write(header.getBytes("UTF-8"))
          rec.write(payload)
          rec.write(CRLF.getBytes("UTF-8")); rec.write(CRLF.getBytes("UTF-8"))
          if (gzip) {
            // one gzip MEMBER per record (the record-splittable CC
            // layout). close() is REQUIRED to release the native
            // Deflater — a finish()-only loop leaks one Deflater per
            // record — so shield the shared file stream from it.
            val shield = new java.io.FilterOutputStream(os) {
              override def write(b: Array[Byte], off: Int, len: Int): Unit =
                os.write(b, off, len)
              override def close(): Unit = flush()
            }
            val gz = new java.util.zip.GZIPOutputStream(shield)
            gz.write(rec.toByteArray)
            gz.close()
          } else os.write(rec.toByteArray)
          count += 1
        }
        count
      }
  }

  /** Strict multi-member gunzip. The JDK's `GZIPInputStream` treats a
    * MALFORMED subsequent member header as clean EOF — a corrupt middle
    * member would silently truncate a concatenated-member crawl file
    * with no quarantine (review finding r16) — so the member walk is
    * manual: parse each member header (magic/method/flags incl.
    * FEXTRA/FNAME/FCOMMENT/FHCRC), inflate the raw deflate stream,
    * verify the CRC32 + ISIZE trailer, and require every trailing byte
    * to open a valid next member. Returns the plain bytes decoded from
    * COMPLETE members plus the first error (if any) — the caller keeps
    * the prefix records and appends one quarantine row for the corrupt
    * tail. Plain (non-gzip) data passes through untouched. */
  private[sources] def gunzipMembers(
      b: Array[Byte]): (Array[Byte], Option[String]) = {
    if (!(b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b))
      return (b, None)
    // initial capacity only (it grows): clamp so b.length * 4 can't
    // overflow Int for inputs > 512 MiB — a negative capacity would
    // throw BEFORE the try below and fail the task instead of
    // quarantining (advisor finding r17)
    val out = new java.io.ByteArrayOutputStream(
      math.min(math.max(b.length.toLong, 64L) * 4, 1L << 20).toInt)
    var pos = 0
    try {
      while (pos < b.length) {
        if (pos + 10 > b.length || (b(pos) & 0xff) != 0x1f ||
            (b(pos + 1) & 0xff) != 0x8b)
          throw new IllegalArgumentException(
            s"bad gzip member header at $pos")
        if ((b(pos + 2) & 0xff) != 8)
          throw new IllegalArgumentException(
            "unsupported gzip compression method")
        val flg = b(pos + 3) & 0xff
        var i = pos + 10
        if ((flg & 4) != 0) { // FEXTRA
          if (i + 2 > b.length)
            throw new IllegalArgumentException("truncated FEXTRA")
          i += 2 + ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8))
        }
        if ((flg & 8) != 0) { // FNAME, NUL-terminated
          while (i < b.length && b(i) != 0) i += 1
          i += 1
        }
        if ((flg & 16) != 0) { // FCOMMENT
          while (i < b.length && b(i) != 0) i += 1
          i += 1
        }
        if ((flg & 2) != 0) i += 2 // FHCRC
        if (i > b.length)
          throw new IllegalArgumentException("truncated gzip member header")
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(b, i, b.length - i)
          val crc = new java.util.zip.CRC32
          val buf = new Array[Byte](1 << 16)
          val member = new java.io.ByteArrayOutputStream()
          var memberLen = 0L
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
              throw new IllegalArgumentException("truncated deflate stream")
            crc.update(buf, 0, n)
            member.write(buf, 0, n)
            memberLen += n
          }
          val tpos = i + inf.getBytesRead.toInt
          if (tpos + 8 > b.length)
            throw new IllegalArgumentException("truncated gzip trailer")
          def le32u(o: Int): Long =
            (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
              ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
          if (le32u(tpos) != (crc.getValue & 0xffffffffL))
            throw new IllegalArgumentException("gzip member CRC mismatch")
          if (le32u(tpos + 4) != (memberLen & 0xffffffffL))
            throw new IllegalArgumentException("gzip member ISIZE mismatch")
          // member verified COMPLETE — only now does it join the output
          member.writeTo(out)
          pos = tpos + 8
        } finally inf.end()
      }
      (out.toByteArray, None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        (out.toByteArray, Some(String.valueOf(e.getMessage)))
    }
  }

  /** One decoded record row (the Dataset-encoder shape shared by the
    * batch and STREAMING walks). */
  final case class WarcRecord(
      url: String, warc_type: String, warc_date: String,
      headers: Map[String, String], payload: Array[Byte], error: String)

  /** the per-file record walk shared by [[read]] and [[readStream]]:
    * records from COMPLETE gzip members parse normally; a gzip error OR
    * a record-framing error quarantines once, after the good prefix */
  private def walkFile(raw: Array[Byte]): Seq[WarcRecord] = {
    val rows = Vector.newBuilder[WarcRecord]
    // any throw on the decode path quarantines, never fails the task —
    // gunzipMembers catches NonFatal internally, but its setup code
    // (e.g. buffer allocation) must enjoy the same shield
    val (b, gzErr) =
      try gunzipMembers(raw)
      catch {
        case scala.util.control.NonFatal(e) =>
          (Array.emptyByteArray, Some(String.valueOf(e.getMessage)))
      }
    try {
      var pos = 0
      def findCrlfCrlf(from: Int): Int = {
        var i = from
        while (i + 3 < b.length) {
          if (b(i) == '\r' && b(i + 1) == '\n' &&
              b(i + 2) == '\r' && b(i + 3) == '\n') return i
          i += 1
        }
        -1
      }
      while (pos < b.length) {
        // tolerate inter-record CRLF runs
        while (pos < b.length && (b(pos) == '\r' || b(pos) == '\n'))
          pos += 1
        if (pos >= b.length) { /* clean end */ }
        else {
          val hEnd = findCrlfCrlf(pos)
          if (hEnd < 0) throw new IllegalArgumentException(
            "truncated record header")
          val headerText = new String(b, pos, hEnd - pos, "UTF-8")
          val lines = headerText.split("\r\n")
          if (!lines.head.startsWith("WARC/"))
            throw new IllegalArgumentException(
              s"not a WARC record at offset $pos: " + lines.head.take(40))
          val headers = lines.tail.iterator.flatMap { l =>
            val i = l.indexOf(':')
            if (i < 0) None
            else Some(l.substring(0, i).trim.toLowerCase ->
              l.substring(i + 1).trim)
          }.toMap
          val len = headers.getOrElse("content-length",
            throw new IllegalArgumentException(
              "record without Content-Length")).toLong
          val bodyStart = hEnd + 4
          if (len < 0 || bodyStart + len > b.length)
            throw new IllegalArgumentException("truncated record body")
          val payload = java.util.Arrays.copyOfRange(
            b, bodyStart, bodyStart + len.toInt)
          rows += WarcRecord(
            headers.getOrElse("warc-target-uri", null),
            headers.getOrElse("warc-type", null),
            headers.getOrElse("warc-date", null),
            headers, payload, null)
          pos = bodyStart + len.toInt
        }
      }
      gzErr match {
        case None => rows.result()
        case Some(m) => rows.result() :+ WarcRecord(null, null, null, null,
          null, s"warc walk failed: ${m.take(200)}")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        val msg = gzErr.getOrElse(String.valueOf(e.getMessage))
        rows.result() :+ WarcRecord(null, null, null, null, null,
          s"warc walk failed: ${msg.take(200)}")
    }
  }

  private def decode(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("content")).as[Array[Byte]]
      .flatMap(walkFile _)
      .select("url", "warc_type", "warc_date", "headers", "payload", "error")
  }

  /** Read every `*.warc` / `*.warc.gz` file under `path`:
    * `(url, warc_type, warc_date, headers, payload, error)` — one row
    * per record, header lookup case-insensitive, records parsed before
    * a malformed point are KEPT and the corrupt tail yields one
    * quarantine row. */
  def read(spark: SparkSession, path: String): DataFrame =
    decode(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*").load(path))

  /** STREAMING ingestion of a growing crawl directory: the `binaryFile`
    * file-stream source discovers newly landed `*.warc{,.gz}` files per
    * micro-batch and each flows through the SAME [[walkFile]] decode as
    * [[read]] (batch == stream by construction — pinned in
    * WarcFilesSpec's AvailableNow equivalence test). One file = one
    * source unit, so exactly-once ingestion rides the file-source log;
    * downstream watermarks/aggregations attach as on any stream.
    */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    // streaming sources require an explicit schema; binaryFile's is fixed
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    decode(spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc*").load(path))
  }
}
