package graft.io

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) record reader/writer — the first real
  * stage of a crawl-shaped corpus pipeline. Common-Crawl-style corpora
  * arrive as `.warc.gz` files: a concatenation of PER-RECORD gzip
  * members, each member one WARC record (version line, CRLF-separated
  * named headers, blank line, `Content-Length` bytes of block, blank
  * line). `response` records carry an HTTP/1.1 message as their block:
  * status line + headers + payload.
  *
  * Scale shape: the FILE is the parallelism unit — a crawl ships tens of
  * thousands of ~1 GB members-compressed files, far more than executor
  * slots, so one task per file saturates a cluster without any record
  * index. [[readWarc]] lists files on the driver (a metadata op), ships
  * the paths, and each task streams its file record-by-record through
  * one gzip-decoding pass: memory is bounded by the largest single
  * record, never the file, and nothing is collected. The parser is a
  * plain JVM kernel ([[records]]) so the spec can pin byte-exact
  * fixtures without Spark in the loop.
  *
  * Out of scope (disclosed, matching the honest-stub policy used for
  * video codecs): `Transfer-Encoding: chunked` payloads are returned raw
  * (Common Crawl stores identity payloads), and DICTIONARY-compressed
  * `.warc.zst` (the IIPC skippable-frame dictionary convention) fails
  * loudly rather than decoding — plain zstd frames, gzip members, and
  * uncompressed files are all read.
  *
  * Reference anchor: the reference reads tabular sources only
  * (`dp.py:62`); WARC ingestion is part of the LLM-pipeline extension
  * surface (SURVEY.md §8), feeding `extract-html`
  * (pipeline/Production.scala `crawl-ingest`).
  */
object Warc {

  /** One parsed WARC record. `http_status`/`mime`/`charset`/`payload`
    * are the parsed HTTP response pieces for `application/http` blocks
    * (`charset` is the Content-Type parameter, lowercased — the decode
    * hint [[payloadText]] honors); for every other block type `payload`
    * is the raw block and the HTTP fields are null. */
  case class WarcRecord(
      warc_file: String,
      record_no: Int,
      warc_type: String,
      record_id: String,
      target_uri: String,
      warc_date: java.sql.Timestamp,
      content_type: String,
      content_length: Long,
      http_status: Option[Int],
      mime: Option[String],
      charset: Option[String],
      payload: Array[Byte])

  private val GzipMagic0 = 0x1f
  private val GzipMagic1 = 0x8b
  /** zstd frame magic, little-endian 0xFD2FB528. */
  private val ZstdMagic = Array(0x28, 0xb5, 0x2f, 0xfd)

  // ------------------------------------------------------------- parsing

  /** Lazily parse every record of one WARC stream (plain or
    * concatenated-gzip-members — sniffed from the magic bytes). The
    * returned iterator closes `in` when exhausted. Malformed tail bytes
    * fail loudly (a truncated crawl file is a data problem, not a
    * skippable one). */
  def records(in: InputStream, file: String): Iterator[WarcRecord] = {
    val buffered = new BufferedInputStream(in, 1 << 16)
    buffered.mark(4)
    val m = Array.fill(4)(buffered.read())
    buffered.reset()
    val stream: InputStream =
      if (m(0) == GzipMagic0 && m(1) == GzipMagic1)
        // java's GZIPInputStream consumes CONCATENATED members in one
        // stream — exactly the per-record-member WARC convention
        new GZIPInputStream(buffered, 1 << 16)
      else if (m.sameElements(ZstdMagic)) {
        // zstd-jni rides Spark's own shuffle-compression dependency; the
        // continuous flag consumes concatenated per-record frames the way
        // GZIPInputStream consumes members
        val z = new com.github.luben.zstd.ZstdInputStream(buffered)
        z.setContinuous(true)
        z
      } else buffered

    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = _
      private var done = false
      private var n = 0

      private def advance(): Unit = {
        if (done) return
        parseOne(stream, file, n) match {
          case Some(r) => nextRec = r; n += 1
          case None    => done = true; nextRec = null; stream.close()
        }
      }

      advance()
      override def hasNext: Boolean = !done
      override def next(): WarcRecord = {
        if (done) throw new NoSuchElementException("WARC stream exhausted")
        val r = nextRec; advance(); r
      }
    }
  }

  /** Read one CRLF (or bare-LF) terminated line as ISO-8859-1, or null at
    * EOF before any byte. */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(128)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { buf.write(c); c = in.read() }
    val bytes = buf.toByteArray
    val len = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
    new String(bytes, 0, len, StandardCharsets.ISO_8859_1)
  }

  private def readFully(in: InputStream, n: Int, what: String): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val read = in.read(out, off, n - off)
      if (read < 0) throw new EOFException(s"truncated WARC $what: expected $n bytes, got $off")
      off += read
    }
    out
  }

  private def parseOne(in: InputStream, file: String, recordNo: Int): Option[WarcRecord] = {
    // skip inter-record blank lines, find the version line
    var line = readLine(in)
    while (line != null && line.isEmpty) line = readLine(in)
    if (line == null) return None
    require(line.startsWith("WARC/"),
      s"$file record $recordNo: expected WARC version line, got '${line.take(40)}'")
    // named headers up to the blank line
    val headers = scala.collection.mutable.Map.empty[String, String]
    var h = readLine(in)
    while (h != null && h.nonEmpty) {
      val i = h.indexOf(':')
      require(i > 0, s"$file record $recordNo: malformed WARC header '${h.take(40)}'")
      headers.put(h.substring(0, i).trim.toLowerCase, h.substring(i + 1).trim)
      h = readLine(in)
    }
    val len = headers.getOrElse("content-length",
      sys.error(s"$file record $recordNo: missing Content-Length")).toLong
    require(len <= Int.MaxValue, s"$file record $recordNo: block of $len bytes unsupported")
    val block = readFully(in, len.toInt, s"record $recordNo block")
    val warcType = headers.getOrElse("warc-type", "")
    val contentType = headers.getOrElse("content-type", "")
    val date = headers.get("warc-date")
      .map(d => java.sql.Timestamp.from(java.time.Instant.parse(d)))
      .orNull
    val (status, mime, charset, payload) =
      if (contentType.startsWith("application/http")) parseHttp(block)
      else (None, None, None, block)
    Some(WarcRecord(
      warc_file = file,
      record_no = recordNo,
      warc_type = warcType,
      record_id = headers.getOrElse("warc-record-id", ""),
      target_uri = headers.getOrElse("warc-target-uri", ""),
      warc_date = date,
      content_type = contentType,
      content_length = len,
      http_status = status,
      mime = mime,
      charset = charset,
      payload = payload))
  }

  private val CharsetParamRe =
    java.util.regex.Pattern.compile(
      "charset\\s*=\\s*\"?([A-Za-z0-9_.:+-]+)\"?",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Split an HTTP/1.x message block into (status, media type, declared
    * charset, payload). The payload is the raw bytes after the header
    * terminator — chunked transfer encodings are NOT decoded (disclosed
    * above). */
  private[io] def parseHttp(
      block: Array[Byte]): (Option[Int], Option[String], Option[String], Array[Byte]) = {
    val sep = indexOfHeaderEnd(block)
    if (sep < 0) return (None, None, None, block)
    val head = new String(block, 0, sep, StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    val status = lines.headOption
      .filter(_.toUpperCase.startsWith("HTTP/"))
      .flatMap(_.split("\\s+").lift(1))
      .flatMap(s => scala.util.Try(s.toInt).toOption)
    val contentType = lines.iterator.drop(1)
      .map(_.split(":", 2))
      .collectFirst { case Array(k, v) if k.trim.equalsIgnoreCase("content-type") =>
        v.trim }
    val mime = contentType.map(_.split(";")(0).trim.toLowerCase)
    val charset = contentType.flatMap { ct =>
      val m = CharsetParamRe.matcher(ct)
      if (m.find()) Some(m.group(1).toLowerCase) else None
    }
    val bodyStart = sep + headerEndLen(block, sep)
    (status, mime, charset, java.util.Arrays.copyOfRange(block, bodyStart, block.length))
  }

  /** Index of the first \r\n\r\n or \n\n header terminator, -1 if none. */
  private def indexOfHeaderEnd(b: Array[Byte]): Int = {
    var i = 0
    while (i < b.length - 1) {
      if (b(i) == '\n' && b(i + 1) == '\n') return i + 1 // points at the 2nd \n's start... adjust below
      if (i < b.length - 3 && b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  private def headerEndLen(b: Array[Byte], sep: Int): Int =
    if (b(sep) == '\r') 4 else 1 // \r\n\r\n vs the bare \n\n (sep is the 2nd \n)

  // ------------------------------------------------------------ the read

  /** Read WARC files (plain or `.warc.gz`) into a DataFrame of parsed
    * records: one task per file, each streaming its records through a
    * single bounded-memory pass. `paths` accepts files, directories, and
    * globs (Hadoop glob syntax) — listing happens on the driver, exactly
    * like Spark's own file sources. */
  def readWarc(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    ShardFiles.read(spark, paths, "readWarc")(records).toDF()
  }

  /** The UTF-8 payload as a string column — for payloads KNOWN to be
    * UTF-8 (the fixture writer's output, modern crawls). Real mixed
    * crawls should pass the parsed `charset` column to the two-argument
    * form. */
  def payloadText(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    decode(payload, "UTF-8")

  /** Charset-aware payload decode: honors the HTTP-declared charset for
    * the encodings that actually occur in crawls (latin-1/windows-1252,
    * ascii, utf-16 variants), falling back to UTF-8 for everything else
    * (including missing/exotic declarations) — a codegen'd `when` chain
    * over Spark's literal-charset `decode`, no per-row UDF. */
  def payloadText(
      payload: org.apache.spark.sql.Column,
      charset: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val c = lower(trim(charset))
    when(c.isin("iso-8859-1", "latin-1", "latin1"), decode(payload, "ISO-8859-1"))
      .when(c.isin("windows-1252", "cp1252"), decode(payload, "windows-1252"))
      .when(c === "us-ascii", decode(payload, "US-ASCII"))
      .when(c === "utf-16", decode(payload, "UTF-16"))
      .when(c === "utf-16le", decode(payload, "UTF-16LE"))
      .when(c === "utf-16be", decode(payload, "UTF-16BE"))
      .otherwise(decode(payload, "UTF-8"))
  }

  // ----------------------------------------------------------- the write

  private def crlf(s: String): Array[Byte] = (s + "\r\n").getBytes(StandardCharsets.ISO_8859_1)

  /** Serialize one `response` record (HTTP 200, the given mime) in WARC/1.0
    * form — the building block of [[writeWarc]] and the spec fixtures. */
  def responseRecordBytes(
      uri: String,
      date: java.time.Instant,
      recordId: String,
      mimeType: String,
      payload: Array[Byte]): Array[Byte] = {
    val http = new ByteArrayOutputStream()
    http.write(crlf("HTTP/1.1 200 OK"))
    http.write(crlf(s"Content-Type: $mimeType"))
    http.write(crlf(s"Content-Length: ${payload.length}"))
    http.write(crlf(""))
    http.write(payload)
    val block = http.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(crlf("WARC/1.0"))
    out.write(crlf("WARC-Type: response"))
    out.write(crlf(s"WARC-Record-ID: $recordId"))
    out.write(crlf(s"WARC-Date: $date"))
    out.write(crlf(s"WARC-Target-URI: $uri"))
    out.write(crlf("Content-Type: application/http; msgtype=response"))
    out.write(crlf(s"Content-Length: ${block.length}"))
    out.write(crlf(""))
    out.write(block)
    out.write(crlf(""))
    out.write(crlf(""))
    out.toByteArray
  }

  /** Serialize a `warcinfo` record (file-level metadata, the conventional
    * first member of a crawl file). */
  def warcinfoRecordBytes(date: java.time.Instant, recordId: String, info: String): Array[Byte] = {
    val block = info.getBytes(StandardCharsets.UTF_8)
    val out = new ByteArrayOutputStream()
    out.write(crlf("WARC/1.0"))
    out.write(crlf("WARC-Type: warcinfo"))
    out.write(crlf(s"WARC-Record-ID: $recordId"))
    out.write(crlf(s"WARC-Date: $date"))
    out.write(crlf("Content-Type: application/warc-fields"))
    out.write(crlf(s"Content-Length: ${block.length}"))
    out.write(crlf(""))
    out.write(block)
    out.write(crlf(""))
    out.write(crlf(""))
    out.toByteArray
  }

  /** One gzip member per record — the Common-Crawl framing that keeps
    * records independently decompressable. */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(record); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Write `df` as `.warc.gz` shards under `dir` — one shard per
    * partition, one gzip member per record, a `warcinfo` member first in
    * each shard. Expects columns (uriCol: string, dateCol: timestamp,
    * idCol: string, mimeCol: string, payloadCol: binary). The inverse of
    * [[readWarc]] up to the warcinfo member (round-trip pinned by
    * WarcSpec and the `warc_read` oracle). The shards are staged in a
    * hidden directory and published with [[Publish.replaceFiles]]: a
    * re-export to the same `dir` replaces the old shards. */
  def writeWarc(
      df: DataFrame,
      dir: String,
      uriCol: String,
      dateCol: String,
      idCol: String,
      mimeCol: String,
      payloadCol: String): Unit = {
    val cols = df.select(
      col(uriCol).cast("string"), col(dateCol).cast("timestamp"),
      col(idCol).cast("string"), col(mimeCol).cast("string"),
      col(payloadCol).cast("binary"))
    val staging = Publish.stagingDir(dir)
    val dirStr = staging.toString
    val kv = ShardFiles.confEntries(df.sparkSession.sparkContext.hadoopConfiguration)
    val written = cols.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val p = new org.apache.hadoop.fs.Path(f"$dirStr%s/part-$pid%05d.warc.gz")
        val fs = p.getFileSystem(ShardFiles.confOf(kv))
        val out = fs.create(p, true)
        try {
          out.write(gzipMember(warcinfoRecordBytes(
            java.time.Instant.EPOCH, s"<urn:graft:warcinfo:$pid>",
            "software: graft-warc-writer\r\n")))
          var n = 0L
          it.foreach { row =>
            // loud nulls: a null ts would silently serialize as epoch,
            // a null uri/id/mime as a bare NPE deep in the writer
            var i = 0
            while (i < 5) {
              require(!row.isNullAt(i),
                s"writeWarc: null in record field $i (uri/ts/id/mime/payload) at row $n of partition $pid")
              i += 1
            }
            val micros = row.getLong(1)
            // full microsecond fidelity (floor semantics for pre-epoch):
            // WARC-Date prints fractional seconds and readWarc parses
            // them back, keeping the round-trip exact
            val date = java.time.Instant.ofEpochSecond(
              Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
            out.write(gzipMember(responseRecordBytes(
              row.getUTF8String(0).toString, date, row.getUTF8String(2).toString,
              row.getUTF8String(3).toString, row.getBinary(4))))
            n += 1
          }
          Iterator.single(n)
        } finally out.close()
      }
    }.sum()
    require(written >= 0) // forces the job
    Publish.replaceFiles(df.sparkSession, staging, "part-*.warc.gz")
  }
}
