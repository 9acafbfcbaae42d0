package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException}
import java.nio.charset.StandardCharsets

import graft.io.Warc
import org.apache.spark.sql.functions._

/** WARC reader/writer: hand-pinned byte fixtures through the JVM kernel
  * (no Spark in the loop), then the distributed read/write round-trip. */
class WarcSpec extends SparkSpec {

  private def crlf(s: String) = (s + "\r\n").getBytes(StandardCharsets.ISO_8859_1)

  /** A hand-built non-response record (the writer only emits responses,
    * so these exercise the parser's other branches). */
  private def rawRecord(warcType: String, contentType: String,
      extraHeaders: Seq[String], block: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(crlf("WARC/1.0"))
    out.write(crlf(s"WARC-Type: $warcType"))
    out.write(crlf("WARC-Date: 2024-05-06T07:08:09Z"))
    extraHeaders.foreach(h => out.write(crlf(h)))
    out.write(crlf(s"Content-Type: $contentType"))
    out.write(crlf(s"Content-Length: ${block.length}"))
    out.write(crlf(""))
    out.write(block)
    out.write(crlf(""))
    out.write(crlf(""))
    out.toByteArray
  }

  private val htmlPayload = "<html><body>hello &amp; goodbye</body></html>"
      .getBytes(StandardCharsets.UTF_8)

  private def fixtureBytes(gzip: Boolean): Array[Byte] = {
    val records = Seq(
      Warc.warcinfoRecordBytes(java.time.Instant.parse("2024-05-06T00:00:00Z"),
        "<urn:test:info>", "software: test\r\n"),
      Warc.responseRecordBytes("http://a.test/1",
        java.time.Instant.parse("2024-05-06T07:08:09Z"), "<urn:test:1>",
        "text/html", htmlPayload),
      rawRecord("request", "application/http; msgtype=request", Seq("WARC-Target-URI: http://a.test/1"),
        crlf("GET /1 HTTP/1.1") ++ crlf("Host: a.test") ++ crlf("")),
      rawRecord("resource", "text/plain", Seq("WARC-Target-URI: http://a.test/r"),
        "just bytes".getBytes(StandardCharsets.UTF_8)),
      Warc.responseRecordBytes("http://a.test/2",
        java.time.Instant.parse("2024-05-06T07:08:10Z"), "<urn:test:2>",
        "application/json", """{"k":1}""".getBytes(StandardCharsets.UTF_8)))
    val out = new ByteArrayOutputStream()
    records.foreach(r => out.write(if (gzip) Warc.gzipMember(r) else r))
    out.toByteArray
  }

  private def parseAll(bytes: Array[Byte]): Seq[Warc.WarcRecord] =
    Warc.records(new ByteArrayInputStream(bytes), "mem").toSeq

  test("kernel: gzip-member fixture parses field-exact") {
    val rs = parseAll(fixtureBytes(gzip = true))
    assert(rs.map(_.warc_type) === Seq("warcinfo", "response", "request", "resource", "response"))
    assert(rs.map(_.record_no) === Seq(0, 1, 2, 3, 4))
    val info = rs(0)
    assert(info.content_type === "application/warc-fields")
    assert(new String(info.payload, StandardCharsets.UTF_8) === "software: test\r\n")
    assert(info.http_status.isEmpty && info.mime.isEmpty)
    val resp = rs(1)
    assert(resp.target_uri === "http://a.test/1")
    assert(resp.record_id === "<urn:test:1>")
    assert(resp.warc_date ===
      java.sql.Timestamp.from(java.time.Instant.parse("2024-05-06T07:08:09Z")))
    assert(resp.http_status === Some(200))
    assert(resp.mime === Some("text/html"))
    assert(new String(resp.payload, StandardCharsets.UTF_8) ===
      "<html><body>hello &amp; goodbye</body></html>")
    // the WARC block length covers the http headers too
    assert(resp.content_length > htmlPayload.length)
    val req = rs(2)
    // request blocks are application/http but have no status line/body
    assert(req.http_status.isEmpty && req.mime.isEmpty && req.payload.isEmpty)
    val res = rs(3)
    assert(res.http_status.isEmpty && res.mime.isEmpty)
    assert(new String(res.payload, StandardCharsets.UTF_8) === "just bytes")
    val json = rs(4)
    assert(json.mime === Some("application/json"))
    assert(new String(json.payload, StandardCharsets.UTF_8) === """{"k":1}""")
  }

  test("kernel: plain (uncompressed) concatenation parses identically") {
    val gz = parseAll(fixtureBytes(gzip = true))
    val plain = parseAll(fixtureBytes(gzip = false))
    assert(plain.map(r => (r.warc_type, r.target_uri, r.http_status, r.mime,
        new String(r.payload, StandardCharsets.UTF_8))) ===
      gz.map(r => (r.warc_type, r.target_uri, r.http_status, r.mime,
        new String(r.payload, StandardCharsets.UTF_8))))
  }

  test("kernel: zstd per-record frames (.warc.zst) parse identically") {
    // one zstd frame per record — the IIPC .warc.zst framing (dictionary
    // skippable frames excluded; disclosed out of scope)
    val zst = new ByteArrayOutputStream()
    Seq(
      Warc.warcinfoRecordBytes(java.time.Instant.parse("2024-05-06T00:00:00Z"),
        "<urn:test:info>", "software: test\r\n"),
      Warc.responseRecordBytes("http://a.test/1",
        java.time.Instant.parse("2024-05-06T07:08:09Z"), "<urn:test:1>",
        "text/html", htmlPayload),
      Warc.responseRecordBytes("http://a.test/2",
        java.time.Instant.parse("2024-05-06T07:08:10Z"), "<urn:test:2>",
        "application/json", """{"k":1}""".getBytes(StandardCharsets.UTF_8)))
      .foreach(r => zst.write(com.github.luben.zstd.Zstd.compress(r)))
    val rs = parseAll(zst.toByteArray)
    assert(rs.map(_.warc_type) === Seq("warcinfo", "response", "response"))
    assert(rs(1).target_uri === "http://a.test/1")
    assert(rs(1).http_status === Some(200))
    assert(new String(rs(1).payload, StandardCharsets.UTF_8) ===
      "<html><body>hello &amp; goodbye</body></html>")
    assert(new String(rs(2).payload, StandardCharsets.UTF_8) === """{"k":1}""")
  }

  test("kernel: mime splits from the charset parameter; both land typed") {
    val rec = rawRecord("response", "application/http; msgtype=response", Seq.empty,
      crlf("HTTP/1.1 301 Moved") ++ crlf("Content-Type: Text/HTML; charset=ISO-8859-1") ++
        crlf("") ++ "moved".getBytes(StandardCharsets.UTF_8))
    val r = parseAll(rec).head
    assert(r.http_status === Some(301))
    assert(r.mime === Some("text/html"))
    assert(r.charset === Some("iso-8859-1"))
    assert(new String(r.payload, StandardCharsets.UTF_8) === "moved")
    // quoted charset value; no-charset header leaves None
    val rq = parseAll(rawRecord("response", "application/http", Seq.empty,
      crlf("HTTP/1.1 200 OK") ++ crlf("""Content-Type: text/plain; charset="UTF-16LE"""") ++
        crlf("") ++ Array.empty[Byte])).head
    assert(rq.charset === Some("utf-16le"))
    assert(parseAll(fixtureBytes(gzip = true))(1).charset === None)
  }

  test("charset-aware payloadText decodes declared latin-1; unknown falls back to UTF-8") {
    import spark.implicits._
    val latin1 = "café olé".getBytes(StandardCharsets.ISO_8859_1)
    val utf8 = "café olé".getBytes(StandardCharsets.UTF_8)
    val rows = Seq(
      (1L, latin1, "iso-8859-1"),
      (2L, utf8, null.asInstanceOf[String]),    // no declaration -> UTF-8
      (3L, utf8, "x-klingon"),                  // unknown -> UTF-8 fallback
      (4L, "café".getBytes("UTF-16LE"), "utf-16le"))
      .toDF("id", "payload", "charset")
    val out = rows
      .select($"id", Warc.payloadText($"payload", $"charset").as("t"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "café olé", s"latin-1 decode broke: ${out(1L)}")
    assert(out(2L) === "café olé")
    assert(out(3L) === "café olé")
    assert(out(4L) === "café")
  }

  test("kernel: truncated record fails loudly, not silently short") {
    val bytes = fixtureBytes(gzip = false)
    val cut = java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 40)
    val e = intercept[Exception] {
      Warc.records(new ByteArrayInputStream(cut), "mem").toSeq
    }
    assert(e.isInstanceOf[EOFException] || e.getMessage.contains("WARC"),
      s"unexpected failure shape: $e")
  }

  test("spark round-trip: writeWarc shards read back row-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-rt").toString
    // sub-second timestamps included: the writer must keep microsecond
    // fidelity through WARC-Date for the round-trip to be exact
    val in = (0 until 40).map { i =>
      (s"http://t.test/$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1700000000L + i, (i * 123456L % 1000000L) * 1000)),
        s"<urn:t:$i>", if (i % 2 == 0) "text/html" else "text/plain",
        s"payload $i é中".getBytes(StandardCharsets.UTF_8))
    }.toDF("uri", "ts", "rid", "mime", "payload")
    Warc.writeWarc(in.repartition(3), s"$dir/out", "uri", "ts", "rid", "mime", "payload")
    val back = Warc.readWarc(spark, Seq(s"$dir/out"))
    // every shard leads with its warcinfo member
    val files = back.select("warc_file").distinct().count()
    assert(back.filter($"warc_type" === "warcinfo").count() === files)
    val rt = back.filter($"warc_type" === "response")
      .select($"target_uri", $"warc_date", $"record_id", $"mime",
        Warc.payloadText($"payload").as("p"))
      .as[(String, java.sql.Timestamp, String, String, String)]
      .collect().toSet
    val expected = (0 until 40).map { i =>
      (s"http://t.test/$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1700000000L + i, (i * 123456L % 1000000L) * 1000)),
        s"<urn:t:$i>", if (i % 2 == 0) "text/html" else "text/plain",
        s"payload $i é中")
    }.toSet
    assert(rt === expected)
    // http_status parsed on every response
    assert(back.filter($"warc_type" === "response" && $"http_status" =!= 200).count() === 0)
  }

  test("readWarc: glob listing, one record stream per file, missing glob fails loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-glob").toString
    val in = (0 until 10).map(i =>
      (s"http://g.test/$i", new java.sql.Timestamp(0L), s"<urn:g:$i>", "text/plain",
        s"p$i".getBytes(StandardCharsets.UTF_8)))
      .toDF("uri", "ts", "rid", "mime", "payload")
    Warc.writeWarc(in.repartition(2), s"$dir/w", "uri", "ts", "rid", "mime", "payload")
    val viaGlob = Warc.readWarc(spark, Seq(s"$dir/w/part-*.warc.gz"))
      .filter($"warc_type" === "response").count()
    assert(viaGlob === 10)
    val e = intercept[IllegalArgumentException] {
      Warc.readWarc(spark, Seq(s"$dir/nope/*.warc.gz"))
    }
    assert(e.getMessage.contains("no files match"))
  }

  test("re-export to the same dir replaces stale shards (overwrite semantics)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-ow").toString
    def rows(prefix: String, n: Int) = (0 until n).map(i =>
      (s"http://$prefix.test/$i", new java.sql.Timestamp(0L), s"<urn:$prefix:$i>",
        "text/plain", s"p$i".getBytes(StandardCharsets.UTF_8)))
      .toDF("uri", "ts", "rid", "mime", "payload")
    Warc.writeWarc(rows("b", 15).repartition(3), s"$dir/out",
      "uri", "ts", "rid", "mime", "payload")
    // fewer rows AND fewer partitions: a non-clearing writer would leave
    // the old layout's extra shards behind
    Warc.writeWarc(rows("s", 2).repartition(1), s"$dir/out",
      "uri", "ts", "rid", "mime", "payload")
    def uris() = Warc.readWarc(spark, Seq(s"$dir/out"))
      .filter($"warc_type" === "response").select($"target_uri").as[String].collect().toSeq
    assert(uris().sorted === Seq("http://s.test/0", "http://s.test/1"))
    // SELF-REFERENTIAL re-export: the job reads the directory it replaces
    val selfRef = Warc.readWarc(spark, Seq(s"$dir/out"))
      .filter($"warc_type" === "response" && $"target_uri" === "http://s.test/0")
      .select($"target_uri", $"warc_date", $"record_id", $"mime", $"payload")
    Warc.writeWarc(selfRef, s"$dir/out", "target_uri", "warc_date", "record_id",
      "mime", "payload")
    assert(uris() === Seq("http://s.test/0"))
    assert(!new java.io.File(s"$dir/out").listFiles().exists(_.getName.startsWith(".staging")))
    // an empty re-export writes no shard, and still replaces the old ones
    Warc.writeWarc(rows("e", 0), s"$dir/out", "uri", "ts", "rid", "mime", "payload")
    assert(uris().isEmpty)
  }
}
