package graft.queries

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sampling.Sampling
import graft.similarity.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Support._

/** LLM-training-data pipeline queries: text analysis, dedup (exact /
  * MinHash-LSH / SimHash / n-gram Jaccard), embedding similarity search,
  * multimodal plumbing.
  *
  * xxhash64-based operators (MinHash, SimHash, fingerprints, LSH) have no
  * DuckDB equivalent — they are registered without oracle SQL but with
  * deterministic PLANTED near-duplicates (doc_id + 100000, first token
  * mutated) so their outputs are non-empty and reproducible; ScalaTest
  * asserts the planted pairs are found. */
object LlmQueries {

  /** Hand-built minimal MP4 for the frame-index oracle: ftyp(isom) +
    * moov{mvhd, video trak{mdhd timescale=1000, hdlr vide, stbl{
    * stts (3 samples, delta 100), stsz [10,20,30],
    * stsc [chunk1: 2/chunk, chunk2: 1/chunk], stco [1000, 2000],
    * stss [1, 3]}}} — expected frames: (0,1000,10,0ms,sync),
    * (1,1010,20,100ms), (2,2000,30,200ms,sync). */
  private val TestMp4Hex: String =
    "000000146674797069736F6D000000006D703432000001606D6F6F760000006C6D766864" +
    "000000000000000000000000000003E80000012C00000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "00000000000000000000000000000000000000000000000000000000000000EC7472616B" +
    "000000E46D6469610000001C6D646864000000000000000000000000000003E80000012C" +
    "0000002068646C72000000000000000076696465000000000000000000000000000000A0" +
    "6D696E66000000987374626C000000187374747300000000000000010000000300000064" +
    "000000207374737A0000000000000000000000030000000A000000140000001E00000028" +
    "737473630000000000000002000000010000000200000001000000020000000100000001" +
    "000000187374636F0000000000000002000003E8000007D0000000187374737300000000" +
    "000000020000000100000003"

  /** Hand-built MJPEG-in-AVI for the frame-decode oracle: RIFF/AVI with
    * one MJPG vids stream and two movi frames — a solid-red 8x6 JPEG at
    * byte 184 and a solid-blue 4x4 JPEG at byte 826 (both 633 bytes,
    * encoded once with the JDK ImageIO JPEG writer and pinned as bytes
    * so the fixture never depends on encoder drift). */
  private val TestAviHex: String =
    "52494646AC050000415649204C495354900000006864726C6176696838000000409C0000" +
    "000000000000000000000000020000000000000001000000000000000800000006000000" +
    "000000000000000000000000000000004C495354440000007374726C7374726838000000" +
    "766964734D4A504700000000000000000000000000000000000000000000000000000000" +
    "00000000000000000000000000000000000000004C495354080500006D6F766930306463" +
    "79020000FFD8FFE000104A46494600010200000100010000FFDB00430008060607060508" +
    "0707070909080A0C140D0C0B0B0C1912130F141D1A1F1E1D1A1C1C20242E2720222C231C" +
    "1C2837292C30313434341F27393D38323C2E333432FFDB0043010909090C0B0C180D0D18" +
    "32211C213232323232323232323232323232323232323232323232323232323232323232" +
    "323232323232323232323232323232323232FFC000110800060008030122000211010311" +
    "01FFC4001F0000010501010101010100000000000000000102030405060708090A0BFFC4" +
    "00B5100002010303020403050504040000017D0102030004110512213141061351610722" +
    "7114328191A1082342B1C11552D1F02433627282090A161718191A25262728292A343536" +
    "3738393A434445464748494A535455565758595A636465666768696A737475767778797A" +
    "838485868788898A92939495969798999AA2A3A4A5A6A7A8A9AAB2B3B4B5B6B7B8B9BAC2" +
    "C3C4C5C6C7C8C9CAD2D3D4D5D6D7D8D9DAE1E2E3E4E5E6E7E8E9EAF1F2F3F4F5F6F7F8F9" +
    "FAFFC4001F0100030101010101010101010000000000000102030405060708090A0BFFC4" +
    "00B511000201020404030407050404000102770001020311040521310612415107617113" +
    "22328108144291A1B1C109233352F0156272D10A162434E125F11718191A262728292A35" +
    "363738393A434445464748494A535455565758595A636465666768696A73747576777879" +
    "7A82838485868788898A92939495969798999AA2A3A4A5A6A7A8A9AAB2B3B4B5B6B7B8B9" +
    "BAC2C3C4C5C6C7C8C9CAD2D3D4D5D6D7D8D9DAE2E3E4E5E6E7E8E9EAF2F3F4F5F6F7F8F9" +
    "FAFFDA000C03010002110311003F00E2E8A28AF993F713FFD9003030646379020000FFD8" +
    "FFE000104A46494600010200000100010000FFDB00430008060607060508070707090908" +
    "0A0C140D0C0B0B0C1912130F141D1A1F1E1D1A1C1C20242E2720222C231C1C2837292C30" +
    "313434341F27393D38323C2E333432FFDB0043010909090C0B0C180D0D1832211C213232" +
    "323232323232323232323232323232323232323232323232323232323232323232323232" +
    "323232323232323232323232FFC00011080004000403012200021101031101FFC4001F00" +
    "00010501010101010100000000000000000102030405060708090A0BFFC400B510000201" +
    "0303020403050504040000017D01020300041105122131410613516107227114328191A1" +
    "082342B1C11552D1F02433627282090A161718191A25262728292A3435363738393A4344" +
    "45464748494A535455565758595A636465666768696A737475767778797A838485868788" +
    "898A92939495969798999AA2A3A4A5A6A7A8A9AAB2B3B4B5B6B7B8B9BAC2C3C4C5C6C7C8" +
    "C9CAD2D3D4D5D6D7D8D9DAE1E2E3E4E5E6E7E8E9EAF1F2F3F4F5F6F7F8F9FAFFC4001F01" +
    "00030101010101010101010000000000000102030405060708090A0BFFC400B511000201" +
    "020404030407050404000102770001020311040521310612415107617113223281081442" +
    "91A1B1C109233352F0156272D10A162434E125F11718191A262728292A35363738393A43" +
    "4445464748494A535455565758595A636465666768696A737475767778797A8283848586" +
    "8788898A92939495969798999AA2A3A4A5A6A7A8A9AAB2B3B4B5B6B7B8B9BAC2C3C4C5C6" +
    "C7C8C9CAD2D3D4D5D6D7D8D9DAE2E3E4E5E6E7E8E9EAF2F3F4F5F6F7F8F9FAFFDA000C03" +
    "010002110311003F00F1CA28A2BF713CC3FFD900"

  /** Per-sf scratch directory for the prebuilt ANN index queries: keyed by
    * the data directory so sf0.01 (Verify) and sf0.1 (Bench) never share an
    * index. Lives in the JVM temp dir — the index is a derived artifact,
    * rebuilt from the data whenever absent. */
  private[graft] def annIndexDir(dir: String, kind: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${System.getProperty("java.io.tmpdir")}/graft_ann_${kind}_$key"
  }

  /** The html chrome the warc fixture wraps every document payload in —
    * the SAME chrome as the `html_extract` query, so its oracle's
    * expected-extraction formula carries over to `warc_ingest_e2e`. */
  private def warcChrome(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("<html><body><!-- nav --><h1>Doc &amp; "), docId.cast("string"),
      lit("</h1><p>"), text,
      lit("</p><script>var x=1<2;</script>" +
        "<div> footer&nbsp;&#8212; end </div></body></html>"))

  /** The deterministic `.warc.gz` fixture for the warc queries, built
    * once per sf dir by [[graft.io.Publish.once]]: the
    * first 300 documents as HTTP-200 text/html response records —
    * uri/date/record-id all arithmetic functions of doc_id so DuckDB can
    * predict every parsed field. One shard, doc_id-ordered, so record_no
    * is deterministic (warcinfo is member 0). */
  private def warcFixtureDir(s: SparkSession, dir: String): String =
    graft.io.Publish.once(fixtureDir(dir, "warc_v2")) { out =>
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 300 && length(trim(col("text"))) > 0)
      val frame = docs
        .select(
          concat(lit("http://crawl.test/"), col("lang"), lit("/"),
            col("doc_id").cast("string")).as("uri"),
          (lit(1704067200L) + col("doc_id")).cast("timestamp").as("ts"),
          concat(lit("<urn:graft:doc:"), col("doc_id").cast("string"), lit(">")).as("rid"),
          // parameterized content-type: the parser must split media type
          // from the declared charset
          lit("text/html; charset=utf-8").as("mime"),
          encode(warcChrome(col("doc_id"), col("text")), "UTF-8").as("payload"),
          col("doc_id"))
        .repartition(1).sortWithinPartitions("doc_id")
        .drop("doc_id")
      graft.io.Warc.writeWarc(frame, out, "uri", "ts", "rid", "mime", "payload")
    }

  /** Token-count frame for the bin-packing queries: whitespace counts
    * with planted zero-token (id%17) and oversize (id%13, 9×) docs so the
    * next-fit fold's every branch is exercised and oracle-checked. */
  private def binPackDocs(s: SparkSession, dir: String): DataFrame = {
    val base = TextAnalysis.tokenCount(col("text")).cast("long")
    t(s, dir, "documents").filter(col("doc_id") < 200).select(
      col("doc_id"),
      when(col("doc_id") % 17 === 0, lit(0L))
        .when(col("doc_id") % 13 === 0, base * 9)
        .otherwise(base).as("n_tokens"))
  }

  /** Shared recursive-CTE prefix for the bin-packing oracles:
    * `countsSql` must yield `(doc_id, shard, n)`; the next-fit fold is
    * then threaded per shard in doc order — `f` holds every doc's
    * placement (`out_bin`/`out_off`) and post-doc state (`bin`/`fill`). */
  private def binPackFoldSql(countsSql: String, ctx: Int): String =
    s"""WITH RECURSIVE s AS ($countsSql),
       |r AS (SELECT shard, doc_id, n,
       |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM s),
       |f AS (
       |  SELECT shard, rn, doc_id, n,
       |    CASE WHEN n = 0 THEN NULL ELSE 0 END AS out_bin,
       |    CASE WHEN n = 0 THEN NULL ELSE 0 END AS out_off,
       |    CASE WHEN n = 0 THEN -1 ELSE 0 END AS bin,
       |    CASE WHEN n = 0 THEN 0 WHEN n >= $ctx THEN $ctx ELSE n END AS fill
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.shard, r.rn, r.doc_id, r.n,
       |    CASE WHEN r.n = 0 THEN NULL
       |         WHEN r.n >= $ctx OR f.bin < 0 OR f.fill + r.n > $ctx THEN f.bin + 1
       |         ELSE f.bin END,
       |    CASE WHEN r.n = 0 THEN NULL
       |         WHEN r.n >= $ctx OR f.bin < 0 OR f.fill + r.n > $ctx THEN 0
       |         ELSE f.fill END,
       |    CASE WHEN r.n = 0 THEN f.bin
       |         WHEN r.n >= $ctx OR f.bin < 0 OR f.fill + r.n > $ctx THEN f.bin + 1
       |         ELSE f.bin END,
       |    CASE WHEN r.n = 0 THEN f.fill
       |         WHEN r.n >= $ctx THEN $ctx
       |         WHEN f.bin < 0 OR f.fill + r.n > $ctx THEN r.n
       |         ELSE f.fill + r.n END
       |  FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
       |""".stripMargin

  /** The [[binPackDocs]] planted counts as the fold's `countsSql`. */
  private val binPackPlantedCountsSql: String =
    """
      |  SELECT doc_id, doc_id % 4 AS shard,
      |    CAST(CASE WHEN doc_id % 17 = 0 THEN 0
      |         WHEN doc_id % 13 = 0
      |           THEN len(string_split_regex(trim(text), '\s+')) * 9
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n
      |  FROM documents WHERE doc_id < 200""".stripMargin

  /** embeddings ∪ exact clones (+100000): the SemDeDup query frame. */
  private def semDedupFrame(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    e.unionByName(
      e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  /** documents ∪ mutated copies: near-dup planting for dedup operators. */
  private def planted(s: SparkSession, dir: String, n: Int = 50): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < n)
    docs.unionByName(
      docs.select(
        (col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "graftmutated").as("text"),
        col("lang"), col("source"), col("n_chars")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> { (s, dir) =>
      TextAnalysis
        .textStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // --- WARC ingestion: parse the staged gzip-member crawl file (one
    // member per record, ISO 28500 headers + HTTP response blocks) back
    // into typed rows. Every field is an arithmetic function of doc_id,
    // so the oracle predicts the COMPLETE parse — uri, status, mime,
    // fetch time, payload bytes and the payload string itself
    "warc_read" -> { (s, dir) =>
      graft.io.Warc.readWarc(s, Seq(warcFixtureDir(s, dir)))
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("record_no"),
          col("target_uri"),
          col("warc_type"),
          col("http_status"),
          col("mime"),
          col("charset"),
          col("warc_date").cast("long").as("fetch_unix"),
          length(col("payload")).cast("long").as("n_bytes"),
          graft.io.Warc.payloadText(col("payload")).as("payload_html"))
        .orderBy(col("doc_id"))
    },
    // --- raw crawl → text, entirely in-engine: WARC records → HTTP
    // payload → htmlToText — the crawl-ingest + extract-html catalog
    // chain as one oracle-checked query (the chrome matches html_extract,
    // so the expected extraction formula is the same)
    "warc_ingest_e2e" -> { (s, dir) =>
      graft.io.Warc.readWarc(s, Seq(warcFixtureDir(s, dir)))
        .filter(col("warc_type") === "response" && col("mime") === "text/html")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          TextAnalysis.htmlToText(graft.io.Warc.payloadText(col("payload"))).as("text"))
        .orderBy(col("doc_id"))
    },
    // --- the published Gopher quality rules over documents + planted
    // rule-trippers (bullet lists, ellipsis endings, symbol spam,
    // letterless text, a word-soup missing the required stopwords):
    // every measured value AND every verdict replayed in DuckDB
    "gopher_rules" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionByName(Seq(
        (920001L, "• alpha\n• beta\n• gamma\n- delta\nthe plain line with of and that have"),
        (920002L, "wait for it...\nalmost there…\nthe end of that story have with be to and"),
        (920003L, "# spam # tags # everywhere ... more ... dots the of and that"),
        (920004L, "111 222 333 444 555 666 777 888 999 000"),
        (920005L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"))
        .toDF("doc_id", "text"))
      TextAnalysis.gopherRules(all, "doc_id", "text", minWords = 20)
        .orderBy(col("doc_id"))
    },
    // --- the Gopher REPETITION rule battery over documents + planted
    // trippers (n-gram spam, duplicated lines, duplicated paragraphs):
    // all thirteen fractions and the conjunction replayed in DuckDB
    "gopher_repetition" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionByName(Seq(
        (940001L, "aa bb aa bb aa bb"),
        (940002L, "x y\nx y\nz z z"),
        (940003L, "para one here\n\npara one here"),
        (940004L, Seq.fill(12)("buy now click here fast deal").mkString(" ")))
        .toDF("doc_id", "text"))
      TextAnalysis.gopherRepetition(all, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // --- the published C4 line+page rules over documents + planted
    // rule-trippers (a clean passing page, a brace/code page, a lorem
    // ipsum page, a javascript/short-lines page, a policy-word page):
    // the line filter, every gate, and the rebuilt cleaned text all
    // replayed in DuckDB
    "c4_rules" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionByName(Seq(
        (930001L, "The first sentence of the page lands cleanly here.\nThe second one follows it with care.\nA third sentence arrives on time.\nThe fourth one keeps the page going!\nDoes the fifth one close it out?"),
        (930002L, "function f() {\nreturn the value of it all.\n}\nThe page ends with a sentence."),
        (930003L, "Lorem ipsum dolor sit amet, consectetur adipiscing elit.\nThe quick brown fox jumps over the lazy dog.\nPack my box with five dozen liquor jugs."),
        (930004L, "Please enable JavaScript to view this page.\nOK.\nHome.\nThe only real sentence on the page survives the filter."),
        (930005L, "This page mentions badword1 in its running text.\nEvery other sentence here is fine and long enough.\nAnother sentence follows to pad the page out.\nA fourth sentence keeps things moving along.\nThe fifth sentence completes the page nicely."))
        .toDF("doc_id", "text"))
      TextAnalysis.c4Rules(all, "doc_id", "text",
        badWords = Seq("badword1", "badword2"))
        .orderBy(col("doc_id"))
    },
    // --- WebDataset tar shards: export documents as <key>.txt/<key>.json
    // members, stream them back, and verify every member's content and
    // byte count against the source table — the training-loader delivery
    // format round-tripped under a FULL oracle
    "webdataset_roundtrip" -> { (s, dir) =>
      // _v2: tar headers became byte-exact POSIX ustar (magic/chksum) —
      // staged shards from the v1 writer must not satisfy this oracle
      val tmp = graft.io.Publish.once(fixtureDir(dir, "wds_v2")) { out =>
        val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id").cast("string").as("key"), col("text"),
            concat(lit("{\"lang\":\""), col("lang"), lit("\"}")).as("meta"))
        graft.io.WebDataset.writeShards(docs, out, "key",
          Seq("text" -> "txt", "meta" -> "json"), rowsPerShard = 64)
      }
      // the 0-byte staging marker yields no tar entries — harmless to list
      graft.io.WebDataset.readShards(s, Seq(tmp))
        .select(
          col("key").cast("long").as("doc_id"),
          col("ext"),
          decode(col("payload"), "UTF-8").as("content"),
          length(col("payload")).cast("long").as("n_bytes"))
        .orderBy(col("doc_id"), col("ext"))
    },
    // --- TFRecord shards: export documents as tf.Example records (int64
    // doc_id + bytes text + int64 n_chars features), stream them back
    // through the CRC-verified parser, and compare every recovered
    // feature against the source table — the TensorFlow delivery format
    // round-tripped under a FULL oracle
    "tfrecord_roundtrip" -> { (s, dir) =>
      val tmp = graft.io.Publish.once(fixtureDir(dir, "tfr")) { out =>
        val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text"),
            col("n_chars").cast("long").as("n_chars"))
        graft.io.TfRecord.writeShards(docs, out,
          Seq("doc_id", "text", "n_chars"), rowsPerShard = 64)
      }
      // the 0-byte staging marker yields no records — harmless to list
      graft.io.TfRecord.readExamples(s, Seq(tmp),
        Seq("doc_id" -> "long", "text" -> "string", "n_chars" -> "long"))
        .select(col("doc_id"), col("text"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    // --- URL canonicalization over a planted zoo (uppercase host/www/
    // default port, tracking params, fragment + trailing slash, https
    // :443, multi-label public suffix, dotted-IPv4 host): the oracle
    // predicts the canonical string from FIRST PRINCIPLES (doc_id
    // arithmetic), so the whole normalization policy is
    // ground-truth-checked, not regex-replayed
    "url_normalize" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val v = pmod(col("doc_id"), lit(7))
      val oct = pmod(col("doc_id"), lit(9)).cast("string")
      val url = when(v === 0, concat(lit("http://ex"), id, lit(".com/p/"), id))
        .when(v === 1, concat(lit("HTTP://WWW.EX"), id, lit(".COM:80/p/"), id))
        .when(v === 2, concat(lit("http://ex"), id,
          lit(".com/p/"), id, lit("?utm_source=x&utm_medium=y&q=1")))
        .when(v === 3, concat(lit("http://ex"), id, lit(".com/p/"), id, lit("/#sec")))
        .when(v === 4, concat(lit("https://ex"), id, lit(".com:443/p/"), id))
        .when(v === 5, concat(lit("http://sub.ex"), id, lit(".co.uk/p/"), id))
        .otherwise(concat(lit("http://10.0."), oct, lit(".1/p/"), id))
      t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), url.as("url"),
          graft.text.Urls.normalizeUrl(url).as("url_normalized"),
          graft.text.Urls.registeredDomain(url).as("domain"))
        .orderBy(col("doc_id"))
    },
    // --- URL-level dedup (the CCNet/RefinedWeb pre-content stage):
    // three fetches per page whose raw URLs differ (www/port case,
    // tracking params) but canonicalize identically — keep the latest
    // fetch. Bounded-heap top-1 per canonical URL; the oracle knows
    // which fetch wins by construction
    "url_dedup_latest" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val base = t(s, dir, "documents").filter(col("doc_id") < 200).select(col("doc_id"))
      val fetches = base
        .select(col("doc_id"), explode(array(lit(0), lit(1), lit(2))).as("v"))
        .select(
          col("doc_id"),
          when(col("v") === 0, concat(lit("http://ex"), id, lit(".com/p")))
            .when(col("v") === 1, concat(lit("HTTP://WWW.EX"), id, lit(".COM:80/p")))
            .otherwise(concat(lit("http://ex"), id, lit(".com/p?utm_source=x")))
            .as("url"),
          (lit(1000L) + col("doc_id") +
            when(col("v") === 1, 1000L).when(col("v") === 2, 500L).otherwise(0L))
            .as("fetch_unix"))
      graft.text.Urls.dedupByUrl(fetches, "url", "fetch_unix")
        .select(col("doc_id"), col("url_normalized"), col("url"), col("fetch_unix"))
        .orderBy(col("doc_id"))
    },
    // --- per-registered-domain corpus mix (domain balance / deny-list
    // input): counts + shares, multi-label suffixes folded correctly
    "domain_mix" -> { (s, dir) =>
      val id7 = pmod(col("doc_id"), lit(7)).cast("string")
      val v = pmod(col("doc_id"), lit(6))
      val url = when(v <= 2, concat(lit("http://pg.ex"), id7, lit(".com/x")))
        .when(v === 3, lit("http://sub.x.co.uk/x"))
        .when(v === 4, lit("https://a.b.org/x"))
        .otherwise(lit("http://localhost/x"))
      graft.text.Urls
        .domainMix(
          t(s, dir, "documents").filter(col("doc_id") < 420).select(url.as("url")),
          "url")
        .orderBy(col("domain"))
    },
    // --- HTML metadata extraction (title + declared lang): three chrome
    // variants — double-quoted lang with an entity-and-whitespace title,
    // single-quoted lang, and a bare page with neither — so presence,
    // absence, quoting, and the title's entity/whitespace policy are all
    // oracle-pinned
    "html_meta" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val v = pmod(col("doc_id"), lit(3))
      val html = when(v === 0, concat(
          lit("<html lang=\"en-US\"><head><title>Doc &amp; "), id,
          lit("  x</title></head><body><p>b</p></body></html>")))
        .when(v === 1, concat(
          lit("<html lang='de'><head><title>T"), id,
          lit("</title></head><body/></html>")))
        .otherwise(lit("<html><head></head><body><p>no meta</p></body></html>"))
      t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          TextAnalysis.htmlTitle(html).as("title"),
          TextAnalysis.htmlDeclaredLang(html).as("declared_lang"))
        .orderBy(col("doc_id"))
    },
    // --- HTML → text extraction: wrap every doc in a known HTML chrome
    // (heading with entity, paragraph, script with a raw '<', comment,
    // footer with &nbsp;/numeric entity) and extract. The planted
    // transformation is invertible, so DuckDB predicts the EXACT output
    // string from the plain text column — script/comment removal, block
    // newlines, entity decode and whitespace policy all hash-pinned
    "html_extract" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("text"))
      val html = concat(
        lit("<html><body><!-- nav --><h1>Doc &amp; "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><script>var x=1<2;</script>" +
          "<div> footer&nbsp;&#8212; end </div></body></html>"))
      docs
        .select(col("doc_id"), TextAnalysis.htmlToText(html).as("extracted"))
        .orderBy(col("doc_id"))
    },
    // --- line-level boilerplate classification (jusText-core rule:
    // short lines or near-zero stopword mass = chrome) over planted
    // multi-line docs: a nav line, the real text, a copyright stub, and
    // a known full sentence. DuckDB replays the per-line arithmetic
    "boilerplate_lines" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(lit("Home | About | Contact\n"), col("text"),
            lit("\ncopyright 2024 allrights" +
              "\nthe quick brown fox is one of the lazy dogs")).as("text"))
      TextAnalysis.boilerplateLineStats(docs, "doc_id", "text",
          minStopRatio = 0.02)
        .select(col("doc_id"), col("line_no"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("stop_hits").cast("long").as("stop_hits"),
          col("is_boilerplate"))
        .orderBy(col("doc_id"), col("line_no"))
    },
    // --- the enforcement half: chrome lines drop, content lines rejoin
    // in order; the oracle rebuilds every cleaned text string
    "remove_boilerplate" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(lit("Home | About | Contact\n"), col("text"),
            lit("\ncopyright 2024 allrights" +
              "\nthe quick brown fox is one of the lazy dogs")).as("text"))
      TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text",
          minStopRatio = 0.02)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
    // --- character/word Shannon entropy quality signals: DuckDB
    // re-derives both from per-element counts with the same
    // ln(n) - Σc·ln(c)/n arithmetic
    "entropy_stats" -> { (s, dir) =>
      TextAnalysis
        .entropyStats(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_chars"),
          round(col("char_entropy"), 6).as("char_entropy"),
          col("n_words"), round(col("word_entropy"), 6).as("word_entropy"))
        .orderBy(col("doc_id"))
    },
    // --- DEFLATE compression-ratio gate (the Gopher/RefinedWeb signal):
    // plant a repetitive twin ("spam spam ...") and a random-hex twin of
    // every doc; prose must compress between them ON AVERAGE (per-row
    // ordering vs random hex genuinely doesn't hold — short prose pays
    // deflate's startup overhead). Ratios depend on the JVM's zlib, so
    // the oracle pins the exact doc count and the uniformly-TRUE ordering
    // flags, not float ratios — the quality_classifier_audit pattern
    "compression_ratio_audit" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(length(col("text")) >= 64)
        .select(col("doc_id"), col("text"))
      val planted = docs.select(col("doc_id"), col("text"),
        concat_ws(" ",
          expr("transform(sequence(1, 40), i -> 'spam')")).as("repetitive"),
        concat_ws("",
          expr("transform(sequence(1, 5), i -> md5(concat(cast(doc_id as string), ':', i)))"))
          .as("randomish"))
      planted
        .select(
          TextAnalysis.deflateRatio(col("repetitive")).as("r_rep"),
          TextAnalysis.deflateRatio(col("text")).as("r_prose"),
          TextAnalysis.deflateRatio(col("randomish")).as("r_rand"))
        .agg(
          count(lit(1)).as("n_docs"),
          (avg(col("r_rep")) < avg(col("r_prose"))).as("rep_below_prose"),
          (avg(col("r_prose")) < avg(col("r_rand"))).as("prose_below_random"),
          // repetition is ALWAYS cheaper than its own doc's prose —
          // this ordering does hold row-wise
          (count(lit(1)) === sum(when(col("r_rep") < col("r_prose"), 1)
            .otherwise(0))).as("rep_below_prose_rowwise"))
    },
    // --- Unicode normalization: plant a combining-mark sequence and a
    // control byte on every doc; the NFC output string (composed, control
    // stripped) is compared byte-for-byte against DuckDB's nfc_normalize
    "normalize_text" -> { (s, dir) =>
      val planted = t(s, dir, "documents").filter(col("doc_id") < 100).select(
        col("doc_id"),
        // decomposed e + combining acute (U+0301) and a BEL control byte
        concat(col("text"), lit(" caf"), lit("e\u0301"), lit(" ctl\u0007x")).as("text"))
      planted.select(
        col("doc_id"),
        TextAnalysis.normalizeText(col("text"), "NFC").as("text_nfc"))
        .withColumn("len_nfc", length(col("text_nfc")))
        .orderBy(col("doc_id"))
    },
    "lang_id" -> { (s, dir) =>
      TextAnalysis
        .languageScores(t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
        .drop("text")
        .orderBy(col("doc_id"))
    },
    "top_tokens" -> { (s, dir) =>
      TextAnalysis
        .topTokens(t(s, dir, "documents"), "text", k = 25, minLength = 2)
        .orderBy(desc("freq"), col("token"))
    },
    // --- BPE train + encode, oracle-checkable form: the merge table has no
    // SQL twin (iterative argmax), so the oracle checks what both engines
    // CAN derive — exact per-doc word counts — plus invariant flags that
    // must be uniformly TRUE: tokens reconstruct the text exactly, and the
    // token count is bounded by [words, characters]
    // --- BPE audit with BYTE FALLBACK proof: the tokenizer trains on the
    // corpus alone, then encodes the corpus PLUS planted docs whose
    // charset (CJK, emoji surrogate pairs, accents, cyrillic) training
    // never saw. ids_lossless = decode(encodeIds(text)) reproduces the
    // whitespace-joined words — must be TRUE for every row including the
    // planted ones (zero <unk>: any byte has a token)
    "bpe_encode_audit" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionByName(Seq(
        (900001L, "日本語テキスト smoke"),
        (900002L, "café 😀 zürich"),
        (900003L, "привет мир")).toDF("doc_id", "text"))
      val (merges, vocabIds) =
        graft.text.Bpe.trainArtifacts(docs, "text", numMerges = 200)
      val enc = graft.text.Bpe.encodeIds(
        graft.text.Bpe.encode(all, "text", merges), "text", merges, vocabIds)
      val dec = graft.text.Bpe.decodeIds(enc, "token_ids", vocabIds)
      graft.text.Bpe.encodeAudit(dec, "doc_id", "text")
        .join(dec.select(col("doc_id"),
          (col("decoded_text") === concat_ws(" ",
            filter(split(col("text"), "\\s+"), w => length(w) > 0)))
            .as("ids_lossless")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    },
    // --- BPE with GPT-2 regex pre-tokenization: contractions / letter
    // runs / digit runs / punctuation runs / space-prefix convention.
    // n_words is the CROSS-ENGINE segmentation check (DuckDB re-runs the
    // same lookahead-free pattern in RE2); ids_lossless pins the
    // byte-EXACT decode this mode guarantees (spaces carried in-token,
    // not whitespace-normalized). Planted rows force every branch:
    // punctuation runs, contraction, tab, doubled space, emoji, accents
    "bpe_gpt2_audit" -> { (s, dir) =>
      import s.implicits._
      import graft.text.Bpe
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionByName(Seq(
        (910001L, "Hello, world! it's 2024... ok?!"),
        (910002L, "tab\there &  doubled spaces"),
        (910003L, "café 😀 — naïve's test")).toDF("doc_id", "text"))
      val (merges, vocabIds) =
        Bpe.trainArtifacts(docs, "text", numMerges = 200, preTokenize = Bpe.Gpt2)
      val enc = Bpe.encodeIds(
        Bpe.encode(all, "text", merges, preTokenize = Bpe.Gpt2),
        "text", merges, vocabIds, preTokenize = Bpe.Gpt2)
      val dec = Bpe.decodeIds(enc, "token_ids", vocabIds, preTokenize = Bpe.Gpt2)
      Bpe.encodeAudit(dec, "doc_id", "text", preTokenize = Bpe.Gpt2)
        .join(dec.select(col("doc_id"),
          (col("decoded_text") === col("text")).as("ids_lossless")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    },
    // --- mergeable word-count state: the tokenizer's corpus statistic,
    // built as two folded halves — the oracle recomputes exact counts
    // from all rows, so the hash match proves merge == recompute
    "word_count_state" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.text.Bpe.mergeWordCounts(
          graft.text.Bpe.wordCountState(docs.filter(col("doc_id") % 2 === 0), "text"),
          graft.text.Bpe.wordCountState(docs.filter(col("doc_id") % 2 =!= 0), "text"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(100)
    },
    // --- unigram-LM tokenizer (SentencePiece shape): EM-trained piece
    // probabilities, Viterbi encode. Same audit contract as BPE — exact
    // word counts both engines derive, plus invariant flags (Viterbi
    // segmentations are exact covers) that must be uniformly TRUE
    "unigram_encode_audit" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // same byte-fallback proof as bpe_encode_audit; unigram pieces
      // carry no word sentinel, so losslessness is against the word
      // CONCATENATION (the documented roundtrip contract)
      val all = docs.unionByName(Seq(
        (900001L, "日本語テキスト smoke"),
        (900002L, "café 😀 zürich"),
        (900003L, "привет мир")).toDF("doc_id", "text"))
      val pieces = graft.text.Unigram.train(docs, "text", vocabSize = 512,
        maxWords = 5000)
      val enc = graft.text.Unigram.encodeIds(
        graft.text.Unigram.encode(all, "text", pieces), "text", pieces)
      val dec = graft.text.Unigram.decodeIds(enc, "piece_ids", pieces)
      graft.text.Unigram.encodeAudit(dec, "doc_id", "text")
        .join(dec.select(col("doc_id"),
          (col("decoded_text") === concat_ws("",
            filter(split(col("text"), "\\s+"), w => length(w) > 0)))
            .as("ids_lossless")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    },
    // --- tokenizer card numbers: fertility + bytes/token per language.
    // 400 merges saturate the closed 31-word vocabulary (every pair on
    // every word's merge path clears minPairCount), so every word is ONE
    // token and the oracle pins total_tokens = total_words exactly — a
    // deliberate saturation invariant, not an approximation; a training
    // regression that leaves any word unmerged hash-fails this query
    "tokenizer_fertility" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val (merges, vocabIds) =
        graft.text.Bpe.trainArtifacts(docs, "text", numMerges = 400)
      val enc = graft.text.Bpe.encodeIds(docs, "text", merges, vocabIds)
      TextAnalysis.tokenizerFertility(enc, "text", Some("lang"))
        .orderBy(col("lang"))
    },
    // --- tokenizer release data card: the full tall rollup over a
    // REPLAYABLE whitespace tokenizer — tokens = words, vocab = the
    // distinct words of the EVEN-doc training half, so the coverage
    // section's OOV rate is a real nonzero number both engines derive
    // (odd docs carry words the vocab never saw); fertility/compression
    // re-derive from word/byte totals. The trained-BPE composition of
    // the same operator is exercised in the catalog e2e
    // (ConfigJobsSpec), where no SQL oracle can replay merge training
    "tokenizer_data_card" -> { (s, dir) =>
      import s.implicits._
      // the documents table is a CLOSED 31-word vocabulary (that is why
      // BPE saturates in tokenizer_fertility) — alone it would make the
      // coverage section uniformly zero. Two planted docs give every
      // section teeth: the odd one carries words (and byte-fallback-
      // shaped tokens, one bare + one WORD-FINAL <0xNN></w> — the two
      // surfaces a real BPE stream carries) the even-half vocab never
      // saw -> nonzero OOV and fallback-usage rates; the even one adds
      // both byte-shaped VOCAB surfaces -> byte_fallback_tokens counts
      // the word-final form too (the r16 ADVICE miss: a bare-only
      // pattern undercounts a BPE vocab's byte entries 2x)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
        .unionByName(Seq(
          (900031L, "zzqux zzcorge zzqux <0xE2> <0x47></w>", "xx"),
          (900032L, "zzgrault <0x2A> <0x2B></w> zzgrault", "xx"))
          .toDF("doc_id", "text", "lang"))
      val enc = docs
        .select(col("doc_id"), col("text"), col("lang"),
          filter(split(trim(col("text")), "\\s+"), w => length(w) > 0).as("tokens"))
        .withColumn("n_tokens", size(col("tokens")).cast("long"))
      val vocab = enc.filter(col("doc_id") % 2 === 0)
        .select(explode(col("tokens")).as("token")).distinct()
      TextAnalysis.tokenizerDataCard(enc, "text", "lang", vocab)
        .orderBy(col("section"), col("key"))
    },
    // --- WordPiece (BERT-family) audit: greedy longest-match encoding
    // over a likelihood-score-trained vocab. The planted snowman doc is
    // the [UNK] proof (its char is outside the training alphabet); real
    // docs must be unk-free because every capped word's chars enter the
    // alphabet. No byte fallback here by design — [UNK] IS the published
    // WordPiece contract (see text/WordPiece.scala).
    "wordpiece_encode_audit" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionByName(Seq(
        (900021L, "the snowman ☃ melted"),
        (900022L, "spark data table row")).toDF("doc_id", "text"))
      val (_, vocabIds) =
        graft.text.WordPiece.trainArtifacts(docs, "text", numMerges = 100)
      val enc = graft.text.WordPiece.encodeIds(
        graft.text.WordPiece.encode(all, "text", vocabIds), "text", vocabIds)
      val dec = graft.text.WordPiece.decodeIds(enc, "token_ids", vocabIds)
      graft.text.WordPiece.encodeAudit(dec, "doc_id", "text")
        .join(dec.select(col("doc_id"),
          (col("decoded_text") === concat_ws(" ",
            filter(split(col("text"), "\\s+"), w => length(w) > 0)) ||
            array_contains(col("tokens"), graft.text.WordPiece.UnkToken))
            .as("ids_lossless")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    },
    // --- heavy hitters, oracle-checkable form: exact top-k counts (any
    // engine reproduces them) + a CMS bounds flag the seeded sketch must
    // satisfy — an undercounting/unseeded sketch flips est_ok and fails
    // the hash compare. The sample-candidates production path
    // (heavyHittersApprox) stays pinned by DedupSimilaritySpec.
    "heavy_hitters" -> { (s, dir) =>
      TextAnalysis.heavyHittersCheck(t(s, dir, "documents"), "text", k = 20)
        .orderBy(desc("freq"), asc("token"))
    },
    // --- domain-level curation rollup over the source column
    "source_quality" -> { (s, dir) =>
      TextAnalysis
        .sourceQualityReport(t(s, dir, "documents"), "source", "text", "lang")
        .orderBy(col("source"))
    },
    // --- stupid-backoff trigram LM: reference corpus docs < 250, scored
    // corpus docs >= 250 — unseen trigram/bigram mass exercises every
    // backoff level; DuckDB re-derives all counts and the backoff chain
    "trigram_logprob" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      TextAnalysis
        .trigramLogProb(docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "doc_id", "text", alpha = 0.4)
        .orderBy(col("doc_id"))
    },
    // --- order-5 stupid backoff (the CCNet-faithful order): the full
    // 9-join backoff chain replayed by the oracle on string gram keys —
    // every level (5-gram hit, 4/3/2-gram backoff, unigram floor)
    // exercised by the corpus split
    "ngram_logprob" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      TextAnalysis
        .ngramLogProb(docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "doc_id", "text",
          order = 5, alpha = 0.4)
        .orderBy(col("doc_id"))
    },
    // --- CCNet-style perplexity bucketing: docs < 250 are the clean
    // reference corpus, docs >= 250 the candidates, scored by the
    // order-5 backoff LM (CCNet's published order), banded head/middle/
    // tail per LANGUAGE by exact perplexity terciles (oracle mode);
    // production uses the approx sketch edges
    "perplexity_buckets" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      TextAnalysis.perplexityBuckets(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250),
        "doc_id", "text", groupCol = Some("lang"),
        exact = Support.exact)
        .orderBy(col("doc_id"))
    },
    // --- learned quality gate audit: train the fastText-style classifier
    // on clean-vs-junk labels (docs < 300), score a HELD-OUT planted set
    // (docs 300..400 + their junk twins). The eval size is an exact count
    // both engines derive; accuracy on this trivially separable frame must
    // clear 0.95 for any sane trainer, so acc_ok pins the learned gate's
    // behavior without depending on LR's float internals
    "quality_classifier_audit" -> { (s, dir) =>
      def junked(df: DataFrame): DataFrame =
        df.select(col("doc_id"), col("text"), lit(1.0).as("label")).unionByName(
          df.select((col("doc_id") + 500000).as("doc_id"),
            concat(lit("!!! ??? *** spam spam click here buy now !!! ??? *** "),
              col("doc_id").cast("string")).as("text"),
            lit(0.0).as("label")))
      // the audit's contract is acc >= 0.95 on a trivially separable set —
      // it does NOT need production trainer settings. A few hundred rows
      // spread over 32 partitions makes every LR iteration a scheduling
      // job: repartition small, cap iterations, shrink the hash width.
      // The quality-train catalog stage keeps the library defaults.
      val train = junked(t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))).repartition(4)
      val eval = junked(t(s, dir, "documents")
        .filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select(col("doc_id"), col("text")))
      val model = graft.text.QualityClassifier.train(train, "text", "label",
        numFeatures = 1 << 15, maxIter = 15)
      graft.text.QualityClassifier.score(eval, model)
        .agg(
          count(lit(1)).as("n_eval"),
          (avg(when((col("quality_prob") >= 0.5) === (col("label") === 1.0), 1.0)
            .otherwise(0.0)) >= 0.95).as("acc_ok"))
    },
    // --- learned language ID audit (text/LangClassifier.scala): train
    // the fastText-shape char-n-gram model on the 26-language seed
    // corpus (singles + offset-1 phrase pairs), score HELD-OUT offset-3
    // recombinations the training set never contains, and cross-check
    // every prediction against the Unicode script profile. Eval size is
    // exact arithmetic (8 per language); the accuracy and
    // script-consistency bounds are invariant flags on this separable
    // frame — the quality_classifier_audit uniformly-TRUE idiom.
    // The model is STAGED (train-once/persist, the operator's own
    // lifecycle): the registered query measures the load+score path the
    // production corpus pays, not the 26-language LR fit — r14 bench
    // hygiene finding (training was 11.8% of the whole suite). The
    // staging dir is versioned; the seed corpus is sf-independent, so
    // one global model serves every sf dir, and the persisted-model
    // round-trip spec pins load+score ≡ fresh-train scoring.
    "lang_classifier_audit" -> { (s, dir) =>
      val seeds = graft.text.LangClassifier.seedCorpus(s)
      def recombine(offset: Int): DataFrame = seeds.as("a")
        .join(seeds.as("b"),
          col("a.lang") === col("b.lang") &&
            pmod(col("a.phrase_no") + offset, lit(8)) === col("b.phrase_no"))
        .select(col("a.lang").as("lang"), col("a.phrase_no").as("phrase_no"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      val modelDir = graft.io.Publish.once("/tmp/graft_io/global/lang_clf_v1") { out =>
        // small frame, few partitions: every LR iteration is one job
        val train = seeds.select(col("lang"), col("text"))
          .unionByName(recombine(1).drop("phrase_no")).repartition(4)
        val model = graft.text.LangClassifier.train(train, "text", "lang",
          numFeatures = 1 << 16, maxIter = 30)
        graft.text.LangClassifier.saveModel(model, s"$out/model")
      }
      val model = graft.text.LangClassifier.loadModel(s"$modelDir/model")
      val eval = recombine(3)
        .withColumn("rid", concat(col("lang"), lit("_"), col("phrase_no")))
      val scored = graft.text.LangClassifier.score(eval, model)
      val prof = graft.text.TextAnalysis
        .scriptProfile(eval.select(col("rid"), col("text")), "rid", "text")
        .select(col("rid"), col("dominant_script"))
      val scriptConsistent =
        when(col("lang_pred").isin("ru", "uk"), col("dominant_script") === "cyrillic")
          .when(col("lang_pred") === "el", col("dominant_script") === "greek")
          .when(col("lang_pred") === "ar", col("dominant_script") === "arabic")
          .when(col("lang_pred") === "he", col("dominant_script") === "hebrew")
          .when(col("lang_pred") === "hi", col("dominant_script") === "devanagari")
          .when(col("lang_pred") === "zh", col("dominant_script") === "han")
          .when(col("lang_pred") === "ko", col("dominant_script") === "hangul")
          .when(col("lang_pred") === "ja", col("dominant_script").isin("han", "kana"))
          .otherwise(col("dominant_script") === "latin")
      scored.join(prof, Seq("rid"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_eval"),
          (avg(when(col("lang_pred") === col("lang"), 1.0).otherwise(0.0))
            >= 0.875).as("acc_ok"),
          (sum(when(scriptConsistent, 0).otherwise(1)) === 0).as("script_ok"))
        .orderBy(col("lang"))
    },
    // --- the release data card: per-language composition, shares, length
    // percentiles, quality, dup/empty rates — one corpus pass
    "corpus_data_card" -> { (s, dir) =>
      TextAnalysis
        .corpusDataCard(t(s, dir, "documents"), "text", "lang",
          exactPercentiles = exact)
        .orderBy(col("lang"))
    },
    "pii_redaction" -> { (s, dir) =>
      // plant deterministic PII (email + URL + phone per doc) so redaction
      // has guaranteed work; original text may add more matches — both
      // engines run the same regexes either way
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text", concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or https://ex.ample/"), col("doc_id").cast("string"),
          lit(" tel +1 (555) 010-"), lpad(col("doc_id").cast("string"), 4, "0")))
      val (u, e, p) = TextAnalysis.piiCounts(col("text"))
      docs.select(
        col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("redacted"),
        u.as("n_urls"), e.as("n_emails"), p.as("n_phones"))
        .orderBy(col("doc_id"))
    },
    "unigram_logprob" -> { (s, dir) =>
      TextAnalysis
        .unigramLogProb(
          t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    "repetition_stats" -> { (s, dir) =>
      TextAnalysis
        .repetitionStats(
          t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    "tfidf_top_terms" -> { (s, dir) =>
      TextAnalysis
        .tfidfTopTerms(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5, minLength = 2)
        .orderBy(col("doc_id"), col("rn"))
    },
    // --- BM25: retrieval-grade term scoring (tf saturation + doc-length
    // normalization) for query-anchored corpus filtering
    "bm25_top_terms" -> { (s, dir) =>
      TextAnalysis
        .bm25TopTerms(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5, minLength = 2)
        .orderBy(col("doc_id"), col("rn"))
    },
    "chunk_documents" -> { (s, dir) =>
      TextAnalysis
        .chunkDocuments(
          t(s, dir, "documents").filter(col("doc_id") < 20).select(col("doc_id"), col("text")),
          "doc_id", "text", chunkTokens = 40, overlap = 10)
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    // --- the curation pipeline END TO END as one composed plan: exact
    // dedup -> quality gate -> PII redaction -> per-doc stats (the
    // corpus-curation job chain of pipeline/Production.scala, minus the
    // zone writes). Benchmarked as one headline row so drift in the
    // COMPOSED plan — not just each stage alone — is visible; the DuckDB
    // oracle chains the same four stages.
    "curation_e2e" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val deduped = Dedup.exactDedup(docs, "doc_id", "text")
      // 0.8 makes the gate BITE on this corpus (quality lands on 0.75 or
      // 1.0 quarters): ~7% of docs drop, so the e2e row evidences the
      // filter stage, not just its evaluation
      val filtered = TextAnalysis.qualityFilter(deduped, "text", 0.8)
      val redacted = filtered.select(
        col("doc_id"), TextAnalysis.redactPii(col("text")).as("text"))
      TextAnalysis.textStats(redacted, "doc_id", "text").orderBy(col("doc_id"))
    },
    "dedup_exact" -> { (s, dir) =>
      // plant exact duplicates (same text, higher id) — survivors must be
      // exactly the original doc_ids
      val docs = t(s, dir, "documents")
      val dup = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup
        .exactDedupKeys(docs.select(col("doc_id"), col("text")).unionByName(dup), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // --- contrastive-training negative pairs: pure-arithmetic pseudo-random
    // partners (reproducible across engines — exact oracle), generated by
    // projection+explode with no join or shuffle
    "negative_sampling" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.sampling.Sampling
        .negativePairs(docs.select(col("doc_id")), "doc_id", 3, docs.count())
        .orderBy(col("id"), col("j"))
    },
    // --- DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bucket counts, Laplace-smoothed target (doc_id < 100) vs raw (all)
    // distributions, per-doc log-likelihood-ratio weight. Everything is
    // md5-bucketed doubles, so DuckDB replays the pipeline end to end
    "dsir_weights" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.sampling.Dsir
        .logWeights(docs, docs.filter(col("doc_id") < 100),
          "doc_id", "text", buckets = 512)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"))
        .orderBy(col("doc_id"))
    },
    // --- DSIR selection: Gumbel-top-k over the importance weights — an
    // exact without-replacement sample ∝ exp(log_weight), deterministic
    // from the seeded md5 draw; the oracle replays weights AND the draw
    "dsir_resample" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.sampling.Dsir
        .gumbelTopK(
          graft.sampling.Dsir.logWeights(docs,
            docs.filter(col("doc_id") < 100), "doc_id", "text", buckets = 512),
          "doc_id", "log_weight", k = 50, seed = 7)
        .select(col("doc_id"), round(col("priority"), 6).as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
    },
    // --- character-level fuzzy dedup (SymSpell deletion neighborhoods +
    // exact levenshtein verify): entity-name typo pairs the token-level
    // dedups can't see. Customer names differ in single digits — dense
    // distance-1 pairs; the 500-key cap keeps the DuckDB O(n²) oracle small
    "fuzzy_dedup_pairs" -> { (s, dir) =>
      graft.dedup.Fuzzy
        .fuzzyPairsD1(
          t(s, dir, "customer").filter(col("c_custkey") <= 500),
          "c_custkey", "c_name")
        .orderBy(col("id_a"), col("id_b"))
    },
    // --- entity resolution end to end: SymSpell fuzzy pairs → distributed
    // connected components → survivors, checked against a DuckDB recursive
    // CTE over the same levenshtein edges (typo chains resolve
    // transitively: 001~002~...~ one canonical record per cluster)
    "fuzzy_entity_resolution" -> { (s, dir) =>
      // output the FULL label assignment (every edge-connected record →
      // its canonical id): a much stronger cross-check of the distributed
      // components than the survivor list alone
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_name"))
      val pairs = graft.dedup.Fuzzy.fuzzyPairsD1(cust, "c_custkey", "c_name")
      Dedup.nearDupClusters(pairs)
        .select(col("id"), col("cluster_id"))
        .orderBy(col("id"))
    },
    "dedup_incremental" -> { (s, dir) =>
      // steady-state curation: a new batch (docs >= 250, plus 10 planted
      // copies of corpus texts) deduped against the existing corpus
      // (docs < 250) — the planted copies must all be dropped
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"))
        .unionByName(planted)
      Dedup.incrementalExactDedupKeys(batch, corpus, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    "cluster_survivors_exact" -> { (s, dir) =>
      // clustering with a TRUE oracle: pairs come from exact n-gram
      // Jaccard (SQL-expressible), the connected-components resolution is
      // checked against a DuckDB recursive CTE. The minhash variant of
      // this flow stays no_oracle (banded LSH isn't SQL-reproducible).
      val docs = t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", k = 3, minJaccard = 0.6)
      val clusters = Dedup.nearDupClusters(pairs)
      val losers = clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      corpus.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    "cluster_safe_split" -> { (s, dir) =>
      // same exact-Jaccard cluster pipeline as cluster_survivors_exact
      // (SQL-reproducible), then the split draw comes from the CLUSTER
      // label — planted clones land in the same split as their original,
      // verified row for row by the oracle
      val docs = t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", k = 3, minJaccard = 0.6)
      val clusters = Dedup.nearDupClusters(pairs)
      Sampling.clusterSafeSplit(corpus, "doc_id", clusters, testProp = 0.3, salt = "cs")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },
    "contamination_report" -> { (s, dir) =>
      // eval = docs 0-4; corpus = the rest plus planted exact copies of
      // docs 0-2 (full eval_coverage 1.0 rows must appear)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") >= 5)
        .unionByName(docs.filter(col("doc_id") < 3)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      val evalSet = docs.filter(col("doc_id") < 5)
      Dedup.contaminationReport(corpus, evalSet, "doc_id", "text", k = 3, minOverlap = 2)
        .orderBy(col("corpus_id"), col("eval_id"))
    },
    // the enforcement half: same fixture — the planted eval copies MUST be
    // dropped (coverage 1.0) while ordinary corpus docs survive; the
    // oracle re-derives the survivor set from exact k-gram coverage
    "decontaminate_corpus" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") >= 5)
        .unionByName(docs.filter(col("doc_id") < 3)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      val evalSet = docs.filter(col("doc_id") < 5)
      Dedup.decontaminate(corpus, evalSet, "doc_id", "text", k = 3, maxEvalCoverage = 0.8)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    // measured on the PLANTED frame (docs < 40 + first-word-mutated
    // copies): every doc pairs with its mutation at high Jaccard, so the
    // pair-emission path does real work at EVERY sf — on the raw corpus
    // the random texts share almost no 3-grams and the benchmark measured
    // an empty result (BENCH_DETAIL rows=0 at sf0.1, flagged r6+r7)
    "ngram_jaccard" -> { (s, dir) =>
      Dedup
        .ngramJaccardPairs(planted(s, dir, 40), "doc_id", "text",
          k = 3, minJaccard = 0.02)
        .orderBy(col("id_a"), col("id_b"))
    },
    "embedding_norms" -> { (s, dir) =>
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          round(Similarity.l2Norm(col("embedding")), 6).as("l2_norm"),
          col("label"))
        .orderBy(col("vec_id"))
    },
    "cosine_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity
        .cosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", 10)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- diversity-aware rerank of the cosine shortlist: greedy MMR per
    // query over mapGroups (bounded by the shortlist) — deterministic AND
    // SQL-oracled: k=5 greedy steps unroll into 5 chained CTEs in DuckDB
    "mmr_rerank" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val shortlist = Similarity
        .cosineTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id", 20)
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      Similarity
        .mmrRerank(shortlist, "query_id", "vec_id", "embedding", k = 5, lambda = 0.5)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- hybrid retrieval: lexical (token Jaccard) ⊕ vector (cosine)
    // fused by reciprocal rank — both shortlists and the fusion are
    // deterministic rank arithmetic, so the whole thing SQL-oracles
    "hybrid_rrf" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val lex = TextAnalysis.lexicalJaccardTopK(
        docs, docs.filter(col("doc_id") < 3), "doc_id", "text", "doc_id", k = 20)
      val vec = Similarity
        .cosineTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id", 20)
        .withColumnRenamed("vec_id", "doc_id")
      Similarity.rrfFuse(Seq(lex, vec), "doc_id", k0 = 60, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- no DuckDB oracle (xxhash64-based); deterministic planted dups ---
    "dedup_minhash" -> { (s, dir) =>
      Dedup
        .minhashNearDupPairs(planted(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
    "dedup_cluster_survivors" -> { (s, dir) =>
      Dedup
        .nearDupDedup(planted(s, dir), "doc_id", "text", threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    "dedup_simhash" -> { (s, dir) =>
      Dedup
        .simhashNearDupPairs(planted(s, dir), "doc_id", "text", maxHamming = 10)
        .orderBy(col("id_a"), col("id_b"))
    },
    // --- fingerprint SEMANTICS are oracle-checkable even though xxhash64
    // bytes aren't: the fingerprint's equality classes must coincide with
    // normalized-text equality classes (collision-free at this scale), and
    // every member of a class must carry one shingle fingerprint
    "fingerprints" -> { (s, dir) =>
      val fps = t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"),
          TextAnalysis.shingleFingerprint(col("text")).as("shingle_fingerprint"))
      val classes = fps
        .groupBy(col("fingerprint"))
        .agg(
          min(col("doc_id")).as("fp_group"),
          count(lit(1)).as("fp_class_size"),
          (countDistinct(col("shingle_fingerprint")) === 1).as("shingle_consistent"))
      fps.join(classes, Seq("fingerprint"))
        .select(
          col("doc_id"), col("fp_group"), col("fp_class_size"),
          col("shingle_consistent"))
        .orderBy(col("doc_id"))
    },
    // --- EXACT-MODE ANN twins: each approximate search family dialed to
    // its exhaustive configuration, where the result equals brute-force
    // cosine top-k and a full DuckDB oracle applies (the pattern
    // ann_ivf_filtered proved). The production approximate configs live
    // in `benchQueries` (benched every round, planted-truth
    // recall-bounded in RecallSpec/RECALL_rN) — these twins pin the
    // SEARCH MACHINERY (cell routing, partition pruning, bucket joins,
    // shortlist/re-rank plumbing) to hash-exact correctness.
    // IVF at nprobe = nlist probes every cell -> exhaustive.
    "ann_ivf_topk_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity
        .ivfCosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          k = 10, nlist = 16, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // prebuilt-index IVF at full probe (reuses ann_ivf_filtered's
    // nlist=16 index — whichever query runs first builds it)
    "ann_ivf_search_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "ivfa")
      graft.similarity.AnnIndex.ensureIvf(e, "vec_id", "embedding", idx,
        nlist = 16, attrCols = Seq("label"))
      graft.similarity.AnnIndex
        .searchIvf(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // sharded index, exhaustive probes per shard: each shard is exact on
    // its hash slice and the bounded-heap merge recovers the global
    // top-k — same one right answer as the unsharded exact twins
    "ann_sharded_search_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "ivfsh")
      graft.similarity.AnnIndex.ensureIvfSharded(e, "vec_id", "embedding",
        idx, nShards = 3, nlist = 16)
      graft.similarity.AnnIndex
        .searchIvfSharded(s, idx, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- compacted index, exhaustive probes: build over half the
    // corpus, APPEND the other half (the small-file shape), COMPACT,
    // then search — compaction moves bytes, never answers, so the
    // result over the rewritten layout must still equal brute force
    // row for row (the OPTIMIZE-style maintenance op's identity
    // contract, pinned here under a full DuckDB oracle)
    "ann_compacted_search_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      // staged whole by Publish.once, not gated on AnnIndex.exists:
      // exists() turns true the moment step 1's meta lands, so a crash
      // mid-trio would otherwise serve a half-corpus index
      val idx = graft.io.Publish.once(annIndexDir(dir, "ivfcmp")) { out =>
        graft.similarity.AnnIndex.buildIvf(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", out,
          nlist = 16)
        graft.similarity.AnnIndex.appendIvf(
          e.filter(col("vec_id") % 2 === 1), "embedding", out)
        graft.similarity.AnnIndex.compact(s, out)
      }
      graft.similarity.AnnIndex
        .searchIvf(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- resharded index, exhaustive probes: build 3 shards, RESHARD to
    // 2 from the stored payloads (no corpus re-read — the 100 TB growth
    // path when data outgrows its shard count), then search — the
    // full-precision payload rows move verbatim, so the exhaustive
    // answer must still equal brute force row for row
    "ann_resharded_search_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = graft.io.Publish.once(annIndexDir(dir, "ivfrsh")) { out =>
        graft.similarity.AnnIndex.buildIvfSharded(
          e, "vec_id", "embedding", out, nShards = 3, nlist = 16)
        graft.similarity.AnnIndex.reshardIvf(s, out, newShards = 2, nlist = 16)
      }
      graft.similarity.AnnIndex
        .searchIvfSharded(s, idx, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- tombstone-deleted index, exhaustive probes: build over the
    // full corpus, DELETE a deterministic slice (the curation
    // retraction path — decontamination hits, takedowns), then search
    // with the tombstones PENDING (not yet folded by compact): the
    // post-prune anti-join must serve exactly brute force over the
    // surviving corpus, row for row. The folded (post-compact) identity
    // is spec-pinned in AnnIndexSpec; this oracle pins the serving path
    // a retraction takes effect through IMMEDIATELY.
    "ann_deleted_search_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = graft.io.Publish.once(annIndexDir(dir, "ivfdel")) { out =>
        graft.similarity.AnnIndex.buildIvf(e, "vec_id", "embedding", out,
          nlist = 16)
        graft.similarity.AnnIndex.deleteIds(s, out,
          e.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 5)
            .select(col("vec_id")))
      }
      graft.similarity.AnnIndex
        .searchIvf(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // LSH at bits=1 with Hamming-1 probing visits BOTH buckets of the
    // 1-bit signature space -> every candidate scored -> exhaustive
    "ann_lsh_topk_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity
        .lshCosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          k = 10, tables = 1, bits = 1, probes = 1)
        .orderBy(col("query_id"), col("rank"))
    },
    "ann_lsh_search_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "lshx")
      graft.similarity.AnnIndex.ensureLsh(e, "vec_id", "embedding", idx,
        tables = 1, bits = 1)
      graft.similarity.AnnIndex
        .searchLsh(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, probes = 1)
        .orderBy(col("query_id"), col("rank"))
    },
    // IVF-PQ + refine dialed exhaustive: nprobe = nlist and a shortlist
    // (refine·k = 500) covering the whole 500-row corpus slice, so the
    // ADC stage passes everything through and the int8 re-rank IS the
    // final ranking. int8 quantization (per-vector scale = max|x|/127,
    // float-stored scale, dequantized norm) is deterministic arithmetic
    // the oracle replays element for element — no k-means in the score.
    "ann_ivfpq_refined_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val idx = annIndexDir(dir, "ivfpqx")
      graft.similarity.AnnIndex.ensureIvfPq(e, "vec_id", "embedding", idx,
        nlist = 8, m = 8, codes = 256, refine = true)
      graft.similarity.AnnIndex
        .searchIvfPq(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 8, refine = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- sharded PQ, int8-exact twin: exhaustive probes per shard +
    // shortlist-covering refine -> each shard is int8-exact on its hash
    // slice (the per-vector quantization is fit-independent), and the
    // bounded-heap merge is the single index's refined ranking
    "ann_ivfpq_sharded_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val idx = annIndexDir(dir, "ivfpqsh")
      graft.similarity.AnnIndex.ensureIvfPqSharded(e, "vec_id", "embedding",
        idx, nShards = 3, nlist = 8, m = 8, codes = 256, refine = true)
      graft.similarity.AnnIndex
        .searchIvfPqSharded(s, idx, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, nprobe = 8, refine = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- resharded PQ, int8-exact twin (r18): build 3 shards with the
    // refine payload, RESHARD to 2 from the stored int8 vectors (no
    // corpus re-read). The per-vector quantizer is idempotent (max
    // element maps to ±127 exactly), so the resharded refine payload is
    // BIT-identical and the exhaustive+covering-refine answer must still
    // equal the int8-exact oracle row for row — codebook re-fits only
    // move the ADC shortlist stage, which the covering refine repairs.
    "ann_ivfpq_resharded_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val idx = graft.io.Publish.once(annIndexDir(dir, "ivfpqrsh")) { out =>
        graft.similarity.AnnIndex.buildIvfPqSharded(e, "vec_id", "embedding",
          out, nShards = 3, nlist = 8, m = 8, codes = 256, refine = true)
        graft.similarity.AnnIndex.reshardIvfPq(s, out, newShards = 2, nlist = 8)
      }
      graft.similarity.AnnIndex
        .searchIvfPqSharded(s, idx, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, nprobe = 8, refine = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- attribute-filtered vector search: neighbors WITHIN a label slice.
    // The index stores `label` alongside each vector (attrCols) and the
    // search pushes the predicate into the pruned corpus scan. At
    // nprobe = nlist every cell is probed, so the result is EXACT within
    // the filter — which is what makes this the one ANN query with a
    // full DuckDB oracle (brute-force cosine over the filtered corpus).
    "ann_ivf_filtered" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "ivfa")
      graft.similarity.AnnIndex.ensureIvf(e, "vec_id", "embedding", idx,
        nlist = 16, attrCols = Seq("label"))
      graft.similarity.AnnIndex
        .searchIvf(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16, corpusFilter = Some(col("label") === 1))
        .orderBy(col("query_id"), col("rank"))
    },
    "embedding_near_dup" -> { (s, dir) =>
      // plant exact-duplicate vectors (vec_id + 100000): every planted pair
      // has cosine 1.0 and must be found by the hyperplane-LSH buckets
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Similarity
        .embeddingNearDupPairs(planted, "vec_id", "embedding", threshold = 0.999)
        .orderBy(col("id_a"), col("id_b"))
    },
    // --- SemDeDup: semantic dedup through the IVF coarse quantizer.
    // Planted exact clones (vec_id + 100000, identical vectors) MUST share
    // a k-means cell and die; the oracle brute-forces the full cosine
    // pair set / survivor set, so a pair missed by clustering (or a
    // false drop) breaks the hash
    "semdedup_pairs" -> { (s, dir) =>
      Similarity
        .semDedupPairs(semDedupFrame(s, dir), "vec_id", "embedding",
          nClusters = 8, threshold = 0.999)
        .orderBy(col("id_a"), col("id_b"))
    },
    "semdedup_survivors" -> { (s, dir) =>
      Similarity
        .semDedup(semDedupFrame(s, dir), "vec_id", "embedding",
          nClusters = 8, threshold = 0.999)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },
    // --- DPR hard-negative mining at the exact operating point
    // (nprobe = nlist): top-k cosine minus the labeled positives
    // (vec_id + 5 by construction), brute-replayable
    "hard_negatives_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val pos = q.select(col("vec_id"), (col("vec_id") + 5).as("pos_id"))
      Similarity
        .hardNegatives(e, q, pos, "vec_id", "embedding", "vec_id",
          k = 10, nlist = 16, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- D4 / SSL-prototype diversification, exact-mode twins (the ANN
    // pattern): centroids SUPPLIED deterministically (the first 8
    // vectors), so assignment + per-cell percentile cutoff replay in
    // full; the k-means production path (prototypePrune / d4Select)
    // shares every line downstream of the fit and is spec-tested
    "prototype_prune_exact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("centroid"))
      Similarity
        .prototypePruneWithCentroids(e.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", cents, pruneFrac = 0.25, exact = true)
        .select(col("vec_id"), col("proto_cell"), col("proto_score"))
        .orderBy(col("vec_id"))
    },
    // the full D4 pipeline with the deterministic stages composed:
    // SemDeDup at 0.999 (planted twins die regardless of clustering)
    // then prototype pruning of the survivors against supplied centroids
    "d4_select_exact" -> { (s, dir) =>
      val kept = Similarity.semDedup(semDedupFrame(s, dir), "vec_id",
        "embedding", nClusters = 8, threshold = 0.999)
      val cents = t(s, dir, "embeddings").filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("centroid"))
      Similarity
        .prototypePruneWithCentroids(kept, "vec_id", "embedding", cents,
          pruneFrac = 0.2, exact = true)
        .select(col("vec_id"), col("proto_cell"))
        .orderBy(col("vec_id"))
    },
    // --- multimodal plumbing over text-as-bytes payloads: payload stats
    // are real, and the REAL ImageIO + javax.sound decoders + the MP4/AVI
    // container parser run across the rows — none of these payloads are
    // media, so `decoded`/`audio_decoded`/`video_parsed` must be
    // uniformly false (the validity filters at work; real-decode
    // positives are spec-pinned on an in-memory PNG, WAV, MP4 and AVI).
    // Stub pseudo-features stay spec-only: xxhash64 has no DuckDB twin.
    "multimodal_features" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"), col("text").cast("binary").as("bytes"))
      val assets = Multimodal.toAssets(docs, "doc_id", "bytes", "image")
        // rotate the declared type so ALL THREE validity filters face
        // payloads
        .withColumn("media_type",
          when(col("asset_id") % 3 === 0, "audio")
            .when(col("asset_id") % 3 === 1, "image")
            .otherwise("video"))
      Multimodal.videoStats(
          Multimodal.audioStats(Multimodal.imageStats(Multimodal.payloadStats(assets))))
        .select(col("asset_id"), col("media_type"),
          col("payload_bytes"), col("decoded"), col("audio_decoded"),
          col("video_parsed"))
        .orderBy(col("asset_id"))
    },
    // --- image near-dup WITHOUT embeddings: perceptual hashes (dHash /
    // DCT pHash) over REAL decoded PNG/JPEG bytes, paired by the SimHash
    // pigeonhole engine. Planted structure: for each doc a base pattern
    // image, a lossy-JPEG recompression (+100000) and a 75%-resolution
    // twin (+200000) — the oracle predicts the COMPLETE pair set (every
    // twin triangle, nothing else; hash arithmetic is spec-pinned on
    // fixture bytes in ImagePHashSpec)
    "image_phash_neardup" -> { (s, dir) =>
      val mk = udf((id: Long, variant: Int) => variant match {
        case 0 => Multimodal.testPatternPng(id)
        case 1 => Multimodal.jpegReencode(Multimodal.testPatternPng(id), 0.7f)
        case _ => Multimodal.testPatternPng(id, size = 48, block = 6)
      })
      val imgs = t(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), explode(array(lit(0), lit(1), lit(2))).as("v"))
        .select((col("doc_id") + col("v") * 100000L).as("img_id"),
          mk(col("doc_id"), col("v")).as("payload"))
      Multimodal.imageNearDupPairs(imgs, "img_id", "payload", maxHamming = 8)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // --- audio near-dup WITHOUT embeddings: 64-bit band-energy
    // fingerprints over REAL decoded WAV bytes (volume-change + resample
    // twins planted), paired by the same pigeonhole engine — the audio
    // twin of image_phash_neardup, same triangle oracle
    "audio_fp_neardup" -> { (s, dir) =>
      val mk = udf((id: Long, variant: Int) => variant match {
        case 0 => Multimodal.testToneWav(id)
        case 1 => Multimodal.testToneWav(id, amplitude = 0.2)
        case _ => Multimodal.testToneWav(id, sampleRate = 22050)
      })
      // spread BEFORE the synth UDF column exists (same rationale as
      // image_phash_neardup above) — profiled 1.86 s in ONE task at sf0.1
      val clips = graft.dp.Partitioning
        .spread(t(s, dir, "documents").filter(col("doc_id") < 40)
          .select(col("doc_id"), explode(array(lit(0), lit(1), lit(2))).as("v")),
          even = true) // 120 rows, heavy per-row kernel: even split IS the tail
        .select((col("doc_id") + col("v") * 100000L).as("clip_id"),
          mk(col("doc_id"), col("v")).as("payload"))
      Multimodal.audioNearDupPairs(clips, "clip_id", "payload", maxHamming = 5)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // --- curriculum packing: documents ranked globally by a quality
    // signal (distributed prefix-sum ranking — no global window), then
    // packed in that order, so early training sequences hold the
    // highest-quality text. Pure composition of Ranking.globalRowNumber
    // and the packing plan; the oracle re-derives rank and extents with
    // SQL window functions
    "curriculum_packing" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val ranked = graft.dp.Ranking
        .globalRowNumber(docs, col("n_chars").desc, col("doc_id").asc)
        .select(col("rank"), col("text"))
      graft.text.Packing.packingPlan(ranked, "rank", "text", ctxTokens = 128, nShards = 4)
        .orderBy(col("shard"), col("rank"))
    },
    // --- materialized packed sequences on WHITESPACE tokens (the
    // SQL-expressible tokenizer): the oracle recomputes every sequence's
    // length and boundary tokens from scratch — ordering, doc-boundary
    // crossing, and the short tail all verified row for row
    "packed_sequences" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          filter(split(trim(col("text")), "\\s+"), w => length(w) > 0).as("tokens"))
      graft.text.Packing.materializePacked(docs, "doc_id", "tokens", ctxTokens = 64, nShards = 4)
        .select(col("shard"), col("seq_id"), col("seq_len"),
          element_at(col("tokens"), 1).as("first_tok"),
          element_at(col("tokens"), -1).as("last_tok"))
        .orderBy(col("shard"), col("seq_id"))
    },
    // --- mask-carrying packed materialization: every token zipped with
    // a deterministic completion-tail mask (position·2 > doc length —
    // arithmetic BOTH engines derive), packed at ctx 64 so docs wrap
    // sequence boundaries; the oracle re-derives each sequence's masked
    // count AND the md5 of the masked tokens in slot order — mask bits
    // landing on the wrong tokens or the wrong side of a boundary
    // change the digest
    "packed_loss_masks" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          filter(split(trim(col("text")), "\\s+"), w => length(w) > 0).as("tokens"))
        // sequence(1, 0) DESCENDS in Spark — guard the empty-doc case
        // size bound OUTSIDE the lambda — see interleaved_loss_masks for
        // the measured inline trap
        .withColumn("__n", size(col("tokens")))
        .withColumn("mask",
          when(col("__n") > 0,
            transform(sequence(lit(1), col("__n")), i => i * 2 > col("__n")))
            .otherwise(expr("CAST(array() AS ARRAY<BOOLEAN>)")))
        .drop("__n")
      graft.text.Packing
        .materializePackedWithMasks(docs, "doc_id", "tokens", "mask",
          ctxTokens = 64, nShards = 4)
        .select(col("shard"), col("seq_id"), col("seq_len"),
          // the operator's own loss-token count — oracle-checked
          col("n_loss_tokens").as("n_masked"),
          md5(concat_ws(" ",
            expr("transform(filter(arrays_zip(tokens, mask), p -> p.mask), p -> p.tokens)")))
            .as("masked_md5"))
        .orderBy(col("shard"), col("seq_id"))
    },
    // --- combined masks + spans materialization: same fixture as
    // packed_loss_masks, but the single-pass artifact also carries
    // doc_spans — the oracle re-derives the masked digest AND a
    // start:len:doc span digest per sequence from the same token stream,
    // so mask/span misalignment (or spans drifting off the zipped pass)
    // breaks one of the two digests
    "packed_masks_spans" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          filter(split(trim(col("text")), "\\s+"), w => length(w) > 0).as("tokens"))
        // size bound OUTSIDE the lambda — see interleaved_loss_masks for
        // the measured inline trap
        .withColumn("__n", size(col("tokens")))
        .withColumn("mask",
          when(col("__n") > 0,
            transform(sequence(lit(1), col("__n")), i => i * 2 > col("__n")))
            .otherwise(expr("CAST(array() AS ARRAY<BOOLEAN>)")))
        .drop("__n")
      graft.text.Packing
        .materializePackedWithMasksAndSpans(docs, "doc_id", "tokens", "mask",
          ctxTokens = 64, nShards = 4)
        .select(col("shard"), col("seq_id"), col("seq_len"),
          col("n_loss_tokens").as("n_masked"),
          md5(concat_ws(" ",
            expr("transform(filter(arrays_zip(tokens, mask), p -> p.mask), p -> p.tokens)")))
            .as("masked_md5"),
          size(col("doc_spans")).as("n_docs"),
          md5(concat_ws(" ", expr(
            "transform(doc_spans, s -> concat(CAST(s.start AS STRING), ':', " +
              "CAST(s.len AS STRING), ':', CAST(s.doc AS STRING)))")))
            .as("spans_md5"))
        .orderBy(col("shard"), col("seq_id"))
    },
    // --- mask-carrying INTERLEAVED (multimodal) materialization: word
    // lengths stand in for token ids (both engines derive them), bits
    // are the completion-tail rule, assets ride the interleaved_pack
    // fixture at ctx 64 so oversize docs truncate and tail assets DROP —
    // the oracle re-derives every bin's slot:id digest over masked slots
    // plus the media/pad slot counts, so a mask bit leaking onto a patch
    // slot, a pad hole, or a shifted text slot changes the answer
    "interleaved_loss_masks" -> { (s, dir) =>
      // the synthetic chat/asset derivation is staged once per sf dir
      // by Publish.once in a versioned dir (r16 verdict: fixture
      // construction was ~all of this query's 2.15s for zero operator
      // signal): production inputs are the persisted tokenized zone
      // (see the catalog materialize-interleaved stage), so the bench
      // measures the materializer over parquet scans exactly as
      // production pays it.
      // Clean parquet read-back also sidesteps both fc67664 inline
      // traps (size-in-lambda per-element re-derivation; the ~6-way
      // input fanout re-inlining the split/transform chains into 38
      // scans) without persist() bookkeeping. Oracle unaffected — it
      // re-derives the same frames from `documents` in SQL.
      val tmp = graft.io.Publish.once(fixtureDir(dir, "ilm_fixture_v1")) { out =>
        val base = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"),
            filter(split(trim(col("text")), "\\s+"), w => length(w) > 0).as("words"))
        // bind size(words) OUTSIDE the mask lambda (fc67664): inside
        // transform() Catalyst would inline the filter(split(trim()))
        // chain per ELEMENT once the materializer zips both arrays
        base.withColumn("__n", size(col("words")))
          .select(col("doc_id"),
            transform(col("words"), w => length(w).cast("int")).as("token_ids"),
            when(col("__n") > 0,
              transform(sequence(lit(1), col("__n")), i => i * 2 > col("__n")))
              .otherwise(expr("CAST(array() AS ARRAY<BOOLEAN>)")).as("mask"))
          .write.mode("overwrite").parquet(s"$out/docs")
        val withAssets = base.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), (col("doc_id") * 10 + 1).as("asset_id"),
            lit(5L).as("position"), lit(7L).as("patch_tokens"))
          .unionByName(base.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), (col("doc_id") * 10 + 2).as("asset_id"),
              lit(0L).as("position"), lit(3L).as("patch_tokens")))
          // the dropped-asset family: position 60 on every 3rd doc — for
          // any doc long enough to truncate at ctx 64 the span [60, 69)
          // does not fit, the asset DROPS, and slots 60..63 become the
          // pad hole the mask must cover (the case this query pins)
          .unionByName(base.filter(col("doc_id") % 3 === 0)
            .select(col("doc_id"), (col("doc_id") * 10 + 3).as("asset_id"),
              lit(60L).as("position"), lit(9L).as("patch_tokens")))
        withAssets.write.mode("overwrite").parquet(s"$out/assets")
      }
      val d = s.read.parquet(s"$tmp/docs")
      val assets = s.read.parquet(s"$tmp/assets")
      graft.text.Packing
        .materializeInterleavedWithMasks(d, assets, "doc_id", "token_ids",
          "mask", "asset_id", "position", "patch_tokens",
          ctxTokens = 64, nShards = 4, imageTokenId = -1, padTokenId = -2)
        .select(col("shard"), col("bin_id"), col("seq_len"),
          col("n_loss_tokens").cast("long").as("n_loss"),
          expr("size(filter(token_ids, t -> t = -1))").cast("long").as("n_media"),
          expr("size(filter(token_ids, t -> t = -2))").cast("long").as("n_pad"),
          md5(concat_ws(" ", expr(
            "transform(arrays_zip(token_ids, loss_mask), (p, i) -> " +
              "CASE WHEN p.loss_mask THEN concat(CAST(i AS STRING), ':', " +
              "CAST(p.token_ids AS STRING)) END)")))
            .as("masked_md5"))
        .orderBy(col("shard"), col("bin_id"))
    },
    // --- per-epoch loader order over the materialized sequences: the
    // md5(epoch:shard:seq_id) draw is a pure function both engines
    // compute bit-for-bit, so the oracle re-derives the whole permutation
    "epoch_shuffle" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          filter(split(trim(col("text")), "\\s+"), w => length(w) > 0).as("tokens"))
      val packed = graft.text.Packing
        .materializePacked(docs, "doc_id", "tokens", ctxTokens = 64, nShards = 4)
      graft.text.Packing.epochShuffle(packed, epoch = 3)
        .select(col("shard"), col("seq_id"), col("epoch"), col("epoch_pos"))
        .orderBy(col("shard"), col("epoch_pos"))
    },
    // --- the tokenize→pack chain as ONE plan: train BPE, encode, pack on
    // the real token counts, summarize shards. The oracle pins what both
    // engines derive — per-shard doc counts — plus an arithmetic invariant
    // of the shard-local window logic: n_seqs must equal
    // ceil(shard_tokens / ctx), uniformly TRUE
    "bpe_pack_e2e" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val merges = graft.text.Bpe.train(docs, "text", numMerges = 100)
      val enc = graft.text.Bpe.encode(docs, "text", merges)
      val plan = graft.text.Packing.packingPlanFromCounts(
        enc, "doc_id", "n_tokens", ctxTokens = 512, nShards = 8)
      graft.text.Packing.shardSummary(plan)
        .select(
          col("shard"),
          col("n_docs"),
          (col("n_seqs") === ceil(col("n_tokens") / lit(512.0)).cast("long"))
            .as("n_seqs_ok"))
        .orderBy(col("shard"))
    },
    // --- REAL MJPEG-in-AVI frame decode: fixed hand-built container (one
    // per document row), JPEG bytes pinned — byte ranges, decoded
    // dimensions, and color flags are all deterministic
    "avi_mjpeg_decode" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 5).select(col("doc_id"))
      val assets = Multimodal.toAssets(
        docs.withColumn("bytes", unhex(lit(TestAviHex))), "doc_id", "bytes", "video")
      Multimodal.mjpegFrameStats(assets)
        .select(col("asset_id"), col("idx"), col("offset"), col("size"),
          col("width"), col("height"),
          (col("mean_r") > 200 && col("mean_g") < 30 && col("mean_b") < 30).as("is_red"),
          (col("mean_b") > 200 && col("mean_r") < 30).as("is_blue"))
        .orderBy(col("asset_id"), col("idx"))
    },
    // --- MP4 frame index from the sample tables: the payload is a fixed
    // hand-built container (one per document row, so the parse runs
    // distributed), and the expected (offset, size, pts, sync) rows are
    // hand-computed ISO-BMFF arithmetic the oracle pins as literals
    "mp4_frame_index" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 5).select(col("doc_id"))
      val assets = Multimodal.toAssets(
        docs.withColumn("bytes", unhex(lit(TestMp4Hex))), "doc_id", "bytes", "video")
      Multimodal.keyframeRanges(assets, everyNth = 1)
        .unionByName(
          assets.select(col("asset_id"),
              explode(Multimodal.decodeFrameIndex(col("payload"))).as("f"))
            .filter(!col("f.sync"))
            .select(col("asset_id"), col("f.idx").as("idx"),
              col("f.offset").as("offset"), col("f.size").as("size"),
              col("f.pts_ms").as("pts_ms")))
        .orderBy(col("asset_id"), col("idx"))
    },
    // --- curation planning: per-language sampling rates toward a target
    // corpus mix under a document budget (deficit languages flagged)
    "corpus_mix_plan" -> { (s, dir) =>
      graft.sampling.Sampling
        .corpusMixPlan(
          t(s, dir, "documents"),
          "lang",
          Map("en" -> 0.3, "zh" -> 0.25, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1),
          budget = 400L)
        .orderBy(col("lang"))
    },
    // --- incremental near-dup: a planted batch (mutated corpus copies +
    // fresh docs) against the corpus; xxhash LSH -> no SQL oracle, the
    // exact survivor set is pinned in DedupSimilaritySpec
    "dedup_minhash_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      val batch = corpus.filter(col("doc_id") < 25)
        .select((col("doc_id") + 200000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "graftmutated").as("text"))
        .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
          .select(col("doc_id"), col("text")))
      Dedup
        .incrementalNearDupDedup(batch, corpus, "doc_id", "text", threshold = 0.6)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    // --- the same incremental near-dup dedup served from the PERSISTED
    // MinHash index (build-if-absent into per-sf scratch, like the ann_*
    // _search queries): identical survivors to dedup_minhash_incremental
    // — MinHashIndexSpec asserts the equality — with the corpus side
    // never re-shingled after the first call
    "dedup_minhash_index" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      val idx = annIndexDir(dir, "minhash")
      if (!graft.dedup.MinHashIndex.exists(s, idx))
        graft.dedup.MinHashIndex.build(corpus, "doc_id", "text", idx)
      val batch = corpus.filter(col("doc_id") < 25)
        .select((col("doc_id") + 200000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "graftmutated").as("text"))
        .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
          .select(col("doc_id"), col("text")))
      graft.dedup.MinHashIndex.dedupBatch(s, idx, batch, "text", threshold = 0.6)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    // --- bigram conditional-logprob quality: catches incoherent token
    // soup whose unigrams are individually common
    "bigram_logprob" -> { (s, dir) =>
      TextAnalysis
        .bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // --- per-class embedding centroids (exploded cells) + the Rocchio
    // nearest-centroid assignment over broadcast centroids
    "label_centroids" -> { (s, dir) =>
      Similarity
        .labelCentroidCells(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label"), col("dim"))
    },
    "nearest_centroid" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity
        .nearestCentroid(e, "vec_id", "embedding",
          Similarity.labelCentroids(e, "label", "embedding"), "label")
        .orderBy(col("vec_id"))
    },
    // --- temperature-scaled mix: weights ∝ share^alpha derived from the
    // corpus itself (up-samples tail languages, no hand-written shares)
    "temperature_mix" -> { (s, dir) =>
      graft.sampling.Sampling
        .temperatureMixPlan(t(s, dir, "documents"), "lang", alpha = 0.5, budget = 400L)
        .orderBy(col("lang"))
    },
    // --- concat-and-chunk sequence packing: token offsets + training
    // sequence extents per doc, windowed per shard (never globally)
    // --- SFT chat rendering: documents become synthetic multi-turn
    // conversations (20 convs x 10 alternating user/assistant turns at
    // EVEN turn numbers + a planted system turn each); convs 1, 5, 9,
    // 13, 17 get a mid-conversation TOOL turn at odd slot 3 (right
    // after the first assistant turn — the agentic tool-result shape):
    // it renders with the generic turn template, contributes NO mask
    // span, and SHIFTS every later assistant span's offsets, all
    // replayed in DuckDB from the same template arithmetic
    "chat_sft_render" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val turns = docs.filter(col("doc_id") < 200).select(
        (col("doc_id") % 20).as("conv_id"),
        (floor(col("doc_id") / 20) * 2).cast("int").as("turn_no"),
        when(floor(col("doc_id") / 20) % 2 === 0, "user")
          .otherwise("assistant").as("role"),
        col("text").as("content"))
        .unionByName(docs.filter(col("doc_id") < 20).select(
          col("doc_id").as("conv_id"), lit(-1).as("turn_no"),
          lit("system").as("role"),
          lit("You are a concise assistant.").as("content")))
        .unionByName(docs
          .filter(col("doc_id") < 20 && pmod(col("doc_id"), lit(4L)) === 1)
          .select(col("doc_id").as("conv_id"), lit(3).as("turn_no"),
            lit("tool").as("role"),
            concat(lit("{\"result\": "), col("doc_id").cast("string"),
              lit("}")).as("content")))
      graft.text.Packing
        .renderChatTemplate(turns, "conv_id", "turn_no", "role", "content")
        .select(col("conv_id"), col("text"), col("n_turns"),
          posexplode(col("mask_spans")).as(Seq("span_no", "sp")),
          col("masked_chars"))
        .select(col("conv_id"), col("text"), col("n_turns"),
          col("span_no"), col("sp.mask_start").as("mask_start"),
          col("sp.mask_end").as("mask_end"), col("masked_chars"))
        .orderBy(col("conv_id"), col("span_no"))
    },
    // --- token-level loss masks over the same synthetic conversations:
    // a gpt2-mode BPE trained on the rendered corpus, char intervals
    // tiling the text, every masked token inside an assistant span.
    // mask_exact asserts the strongest property Spark-side: the masked
    // intervals' total chars EQUAL masked_chars — with per-token span
    // containment held by construction, equality means the mask covers
    // the completions exactly, no more, no less
    "chat_token_loss_mask" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val turns = docs.filter(col("doc_id") < 200).select(
        (col("doc_id") % 20).as("conv_id"),
        (floor(col("doc_id") / 20) * 2).cast("int").as("turn_no"),
        when(floor(col("doc_id") / 20) % 2 === 0, "user")
          .otherwise("assistant").as("role"),
        col("text").as("content"))
        .unionByName(docs.filter(col("doc_id") < 20).select(
          col("doc_id").as("conv_id"), lit(-1).as("turn_no"),
          lit("system").as("role"),
          lit("You are a concise assistant.").as("content")))
        // the same mid-conversation tool plant as chat_sft_render:
        // mask_exact must hold with tool turns shifting the offsets
        .unionByName(docs
          .filter(col("doc_id") < 20 && pmod(col("doc_id"), lit(4L)) === 1)
          .select(col("doc_id").as("conv_id"), lit(3).as("turn_no"),
            lit("tool").as("role"),
            concat(lit("{\"result\": "), col("doc_id").cast("string"),
              lit("}")).as("content")))
      val rendered = graft.text.Packing
        .renderChatTemplate(turns, "conv_id", "turn_no", "role", "content")
      val (m, v) = graft.text.Bpe.trainArtifacts(
        rendered.select(col("text")), "text", numMerges = 150,
        preTokenize = graft.text.Bpe.Gpt2)
      graft.text.Packing.chatTokenLossMask(rendered, m, v)
        .select(col("conv_id"), col("n_turns"), col("masked_chars"),
          (expr("aggregate(arrays_zip(token_starts, token_ends, loss_mask), " +
            "0L, (a, x) -> a + IF(x.loss_mask, x.token_ends - x.token_starts, 0L))")
            === col("masked_chars")).as("mask_exact"),
          (col("n_loss_tokens") <= col("n_tokens") &&
            col("n_loss_tokens") >= size(col("mask_spans")))
            .as("count_sane"))
        .orderBy(col("conv_id"))
    },
    // --- Unicode script profile (text/TextAnalysis.scala): planted
    // multi-script rows exercise every branch — pure-Han and pure-Hangul
    // dominance, Cyrillic/Hebrew tails flipping the mixed flag, and the
    // organic Latin corpus
    "script_profile" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit("中文语料质量检验文本"))
            .when(col("doc_id") % 7 === 1,
              concat(col("text"), lit(" привет мир тест")))
            .when(col("doc_id") % 7 === 2,
              concat(col("text"), lit(" נוסח עברי קצר")))
            .when(col("doc_id") % 7 === 3, lit("한국어 텍스트 표본"))
            .otherwise(col("text")).as("text"))
      TextAnalysis.scriptProfile(docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // --- ROUGE-L (dedup/Dedup.scala + expressions/LcsTokens.scala):
    // the LCS kernel scored against CONSTRUCTED subsequence variants,
    // where LCS is exact token-count arithmetic: a copy (lcs = n), the
    // first-half prefix (lcs = n/2), every-other-token (lcs = ceil(n/2))
    // and a disjoint-vocab rewrite (lcs = 0)
    "rouge_l_score" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"),
          filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0).as("toks"))
      val v = docs.select(col("doc_id"), col("toks"), explode(array(
        struct(lit("alt").as("variant"),
          expr("filter(toks, (t, i) -> i % 2 = 0)").as("vtoks")),
        struct(lit("copy").as("variant"), col("toks").as("vtoks")),
        struct(lit("disjoint").as("variant"),
          expr("transform(toks, t -> concat(t, 'zq'))").as("vtoks")),
        struct(lit("half").as("variant"),
          slice(col("toks"), lit(1),
            floor(size(col("toks")) / 2).cast("int")).as("vtoks"))))
        .as("v"))
      v.select(col("doc_id"), col("v.variant").as("variant"),
        size(col("toks")).cast("long").as("n_a"),
        size(col("v.vtoks")).cast("long").as("n_b"),
        org.apache.spark.sql.graft.Bridge.column(
          graft.expressions.LcsTokens(
            org.apache.spark.sql.graft.Bridge.expression(col("toks")),
            org.apache.spark.sql.graft.Bridge.expression(col("v.vtoks"))))
          .cast("long").as("lcs"),
        graft.dedup.Dedup.rougeL(col("toks"), col("v.vtoks")).as("rouge_l"))
        .orderBy(col("doc_id"), col("variant"))
    },
    // the production blocked path at threshold 0.9: only text-equal
    // pairs (the planted exact copies) can survive — the half variants
    // top out at 2·(n/2)/(1.5n) ≈ 0.67 — so the survivor set is the
    // token-equality join the oracle states
    "rouge_dedup_pairs" -> { (s, dir) =>
      val base = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), col("text"))
      val half = base.select((col("doc_id") + 200000).as("doc_id"),
        array_join(slice(
          filter(split(trim(lower(col("text"))), "\\s+"), t => length(t) > 0),
          lit(1), floor(size(filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0)) / 2).cast("int")), " ").as("text"))
      val corpus = base
        .unionByName(base.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .unionByName(half)
      graft.dedup.Dedup
        .rougeLNearDupPairs(corpus, "doc_id", "text", threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
    // --- UniMax water-filling mix (sampling/Sampling.scala): budget
    // 30000 tokens, epoch cap 1.5 — at the sf corpus shape the four
    // tail languages cap (rate 1.5) and en absorbs the leftover, so
    // both allocator branches are live in the oracle
    "unimax_plan" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens",
          size(filter(split(col("text"), "\\s+"), w => length(w) > 0))
            .cast("long"))
      graft.sampling.Sampling
        .unimaxPlan(docs, "lang", "n_tokens", budget = 30000L, epochCap = 1.5)
        .orderBy(col("lang"))
    },
    "unimax_sample" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens",
          size(filter(split(col("text"), "\\s+"), w => length(w) > 0))
            .cast("long"))
      graft.sampling.Sampling
        .unimaxSample(docs, "doc_id", "lang", "n_tokens",
          budget = 30000L, epochCap = 1.5, seed = 13L)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },
    // --- training-objective transforms (text/Objectives.scala): every
    // random choice is a seeded md5 draw the oracle replays, so the
    // COMPLETE rewritten strings are hash-pinned cross-engine
    "fim_transform" -> { (s, dir) =>
      graft.text.Objectives
        .fimTransform(t(s, dir, "documents"), "doc_id", "text",
          rate = 0.8, spmRate = 0.5, seed = 7L)
        .select(col("doc_id"), col("fim_applied"), col("fim_mode"),
          col("cut_lo"), col("cut_hi"), col("fim_text"))
        .orderBy(col("doc_id"))
    },
    "span_corruption" -> { (s, dir) =>
      graft.text.Objectives
        .spanCorrupt(t(s, dir, "documents"), "doc_id", "text",
          meanSpan = 3, noiseDensity = 0.15, seed = 0L)
        .select(col("doc_id"), col("n_spans"), col("n_masked_tokens"),
          col("span_input"), col("span_target"))
        .orderBy(col("doc_id"))
    },
    "prefix_lm_split" -> { (s, dir) =>
      graft.text.Objectives
        .prefixLmSplit(t(s, dir, "documents"), "doc_id", "text", seed = 11L)
        .select(col("doc_id"), col("cut"), col("prefix_input"),
          col("prefix_target"))
        .orderBy(col("doc_id"))
    },
    // assignment + paradigm tag + sentinel count per doc; the rewritten
    // strings themselves are pinned by the two primitive oracles above,
    // and ObjectivesSpec asserts the mixture equals the primitives
    "ul2_mix" -> { (s, dir) =>
      graft.text.Objectives
        .ul2Mix(t(s, dir, "documents"), "doc_id", "text",
          rShare = 0.5, sShare = 0.25, seed = 3L)
        .select(col("doc_id"), col("denoiser"),
          substring(col("input"), 1, 3).as("task_tag"),
          (size(split(col("input"), "<extra_id_", -1)) - 1).cast("long")
            .as("n_sentinels"))
        .orderBy(col("doc_id"))
    },
    "sequence_packing" -> { (s, dir) =>
      graft.text.Packing
        .packingPlan(t(s, dir, "documents"), "doc_id", "text", ctxTokens = 512, nShards = 8)
        .orderBy(col("shard"), col("doc_id"))
    },
    "packing_shards" -> { (s, dir) =>
      graft.text.Packing
        .shardSummary(graft.text.Packing
          .packingPlan(t(s, dir, "documents"), "doc_id", "text", ctxTokens = 512, nShards = 8))
        .orderBy(col("shard"))
    },
    // --- no-split bin packing: whole documents per padded training
    // sequence, greedy next-fit per shard. Counts are planted to exercise
    // every fold branch (zero-token docs, oversize/truncated docs, normal
    // fills); the oracle re-runs the exact fold as a recursive CTE
    "bin_packing" -> { (s, dir) =>
      graft.text.Packing
        .binPackNoSplit(binPackDocs(s, dir), "doc_id", "n_tokens",
          ctxTokens = 128, nShards = 4)
        .orderBy(col("shard"), col("doc_id"))
    },
    "bin_packing_stats" -> { (s, dir) =>
      graft.text.Packing
        .binPackSummary(
          graft.text.Packing.binPackNoSplit(binPackDocs(s, dir), "doc_id",
            "n_tokens", ctxTokens = 128, nShards = 4),
          ctxTokens = 128)
        .orderBy(col("shard"))
    },
    // --- interleaved multimodal packing: docs carry media placeholders
    // (synthetic assets at deterministic positions/patch budgets), bins
    // pack by EFFECTIVE length and the plan emits each asset's absolute
    // slot. The oracle replays the next-fit fold AND the earlier-patch
    // window arithmetic in SQL
    "interleaved_pack" -> { (s, dir) =>
      val d = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val assets = d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), (col("doc_id") * 10 + 1).as("asset_id"),
          lit(5L).as("position"), lit(7L).as("patch_tokens"))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), (col("doc_id") * 10 + 2).as("asset_id"),
            lit(0L).as("position"), lit(3L).as("patch_tokens")))
      graft.text.Packing
        .interleavedPlan(d, assets, "doc_id", "n_tokens", "asset_id",
          "position", "patch_tokens", ctxTokens = 128, nShards = 4)
        .orderBy(col("shard"), col("bin_id"), col("start"), col("asset_id"))
    },
    // --- materialized no-split bins on whitespace tokens: the oracle
    // re-runs the fold AND re-derives each bin's length, boundary tokens
    // and member count from scratch (truncated docs keep their prefix)
    "packed_bins" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          filter(split(trim(col("text")), "\\s+"), w => length(w) > 0).as("tokens"))
      graft.text.Packing
        .materializeNoSplit(docs, "doc_id", "tokens", ctxTokens = 64, nShards = 4)
        .select(col("shard"), col("bin_id"), col("seq_len"),
          element_at(col("tokens"), 1).as("first_tok"),
          element_at(col("tokens"), -1).as("last_tok"),
          size(col("doc_spans")).as("n_docs"))
        .orderBy(col("shard"), col("bin_id"))
    },
    // --- token-balanced shards: global rank by token count via the
    // prefix-sum zipWithIndex plan (no global window), dealt round-robin
    "token_balanced_shards" -> { (s, dir) =>
      graft.dp.Ranking
        .tokenBalancedShards(t(s, dir, "documents"), "doc_id", "text", nShards = 8)
        .orderBy(col("doc_id"))
    },
    // --- substring-level duplication: plant a shared >k-token footer on
    // every 4th doc so span coverage has guaranteed work; natural cross-doc
    // 8-grams count too (both engines see the same corpus)
    "dup_span_coverage" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(
            " this shared promotional footer sentence repeats across many documents verbatim")))
          .otherwise(col("text")).as("text"))
      Dedup.dupSpanCoverage(docs, "doc_id", "text", k = 8, minDf = 2)
        .orderBy(col("doc_id"))
    },
    // --- exact-substring span REMOVAL (enforcement half of the coverage
    // report): the planted cross-document footer must vanish from every
    // carrier while document-unique prose survives token-for-token
    "dedup_spans" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(
            " this shared promotional footer sentence repeats across many documents verbatim")))
          .otherwise(col("text")).as("text"))
      Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 8, minDf = 2)
        .orderBy(col("doc_id"))
    },
    // --- corpus-level line dedup: plant a universal footer + a periodic
    // promo line so boilerplate removal has guaranteed work
    "line_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit("\nFollow graft weekly for more."),
          when(col("doc_id") % 3 === 0, lit("\nSubscribe to the newsletter."))
            .otherwise(lit(""))).as("text"))
      Dedup
        .dedupLines(docs, "doc_id", "text", maxOccurrences = 1)
        .orderBy(col("doc_id"))
    },
    // --- corpus-wide PARAGRAPH dedup (CCNet's actual unit): a footer
    // paragraph planted on every doc dies everywhere, a sparser promo
    // paragraph (every 4th doc) dies too, each doc's own text survives
    "paragraph_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit("\n\nShared footer paragraph here."),
          when(col("doc_id") % 4 === 0, lit("\n\nQuarterly promo paragraph."))
            .otherwise(lit(""))).as("text"))
      Dedup
        .dedupParagraphs(docs, "doc_id", "text", maxOccurrences = 1)
        .orderBy(col("doc_id"))
    },
    // --- exact-k deterministic reservoir per language (md5 priorities —
    // portable across engines, so the oracle reproduces the same sample)
    "stratified_reservoir" -> { (s, dir) =>
      graft.sampling.Sampling
        .reservoirPerKey(
          t(s, dir, "documents").select(col("lang"), col("doc_id")),
          Seq("lang"), "doc_id", k = 5, salt = "r5")
        .orderBy(col("lang"), col("rank"))
    },
    // --- inverted index: df + capped posting lists through the bounded-
    // heap top-k aggregate (a billion-doc stopword still ships ≤ 10 ids).
    // Postings are emitted as a comma-joined string: the driver's
    // comparator hashes scalar cells, and array cells crash its sort.
    "inverted_index" -> { (s, dir) =>
      TextAnalysis
        .invertedIndex(
          t(s, dir, "documents"), "doc_id", "text",
          minLength = 4, minDf = 5, maxPostings = 10)
        .withColumn(
          "postings",
          array_join(transform(col("postings"), _.cast("string")), ","))
        .orderBy(col("token"))
    })

  /** Bench-only lane: the approximate production ANN configurations.
    * These are deliberately NOT in `queries` — approximate search has no
    * hash oracle by construction (k-means cells / PQ codebooks come from
    * seeded JVM RNG, and the result is a recall/latency trade, not a
    * unique answer). Their correctness contract is planted-truth recall,
    * CI-enforced by RecallSpec against tools/Recall.scala's bounds
    * (RECALL_rN.json); their exact-mode twins above pin the shared
    * machinery to hash equality. The bench runs `queries ++
    * benchQueries`, so these keep their per-round timing series. */
  val benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // multi-probe config: r6 recall harness measured 0.18 recall for the
    // old (tables=8, bits=8, no probes) setting on these near-uniform
    // embeddings; Hamming-1 probing at bits=6 reaches 0.86 with the same
    // corpus-side bucket layout (RECALL_r6.json)
    "ann_lsh_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity
        .lshCosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          k = 10, tables = 8, bits = 6, probes = 6)
        .orderBy(col("query_id"), col("rank"))
    },
    "ann_ivf_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity
        // auto nlist/nprobe (~sqrt(N) cells): a fixed cell count is the
        // scale trap — recall decays as the corpus grows past it
        .ivfCosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- prebuilt-index search (AnnIndex): the build-once/persist/
    // search-many lifecycle. First call builds into a per-sf scratch dir
    // (k-means fit + corpus assignment / corpus signing); every later
    // call — including the bench's repeat attempts — searches the
    // persisted structure only. Same parameters as the one-shot ann_*
    // queries, so results are identical (asserted in AnnIndexSpec).
    "ann_ivf_search" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "ivf")
      graft.similarity.AnnIndex.ensureIvf(e, "vec_id", "embedding", idx)
      graft.similarity.AnnIndex
        .searchIvf(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    "ann_lsh_search" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "lsh")
      graft.similarity.AnnIndex.ensureLsh(e, "vec_id", "embedding", idx, tables = 8, bits = 6)
      graft.similarity.AnnIndex
        .searchLsh(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, probes = 6)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- IVF-PQ search: product-quantized codes + ADC scoring — the
    // memory-scale ANN path; approximate by design, recall-bounded in
    // RECALL_r11/RecallSpec rather than oracle-hashed
    "ann_ivfpq_search" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "ivfpq")
      // raw-ADC operating point, EXPLICITLY: codes-only layout + refine=0
      // (since r13 the API defaults to storing + using refine vectors;
      // this lane keeps measuring the minimum-bytes ADC ranking, recall
      // bound 0.5 in tools/Recall)
      graft.similarity.AnnIndex.ensureIvfPq(e, "vec_id", "embedding", idx,
        m = 8, codes = 256, refine = false)
      graft.similarity.AnnIndex
        .searchIvfPq(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, refine = 0)
        .orderBy(col("query_id"), col("rank"))
    },
    // --- IVF-PQ + refine: ADC shortlist (10·k) re-ranked against stored
    // int8 vectors — recovers most of PQ's recall loss (RECALL_r11 bound
    // 0.85 vs raw ADC's 0.5) while candidate generation still pays only
    // m lookup-adds per row
    "ann_ivfpq_refined" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = annIndexDir(dir, "ivfpqr")
      graft.similarity.AnnIndex.ensureIvfPq(e, "vec_id", "embedding", idx,
        m = 8, codes = 256, refine = true)
      graft.similarity.AnnIndex
        .searchIvfPq(s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, refine = 10)
        .orderBy(col("query_id"), col("rank"))
    })

  // ---- oracle SQL ----------------------------------------------------------

  /** The planted out-of-charset docs both tokenizer audits append (the
    * byte-fallback proof rows) — must match the Scala-side union. */
  private val AuditPlantedValuesSql: String =
    "(900001, '日本語テキスト smoke'), (900002, 'café 😀 zürich'), " +
      "(900003, 'привет мир')"

  /** Unfiltered brute-force cosine top-k over the embeddings table — the
    * shared oracle of every full-precision exact-mode ANN twin (IVF at
    * nprobe = nlist, LSH probing all buckets): exhaustive search has ONE
    * right answer regardless of which index machinery produced it. */
  private val AnnExactBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
      |s AS (SELECT query_id, e.vec_id,
      |        round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
      |      FROM e, q WHERE e.vec_id <> query_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM s)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Exhaustive ANN over the SURVIVING corpus: [[AnnExactBruteSql]] with
    * the tombstoned slice (`vec_id % 7 = 3`, queries exempt) removed
    * from the corpus side — queries still rank against everything else. */
  private val AnnDeletedBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |alive AS (SELECT * FROM e WHERE NOT (vec_id % 7 = 3 AND vec_id >= 5)),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
      |s AS (SELECT query_id, alive.vec_id,
      |        round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
      |      FROM alive, q WHERE alive.vec_id <> query_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM s)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** int8-refined exhaustive ANN: the final ranking is cosine against
    * the int8-DEQUANTIZED corpus vectors — the oracle replays the
    * quantization arithmetic (per-vector scale = max|x|/127 stored as
    * float32, codes = round(x/scale) as int8, dequantized norm in the
    * denominator) element for element. Shared by the single-index and
    * sharded refined exact twins. */
  private val AnnIvfpqRefinedExactSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 500),
      |sc AS (SELECT vec_id, v,
      |         greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-30) / 127.0 AS scale_d
      |       FROM e),
      |dq AS (SELECT vec_id,
      |         list_transform(v, x -> round(x / scale_d) * CAST(CAST(scale_d AS REAL) AS DOUBLE)) AS dv
      |       FROM sc),
      |q AS (SELECT vec_id AS query_id, v AS qv,
      |        sqrt(list_dot_product(v, v)) AS qn
      |      FROM e WHERE vec_id < 5),
      |s AS (SELECT query_id, dq.vec_id,
      |        round(list_dot_product(dv, qv) / (sqrt(list_dot_product(dv, dv)) * qn), 6) AS cosine
      |      FROM dq, q WHERE dq.vec_id <> query_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM s)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Token-equality stopword count, mirroring TokenSetCounts: tokenize
    * trim(lower(text)) on whitespace, count tokens in the word set. */
  private def wordsSql(words: Seq[String]): String = {
    val cond = words.map(w => s"t = '$w'").mkString(" OR ")
    s"CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> $cond)) AS BIGINT)"
  }

  private def scoreSql(lang: String): String =
    wordsSql(TextAnalysis.langStopwords(lang))

  /** Union of every language's stopwords — the quality gate's word set. */
  private def allStopSql: String =
    wordsSql(TextAnalysis.langStopwords.values.flatten.toSeq.distinct.sorted)

  private val hanSql =
    "CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS BIGINT)"

  /** Greedy MMR (k steps, lambda=0.5) unrolled into chained CTEs: step n
    * picks, per query, the unpicked candidate maximizing
    * 0.5*cosine - 0.5*max(sim to picked), tie-broken by cosine DESC then
    * cand_id ASC — exactly [[Similarity.mmrRerank]]'s maxBy. Pairwise
    * candidate sims (`ps`) are unrounded doubles like the Scala inner
    * loop; `round_even` mirrors Java `math.rint` banker's rounding. */
  private def mmrOracleSql(k: Int): String = {
    val base =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |s AS (SELECT query_id, e.vec_id,
        |        round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
        |      FROM e, q WHERE e.vec_id <> query_id),
        |sl AS (SELECT query_id, vec_id AS cand_id, cosine FROM (
        |        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk FROM s)
        |      WHERE rk <= 20),
        |cv AS (SELECT sl.query_id, sl.cand_id, sl.cosine, e.v
        |       FROM sl JOIN e ON e.vec_id = sl.cand_id),
        |ps AS (SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
        |        CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v)
        |                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
        |       FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
        |p1 AS (SELECT query_id, cand_id, cosine, 0.5 * cosine AS mmr FROM (
        |        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rk FROM cv)
        |      WHERE rk = 1),
        |pk1 AS (SELECT query_id, cand_id FROM p1)""".stripMargin
    val steps = (2 to k).map { n =>
      s"""p$n AS (SELECT query_id, cand_id, cosine, mmr FROM (
         |  SELECT c.query_id, c.cand_id, c.cosine, 0.5 * c.cosine - 0.5 * r.red AS mmr,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY (0.5 * c.cosine - 0.5 * r.red) DESC, c.cosine DESC, c.cand_id) AS rk
         |  FROM cv c
         |  JOIN (SELECT ps.query_id, ps.ca AS cand_id, max(ps.sim) AS red
         |        FROM ps JOIN pk${n - 1} pk ON ps.query_id = pk.query_id AND ps.cb = pk.cand_id
         |        GROUP BY 1, 2) r ON r.query_id = c.query_id AND r.cand_id = c.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM pk${n - 1} x
         |                    WHERE x.query_id = c.query_id AND x.cand_id = c.cand_id))
         |  WHERE rk = 1),
         |pk$n AS (SELECT query_id, cand_id FROM pk${n - 1}
         |         UNION ALL SELECT query_id, cand_id FROM p$n)""".stripMargin
    }
    val sel = (1 to k)
      .map(n =>
        s"SELECT query_id, CAST($n AS INT) AS rank, cand_id AS vec_id, cosine, round_even(mmr, 4) AS mmr FROM p$n")
      .mkString("\nUNION ALL ")
    (base +: steps).mkString(",\n") + s"\n$sel\nORDER BY query_id, rank"
  }

  /** Shared oracle for the two incremental near-dup queries (direct and
    * index-served — identical survivors by construction): within-batch
    * recursive-CTE components at j >= 0.6 pick canonical ids; any
    * batch-to-corpus match at j >= 0.6 disqualifies. */
  private val IncrementalNearDupOracle: String =
    """WITH RECURSIVE
      |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
      |batch AS (SELECT doc_id + 200000 AS doc_id,
      |            regexp_replace(text, '^\S+', 'graftmutated') AS text
      |          FROM documents WHERE doc_id < 25
      |          UNION ALL
      |          SELECT doc_id, text FROM documents
      |          WHERE doc_id >= 100 AND doc_id < 150),
      |bw AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM batch),
      |bsh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM bw)),
      |cw AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM corpus),
      |csh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM cw)),
      |bsizes AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
      |csizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
      |binter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |           FROM bsh a JOIN bsh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |bpairs AS (SELECT id_a, id_b FROM binter
      |           JOIN bsizes sa ON sa.doc_id = id_a
      |           JOIN bsizes sb ON sb.doc_id = id_b
      |           WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM bpairs
      |          UNION SELECT id_b, id_a FROM bpairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |cc AS (SELECT id, id AS label FROM nodes
      |       UNION
      |       SELECT e.src, cc.label FROM edges e, cc WHERE e.dst = cc.id),
      |labels AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id),
      |losers AS (SELECT id FROM labels WHERE id <> cluster_id),
      |xinter AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS i
      |           FROM bsh b JOIN csh c ON b.s = c.s GROUP BY 1, 2),
      |xmatch AS (SELECT DISTINCT bid FROM xinter
      |           JOIN bsizes sb ON sb.doc_id = bid
      |           JOIN csizes sc ON sc.doc_id = cid
      |           WHERE CAST(i AS DOUBLE) / (sb.n + sc.n - i) >= 0.6)
      |SELECT doc_id FROM batch
      |WHERE doc_id NOT IN (SELECT id FROM losers)
      |  AND doc_id NOT IN (SELECT bid FROM xmatch)
      |ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for the boilerplate-line oracles: the planted
    * multi-line docs, their line explode, and per-line token/stopword/Han
    * stats — same arithmetic as TextAnalysis.boilerplateLineStats. */
  private val BoilerplateCtes: String =
    """WITH d AS (SELECT doc_id,
      |    'Home | About | Contact' || chr(10) || text || chr(10) ||
      |    'copyright 2024 allrights' || chr(10) ||
      |    'the quick brown fox is one of the lazy dogs' AS text
      |  FROM documents WHERE doc_id < 200),
      |l AS (SELECT doc_id, CAST(i - 1 AS INT) AS line_no, ln[i] AS line
      |      FROM (SELECT doc_id, string_split(text, chr(10)) AS ln,
      |                   unnest(generate_series(1, len(string_split(text, chr(10))))) AS i
      |            FROM d)),
      |st AS (SELECT doc_id, line_no, line,
      |    CASE WHEN length(trim(line)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(line), '\s+')) END AS n_tokens,
      |    len(list_filter(string_split_regex(trim(lower(line)), '\s+'),
      |        t -> t IN ('the','and','of','to','is','der','und','die','nicht','ist',
      |                   'el','que','los','una','es','le','les','des','est','une')))
      |      AS stop_hits,
      |    length(line) - length(regexp_replace(line, '[一-鿿]', '', 'g')) AS han
      |  FROM l)
      |""".stripMargin

  val oracle: Map[String, String] = Map(
    "mmr_rerank" -> mmrOracleSql(5),
    "multimodal_features" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'audio'
        |       WHEN doc_id % 3 = 1 THEN 'image'
        |       ELSE 'video' END AS media_type,
        |  CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
        |  FALSE AS decoded, FALSE AS audio_decoded, FALSE AS video_parsed
        |FROM documents ORDER BY asset_id""".stripMargin,
    // twin triangles, same structural-truth shape as image_phash_neardup
    // (twins ≤ 1 bit, unrelated clips ≥ 11 — measured over 60 seeds —
    // against the Hamming-5 threshold)
    "audio_fp_neardup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40)
        |SELECT id_a, id_b FROM (
        |  SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM d
        |  UNION ALL SELECT doc_id, doc_id + 200000 FROM d
        |  UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM d)
        |ORDER BY id_a, id_b""".stripMargin,
    // every base image pairs with both of its twins and the twins pair
    // with each other; unrelated patterns sit ≥ 16 bits apart (measured)
    // against the Hamming-8 threshold, so the triangle set is exhaustive
    "image_phash_neardup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60)
        |SELECT id_a, id_b FROM (
        |  SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM d
        |  UNION ALL SELECT doc_id, doc_id + 200000 FROM d
        |  UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM d)
        |ORDER BY id_a, id_b""".stripMargin,
    "corpus_mix_plan" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS available FROM documents GROUP BY 1),
        |t(lang, share) AS (VALUES
        |  ('en', CAST(0.3 AS DOUBLE)), ('zh', CAST(0.25 AS DOUBLE)),
        |  ('de', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |  ('es', CAST(0.1 AS DOUBLE))),
        |p AS (SELECT COALESCE(c.lang, t.lang) AS lang,
        |    COALESCE(available, 0) AS available, COALESCE(share, 0.0) AS share
        |  FROM c FULL OUTER JOIN t ON c.lang = t.lang)
        |SELECT lang, available,
        |  CAST(floor(400 * share) AS BIGINT) AS target_n,
        |  round(CASE WHEN available > 0 THEN least(CAST(1.0 AS DOUBLE), 400 * share / available)
        |             WHEN share > 0 THEN 1.0 ELSE 0.0 END, 6) AS rate,
        |  available < 400 * share AS deficit
        |FROM p ORDER BY lang""".stripMargin,
    "pii_redaction" ->
      """WITH d AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com or https://ex.ample/' || CAST(doc_id AS VARCHAR)
        |         || ' tel +1 (555) 010-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS text
        |  FROM documents),
        |s1 AS (SELECT doc_id, text,
        |    regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1 FROM d),
        |s2 AS (SELECT doc_id, text, t1,
        |    regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
        |  FROM s1)
        |SELECT doc_id,
        |  regexp_replace(t2, '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS INT) AS n_phones
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "unigram_logprob" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |           FROM documents),
        |tf AS (SELECT doc_id, token FROM t WHERE length(token) >= 1),
        |f AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tf GROUP BY 1),
        |tot AS (SELECT sum(n) AS total FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(-ln(n / CAST(total AS DOUBLE))), 6) AS avg_neg_logprob
        |FROM tf JOIN f USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "repetition_stats" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |base AS (SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd, w FROM w),
        |g AS (SELECT doc_id, count(DISTINCT s) AS g3d, count(*) AS g3 FROM (
        |        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM base))
        |      GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(n AS INT) AS n_tokens,
        |  round(CASE WHEN n > 0 THEN 1.0 - CAST(nd AS DOUBLE) / n ELSE 0 END, 6) AS dup_token_ratio,
        |  round(CASE WHEN COALESCE(g3, 0) > 0 THEN 1.0 - CAST(g3d AS DOUBLE) / g3 ELSE 0 END, 6) AS dup_3gram_ratio
        |FROM base b LEFT JOIN g ON b.doc_id = g.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "bm25_top_terms" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |        FROM d),
        |ft AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE length(token) >= 2 GROUP BY 1, 2),
        |dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM ft GROUP BY 1),
        |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlt),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM ft GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM d),
        |sc AS (SELECT f.doc_id, f.token, f.tf, dfq.df, dlt.dl,
        |         round(ln((n.n - dfq.df + 0.5e0) / (dfq.df + 0.5e0) + 1.0e0)
        |           * ((f.tf * (1.2e0 + 1.0e0))
        |              / (f.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dlt.dl / ad.avgdl))), 6) AS bm25
        |       FROM ft f JOIN dfq ON f.token = dfq.token
        |       JOIN dlt ON f.doc_id = dlt.doc_id
        |       CROSS JOIN n CROSS JOIN ad),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY doc_id ORDER BY bm25 DESC, token) AS INT) AS rn
        |      FROM sc)
        |SELECT doc_id, rn, token, tf, df, dl, bm25 FROM r WHERE rn <= 5
        |ORDER BY doc_id, rn""".stripMargin,
    "tfidf_top_terms" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |        FROM d),
        |ft AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE length(token) >= 2 GROUP BY 1, 2),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM ft GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM d),
        |sc AS (SELECT f.doc_id, f.token, f.tf, dfq.df,
        |         round(f.tf * ln((n.n + 1.0) / (dfq.df + 1.0)), 6) AS tfidf
        |       FROM ft f JOIN dfq ON f.token = dfq.token CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rn
        |      FROM sc)
        |SELECT doc_id, rn, token, tf, df, tfidf FROM r WHERE rn <= 5
        |ORDER BY doc_id, rn""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |  len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_regex_tokens,
         |  length(text) AS n_chars,
         |  round(CASE WHEN length(text) = 0 THEN 0 ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
         |  round(CASE WHEN length(text) = 0 THEN 0 ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS digit_ratio,
         |  round(CASE WHEN length(text) = 0 THEN 0 ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS upper_ratio,
         |  round((
         |    (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text) < 0.2 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) < 0.3 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN ($allStopSql) > 0 OR ($hanSql) > 0 THEN 1.0 ELSE 0.0 END)
         |  ) / 4.0, 6) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "boilerplate_lines" ->
      (BoilerplateCtes +
        """SELECT doc_id, line_no, CAST(n_tokens AS BIGINT) AS n_tokens,
          |  CAST(stop_hits AS BIGINT) AS stop_hits,
          |  (n_tokens < 4 OR (CAST(stop_hits AS DOUBLE) / n_tokens < 0.02 AND han = 0))
          |    AS is_boilerplate
          |FROM st ORDER BY doc_id, line_no""".stripMargin),
    "remove_boilerplate" ->
      (BoilerplateCtes +
        """, kept AS (
          |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean
          |  FROM st
          |  WHERE NOT (n_tokens < 4 OR
          |             (CAST(stop_hits AS DOUBLE) / n_tokens < 0.02 AND han = 0))
          |  GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(kept.clean, '') AS text
          |FROM d LEFT JOIN kept USING (doc_id) ORDER BY d.doc_id""".stripMargin),
    // every Gopher measurement re-derived with DuckDB list/regex
    // arithmetic; NULLIF guards reproduce Spark's null ratios on
    // zero-word documents, and FALSE AND NULL = FALSE in both engines
    "gopher_rules" ->
      ("""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(920001 AS BIGINT), '• alpha' || chr(10) || '• beta' || chr(10) ||
        |     '• gamma' || chr(10) || '- delta' || chr(10) ||
        |     'the plain line with of and that have'),
        |    (CAST(920002 AS BIGINT), 'wait for it...' || chr(10) || 'almost there…' ||
        |     chr(10) || 'the end of that story have with be to and'),
        |    (CAST(920003 AS BIGINT), '# spam # tags # everywhere ... more ... dots the of and that'),
        |    (CAST(920004 AS BIGINT), '111 222 333 444 555 666 777 888 999 000'),
        |    (CAST(920005 AS BIGINT), 'lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod')
        |  ) p(doc_id, text)),
        |m AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words,
        |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
        |  FROM all_docs),
        |v AS (SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    round(CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
        |      / NULLIF(len(words), 0), 6) AS mean_word_len,
        |    round(CAST(length(text) - length(replace(text, '#', ''))
        |        + len(regexp_extract_all(text, '\.{3}'))
        |        + length(text) - length(replace(text, '…', '')) AS DOUBLE)
        |      / NULLIF(len(words), 0), 6) AS symbol_ratio,
        |    round(CAST(len(list_filter(lines,
        |        l -> list_contains(['•', '-', '*'], substr(trim(l), 1, 1)))) AS DOUBLE)
        |      / NULLIF(len(lines), 0), 6) AS bullet_frac,
        |    round(CAST(len(list_filter(lines,
        |        l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…')) AS DOUBLE)
        |      / NULLIF(len(lines), 0), 6) AS ellipsis_frac,
        |    round(CAST(len(list_filter(words, w -> regexp_matches(w, '\p{L}'))) AS DOUBLE)
        |      / NULLIF(len(words), 0), 6) AS alpha_word_frac,
        |    CAST(len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS req_stop_hits
        |  FROM m)
        |SELECT *,
        |  n_words BETWEEN 20 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |    AND alpha_word_frac >= 0.8 AND req_stop_hits >= 2 AS gopher_pass
        |FROM v ORDER BY doc_id""".stripMargin),
    // the thirteen Gopher repetition fractions re-derived with DuckDB
    // lateral generate_series n-gram expansion; struct max replays the
    // (count, gram-length) tie-break; absent n-gram rows zero-fill only
    // for docs that have lines (Spark's unscorable-vs-no-grams split)
    "gopher_repetition" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(940001 AS BIGINT), 'aa bb aa bb aa bb'),
        |    (CAST(940002 AS BIGINT), 'x y' || chr(10) || 'x y' || chr(10) || 'z z z'),
        |    (CAST(940003 AS BIGINT), 'para one here' || chr(10) || chr(10) || 'para one here'),
        |    (CAST(940004 AS BIGINT),
        |     repeat('buy now click here fast deal ', 11) || 'buy now click here fast deal')
        |  ) p(doc_id, text)),
        |lines AS (SELECT doc_id, trim(e) AS e
        |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\n')) AS e FROM all_docs)
        |  WHERE trim(e) <> ''),
        |lc AS (SELECT doc_id, e, count(*) AS c FROM lines GROUP BY 1, 2),
        |lstat AS (SELECT doc_id,
        |    round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6) AS dup_line_frac,
        |    round(CAST(sum((c - 1) * length(e)) AS DOUBLE)
        |      / sum(c * length(e)), 6) AS dup_line_char_frac
        |  FROM lc GROUP BY 1),
        |paras AS (SELECT doc_id, trim(e) AS e
        |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\n{2,}')) AS e FROM all_docs)
        |  WHERE trim(e) <> ''),
        |pc AS (SELECT doc_id, e, count(*) AS c FROM paras GROUP BY 1, 2),
        |pstat AS (SELECT doc_id,
        |    round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6) AS dup_para_frac,
        |    round(CAST(sum((c - 1) * length(e)) AS DOUBLE)
        |      / sum(c * length(e)), 6) AS dup_para_char_frac
        |  FROM pc GROUP BY 1),
        |tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |        FROM all_docs),
        |tcx AS (SELECT doc_id, t,
        |    CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS tc
        |  FROM tok),
        |grams AS (SELECT doc_id, tc,
        |    CAST(struct_extract(u, 'n') AS INT) AS n,
        |    struct_extract(u, 'g') AS g,
        |    CAST(struct_extract(u, 'glen') AS BIGINT) AS glen
        |  FROM (SELECT doc_id, tc, unnest(flatten(list_transform(range(2, 11),
        |      n -> CASE WHEN len(t) >= n
        |           THEN list_transform(range(1, len(t) - n + 2), i ->
        |             struct_pack(n := n,
        |               g := array_to_string(t[i:i+n-1], ' '),
        |               glen := length(array_to_string(t[i:i+n-1], ''))))
        |           ELSE [] END))) AS u
        |    FROM tcx)),
        |cnt AS (SELECT doc_id, tc, n, g, glen, count(*) AS c
        |        FROM grams GROUP BY 1, 2, 3, 4, 5),
        |pern AS (SELECT doc_id, tc, n,
        |    sum(CASE WHEN c > 1 THEN c * glen ELSE 0 END) AS rep,
        |    max(struct_pack(c := c, glen := glen)) AS m
        |  FROM cnt GROUP BY 1, 2, 3),
        |pf AS (SELECT doc_id, n,
        |    round(CAST(rep AS DOUBLE) / tc, 6) AS repf,
        |    round(CAST(struct_extract(m, 'c') * struct_extract(m, 'glen') AS DOUBLE)
        |      / tc, 6) AS topf
        |  FROM pern),
        |gs AS (SELECT doc_id,
        |    max(CASE WHEN n = 2 THEN topf END) AS t2,
        |    max(CASE WHEN n = 3 THEN topf END) AS t3,
        |    max(CASE WHEN n = 4 THEN topf END) AS t4,
        |    max(CASE WHEN n = 5 THEN repf END) AS r5,
        |    max(CASE WHEN n = 6 THEN repf END) AS r6,
        |    max(CASE WHEN n = 7 THEN repf END) AS r7,
        |    max(CASE WHEN n = 8 THEN repf END) AS r8,
        |    max(CASE WHEN n = 9 THEN repf END) AS r9,
        |    max(CASE WHEN n = 10 THEN repf END) AS r10
        |  FROM pf GROUP BY 1),
        |j AS (SELECT d.doc_id, lstat.dup_line_frac, lstat.dup_line_char_frac,
        |    pstat.dup_para_frac, pstat.dup_para_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.t2, 0.0) END AS top_2gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.t3, 0.0) END AS top_3gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.t4, 0.0) END AS top_4gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.r5, 0.0) END AS rep_5gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.r6, 0.0) END AS rep_6gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.r7, 0.0) END AS rep_7gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.r8, 0.0) END AS rep_8gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.r9, 0.0) END AS rep_9gram_char_frac,
        |    CASE WHEN lstat.dup_line_frac IS NOT NULL
        |         THEN coalesce(gs.r10, 0.0) END AS rep_10gram_char_frac
        |  FROM all_docs d
        |  LEFT JOIN lstat USING (doc_id)
        |  LEFT JOIN pstat USING (doc_id)
        |  LEFT JOIN gs USING (doc_id))
        |SELECT *, coalesce(
        |  dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        |  AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        |  AND top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
        |  AND top_4gram_char_frac <= 0.16 AND rep_5gram_char_frac <= 0.15
        |  AND rep_6gram_char_frac <= 0.14 AND rep_7gram_char_frac <= 0.13
        |  AND rep_8gram_char_frac <= 0.12 AND rep_9gram_char_frac <= 0.11
        |  AND rep_10gram_char_frac <= 0.10, FALSE) AS gopher_rep_pass
        |FROM j ORDER BY doc_id""".stripMargin,
    // the C4 line filter, page gates and rebuilt cleaned text re-derived
    // with DuckDB list arithmetic; array_to_string on an empty kept list
    // is NULL in DuckDB — coalesce to '' to match Spark's concat_ws
    "c4_rules" ->
      ("""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(930001 AS BIGINT), 'The first sentence of the page lands cleanly here.' || chr(10) ||
        |     'The second one follows it with care.' || chr(10) ||
        |     'A third sentence arrives on time.' || chr(10) ||
        |     'The fourth one keeps the page going!' || chr(10) ||
        |     'Does the fifth one close it out?'),
        |    (CAST(930002 AS BIGINT), 'function f() {' || chr(10) ||
        |     'return the value of it all.' || chr(10) || '}' || chr(10) ||
        |     'The page ends with a sentence.'),
        |    (CAST(930003 AS BIGINT), 'Lorem ipsum dolor sit amet, consectetur adipiscing elit.' || chr(10) ||
        |     'The quick brown fox jumps over the lazy dog.' || chr(10) ||
        |     'Pack my box with five dozen liquor jugs.'),
        |    (CAST(930004 AS BIGINT), 'Please enable JavaScript to view this page.' || chr(10) ||
        |     'OK.' || chr(10) || 'Home.' || chr(10) ||
        |     'The only real sentence on the page survives the filter.'),
        |    (CAST(930005 AS BIGINT), 'This page mentions badword1 in its running text.' || chr(10) ||
        |     'Every other sentence here is fine and long enough.' || chr(10) ||
        |     'Another sentence follows to pad the page out.' || chr(10) ||
        |     'A fourth sentence keeps things moving along.' || chr(10) ||
        |     'The fifth sentence completes the page nicely.')
        |  ) p(doc_id, text)),
        |m AS (SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |      l -> l <> '') AS lines
        |  FROM all_docs),
        |k AS (SELECT doc_id, text, lines,
        |    list_filter(lines, l ->
        |      list_contains(['.', '!', '?', '"', '”'], right(l, 1))
        |      AND len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM m),
        |v AS (SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |    CAST(len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')) AS BIGINT) AS n_sentences,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') OR contains(text, '}') AS has_brace,
        |    CAST(len(list_intersect(
        |      list_distinct(list_transform(
        |        list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
        |        w -> lower(w))),
        |      ['badword1', 'badword2'])) AS BIGINT) AS bad_word_hits,
        |    coalesce(array_to_string(kept, chr(10)), '') AS text_clean
        |  FROM k)
        |SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
        |  bad_word_hits,
        |  n_sentences >= 5 AND NOT has_lorem AND NOT has_brace
        |    AND bad_word_hits = 0 AS c4_pass,
        |  text_clean
        |FROM v ORDER BY doc_id""".stripMargin),
    // every member's content and UTF-8 byte count re-derived from the
    // source table — write path and read path verified against each other
    "webdataset_roundtrip" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents WHERE doc_id < 300)
        |SELECT doc_id, 'txt' AS ext, text AS content,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM d
        |UNION ALL
        |SELECT doc_id, 'json', '{"lang":"' || lang || '"}',
        |  CAST(octet_length(encode('{"lang":"' || lang || '"}')) AS BIGINT) FROM d
        |ORDER BY doc_id, ext""".stripMargin,
    // tfrecord: the round-trip must reproduce the source rows exactly —
    // the oracle IS the source selection
    "tfrecord_roundtrip" ->
      """SELECT doc_id, text, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    // the url zoo is doc_id arithmetic — the oracle states the CANONICAL
    // string outright (ground truth), never re-running the normalizer
    "url_normalize" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS i,
        |                  CAST(doc_id % 9 AS VARCHAR) AS oct
        |           FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        |  CASE doc_id % 7
        |    WHEN 0 THEN 'http://ex' || i || '.com/p/' || i
        |    WHEN 1 THEN 'HTTP://WWW.EX' || i || '.COM:80/p/' || i
        |    WHEN 2 THEN 'http://ex' || i || '.com/p/' || i || '?utm_source=x&utm_medium=y&q=1'
        |    WHEN 3 THEN 'http://ex' || i || '.com/p/' || i || '/#sec'
        |    WHEN 4 THEN 'https://ex' || i || '.com:443/p/' || i
        |    WHEN 5 THEN 'http://sub.ex' || i || '.co.uk/p/' || i
        |    ELSE 'http://10.0.' || oct || '.1/p/' || i END AS url,
        |  CASE doc_id % 7
        |    WHEN 2 THEN 'http://ex' || i || '.com/p/' || i || '?q=1'
        |    WHEN 4 THEN 'https://ex' || i || '.com/p/' || i
        |    WHEN 5 THEN 'http://sub.ex' || i || '.co.uk/p/' || i
        |    WHEN 6 THEN 'http://10.0.' || oct || '.1/p/' || i
        |    ELSE 'http://ex' || i || '.com/p/' || i END AS url_normalized,
        |  CASE doc_id % 7
        |    WHEN 5 THEN 'ex' || i || '.co.uk'
        |    WHEN 6 THEN '10.0.' || oct || '.1'
        |    ELSE 'ex' || i || '.com' END AS domain
        |FROM d ORDER BY doc_id""".stripMargin,
    // the www/:80 fetch carries the latest timestamp by construction, so
    // it is the surviving raw url for every page
    "url_dedup_latest" ->
      """SELECT doc_id,
        |  'http://ex' || CAST(doc_id AS VARCHAR) || '.com/p' AS url_normalized,
        |  'HTTP://WWW.EX' || CAST(doc_id AS VARCHAR) || '.COM:80/p' AS url,
        |  CAST(2000 + doc_id AS BIGINT) AS fetch_unix
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "domain_mix" ->
      """WITH d AS (SELECT CASE
        |    WHEN doc_id % 6 <= 2 THEN 'ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
        |    WHEN doc_id % 6 = 3 THEN 'x.co.uk'
        |    WHEN doc_id % 6 = 4 THEN 'b.org'
        |    ELSE 'localhost' END AS domain
        |  FROM documents WHERE doc_id < 420),
        |g AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_pages FROM d GROUP BY 1),
        |t AS (SELECT sum(n_pages) AS total FROM g)
        |SELECT domain, n_pages, round(n_pages / t.total, 6) AS share
        |FROM g, t ORDER BY domain""".stripMargin,
    // the warc fixture is fully determined by documents.parquet: the
    // oracle rebuilds every parsed field from first principles (the html
    // string, its UTF-8 byte count, the uri/date arithmetic) — a FULL
    // round-trip check of the record writer AND parser
    "warc_read" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |    '<html><body><!-- nav --><h1>Doc &amp; ' || CAST(doc_id AS VARCHAR) ||
        |    '</h1><p>' || text || '</p><script>var x=1<2;</script>' ||
        |    '<div> footer&nbsp;&#8212; end </div></body></html>' AS html
        |  FROM documents WHERE doc_id < 300 AND length(trim(text)) > 0)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS record_no,
        |  'http://crawl.test/' || lang || '/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  'response' AS warc_type,
        |  CAST(200 AS INT) AS http_status,
        |  'text/html' AS mime,
        |  'utf-8' AS charset,
        |  1704067200 + doc_id AS fetch_unix,
        |  CAST(octet_length(encode(html)) AS BIGINT) AS n_bytes,
        |  html AS payload_html
        |FROM d ORDER BY doc_id""".stripMargin,
    // same expected-extraction formula as html_extract (same chrome),
    // over the warc-carried subset
    "warc_ingest_e2e" ->
      """SELECT doc_id,
        |  'Doc & ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  trim(regexp_replace(text, '[\t ]+', ' ', 'g')) || chr(10) ||
        |  'footer ' || chr(8212) || ' end' AS text
        |FROM documents WHERE doc_id < 300 AND length(trim(text)) > 0
        |ORDER BY doc_id""".stripMargin,
    "html_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'Doc & ' || CAST(doc_id AS VARCHAR) || ' x'
        |    WHEN 1 THEN 'T' || CAST(doc_id AS VARCHAR)
        |    ELSE '' END AS title,
        |  CASE doc_id % 3 WHEN 0 THEN 'en-us' WHEN 1 THEN 'de' ELSE '' END
        |    AS declared_lang
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    "html_extract" ->
      """SELECT doc_id,
        |  'Doc & ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  trim(regexp_replace(text, '[\t ]+', ' ', 'g')) || chr(10) ||
        |  'footer ' || chr(8212) || ' end' AS extracted
        |FROM documents WHERE length(trim(text)) > 0
        |ORDER BY doc_id""".stripMargin,
    "entropy_stats" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |ch AS (SELECT doc_id, substring(text, i, 1) AS e
        |       FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM d)),
        |cc AS (SELECT doc_id, e, CAST(count(*) AS DOUBLE) AS c FROM ch GROUP BY 1, 2),
        |ce AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |         ln(sum(c)) - sum(c * ln(c)) / sum(c) AS che
        |       FROM cc GROUP BY 1),
        |w AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS e FROM d),
        |wc AS (SELECT doc_id, e, CAST(count(*) AS DOUBLE) AS c FROM w GROUP BY 1, 2),
        |we AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |         ln(sum(c)) - sum(c * ln(c)) / sum(c) AS wde
        |       FROM wc GROUP BY 1)
        |SELECT d.doc_id, ce.n_chars, round(ce.che, 6) AS char_entropy,
        |       we.n_words, round(we.wde, 6) AS word_entropy
        |FROM d LEFT JOIN ce USING (doc_id) LEFT JOIN we USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // compression gate: doc count is exact arithmetic; the zlib-dependent
    // ratios are pinned as ordering flags (TRUE under any zlib build),
    // the uniformly-TRUE-flag oracle idiom
    "compression_ratio_audit" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS rep_below_prose,
        |  TRUE AS prose_below_random, TRUE AS rep_below_prose_rowwise
        |FROM documents WHERE length(text) >= 64""".stripMargin,
    // learned quality gate: eval-set size is exact arithmetic; the
    // accuracy bound is an invariant flag (TRUE for any sane trainer on
    // this separable frame), the uniformly-TRUE-flag oracle idiom
    "quality_classifier_audit" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_eval, TRUE AS acc_ok
        |FROM documents WHERE doc_id >= 300 AND doc_id < 400""".stripMargin,
    // learned language ID: the 26-language label set and per-language
    // eval size are fixture constants; accuracy and script-consistency
    // are invariant flags on the separable seed frame
    "lang_classifier_audit" ->
      """SELECT lang, CAST(8 AS BIGINT) AS n_eval, TRUE AS acc_ok, TRUE AS script_ok
        |FROM (VALUES ('ar'),('cs'),('da'),('de'),('el'),('en'),('es'),('fi'),
        |             ('fr'),('he'),('hi'),('hu'),('id'),('it'),('ja'),('ko'),
        |             ('nl'),('pl'),('pt'),('ro'),('ru'),('sv'),('tr'),('uk'),
        |             ('vi'),('zh')) AS t(lang)
        |ORDER BY lang""".stripMargin,
    // corpus data card: same quality fragment; shares against corpus
    // totals, quantile_cont matches the exact-percentile oracle mode
    "corpus_data_card" ->
      s"""WITH s AS (SELECT lang, text,
         |  (
         |    (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text) < 0.2 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) < 0.3 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN ($allStopSql) > 0 OR ($hanSql) > 0 THEN 1.0 ELSE 0.0 END)
         |  ) / 4.0 AS q,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks
         |  FROM documents),
         |t AS (SELECT CAST(count(*) AS DOUBLE) AS t_docs,
         |             CAST(sum(toks) AS DOUBLE) AS t_tokens FROM s)
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(count(*) / t_docs, 6) AS doc_share,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  round(sum(toks) / t_tokens, 6) AS token_share,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  quantile_cont(CAST(length(text) AS DOUBLE), 0.5) AS p50_chars,
         |  quantile_cont(CAST(length(text) AS DOUBLE), 0.95) AS p95_chars,
         |  round(avg(q), 6) AS mean_quality,
         |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
         |  CAST(sum(CASE WHEN toks = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
         |FROM s, t GROUP BY lang, t_docs, t_tokens ORDER BY lang""".stripMargin,
    "source_quality" ->
      s"""WITH s AS (SELECT source, lang, text,
         |  (
         |    (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text) < 0.2 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) < 0.3 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN ($allStopSql) > 0 OR ($hanSql) > 0 THEN 1.0 ELSE 0.0 END)
         |  ) / 4.0 AS q
         |  FROM documents)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
         |           ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  round(avg(q), 6) AS mean_quality,
         |  CAST(sum(CASE WHEN q < 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "lang_id" -> {
      val langs = Seq("de", "en", "es", "fr", "zh")
      def scoreCol(l: String) = if (l == "zh") hanSql else scoreSql(l)
      val greatestExpr = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val pick = langs.reverse
        .foldLeft("CAST(NULL AS VARCHAR)") { (acc, l) =>
          s"CASE WHEN score_$l = $greatestExpr THEN '$l' ELSE $acc END"
        }
      s"""SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
         |  CASE WHEN $greatestExpr = 0 THEN CAST(NULL AS VARCHAR) ELSE $pick END AS lang_detected
         |FROM (SELECT doc_id,
         |  ${scoreCol("de")} AS score_de,
         |  ${scoreCol("en")} AS score_en,
         |  ${scoreCol("es")} AS score_es,
         |  ${scoreCol("fr")} AS score_fr,
         |  ${scoreCol("zh")} AS score_zh
         |FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "top_tokens" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |           FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM t WHERE length(token) >= 2
        |GROUP BY token ORDER BY freq DESC, token LIMIT 25""".stripMargin,
    // curriculum packing: SQL window rank (n_chars DESC) replaces the
    // distributed prefix-sum ranking, then the same packing arithmetic
    "curriculum_packing" ->
      """WITH d AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 200),
        |r AS (SELECT text,
        |    CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM d),
        |s AS (SELECT rank, rank % 4 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM r),
        |o AS (SELECT shard, rank, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY rank) AS BIGINT) AS e
        |  FROM s)
        |SELECT CAST(shard AS BIGINT) AS shard, rank, n_tokens,
        |  e - n_tokens AS start_offset,
        |  CASE WHEN n_tokens > 0 THEN (e - n_tokens) // 128 END AS first_seq,
        |  CASE WHEN n_tokens > 0 THEN (e - 1) // 128 END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN (e - 1) // 128 - (e - n_tokens) // 128 + 1 ELSE 0 END AS n_seqs,
        |  (e - n_tokens) % 128 AS offset_in_seq
        |FROM o ORDER BY shard, rank""".stripMargin,
    // packed sequences: DuckDB re-derives every token's global offset in
    // its shard stream (per-doc counts + window sum + in-doc ordinal),
    // then each sequence's length and boundary tokens
    "packed_sequences" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE doc_id < 50),
        |tok AS (SELECT doc_id, doc_id % 4 AS shard, toks[i] AS tok, i
        |        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |              FROM d)
        |        WHERE length(toks[i]) > 0),
        |counts AS (SELECT doc_id, shard, count(*) AS n FROM tok GROUP BY 1, 2),
        |starts AS (SELECT doc_id, shard,
        |             coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |           FROM counts),
        |pos AS (SELECT t.shard, s.prev + t.i - 1 AS gpos, t.tok
        |        FROM tok t JOIN starts s ON t.doc_id = s.doc_id)
        |SELECT CAST(shard AS BIGINT) AS shard, CAST(gpos // 64 AS BIGINT) AS seq_id,
        |  CAST(count(*) AS INT) AS seq_len,
        |  arg_min(tok, gpos) AS first_tok, arg_max(tok, gpos) AS last_tok
        |FROM pos GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin,
    // mask carriage: same offset re-derivation as packed_sequences plus a
    // per-token mask bit (fpos·2 > doc token count) — n_masked and the
    // ordered masked-token digest must land on the same sequences
    "packed_loss_masks" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE doc_id < 50),
        |tok0 AS (SELECT doc_id, doc_id % 4 AS shard, toks[i] AS tok, i
        |         FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |               FROM d)
        |         WHERE length(toks[i]) > 0),
        |tok AS (SELECT doc_id, shard, tok, i,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY i) AS fpos,
        |          count(*) OVER (PARTITION BY doc_id) AS n
        |        FROM tok0),
        |counts AS (SELECT doc_id, shard, count(*) AS n FROM tok GROUP BY 1, 2),
        |starts AS (SELECT doc_id, shard,
        |             coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |           FROM counts),
        |pos AS (SELECT t.shard, s.prev + t.fpos - 1 AS gpos, t.tok,
        |          t.fpos * 2 > t.n AS mask
        |        FROM tok t JOIN starts s ON t.doc_id = s.doc_id)
        |SELECT CAST(shard AS BIGINT) AS shard, CAST(gpos // 64 AS BIGINT) AS seq_id,
        |  CAST(count(*) AS INT) AS seq_len,
        |  CAST(count(*) FILTER (WHERE mask) AS INT) AS n_masked,
        |  md5(coalesce(string_agg(tok, ' ' ORDER BY gpos) FILTER (WHERE mask), ''))
        |    AS masked_md5
        |FROM pos GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin,
    // masks + spans in one artifact: the packed_loss_masks re-derivation
    // plus per-(seq, doc) min-slot/count spans and their ordered digest
    "packed_masks_spans" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE doc_id < 50),
        |tok0 AS (SELECT doc_id, doc_id % 4 AS shard, toks[i] AS tok, i
        |         FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |               FROM d)
        |         WHERE length(toks[i]) > 0),
        |tok AS (SELECT doc_id, shard, tok, i,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY i) AS fpos,
        |          count(*) OVER (PARTITION BY doc_id) AS n
        |        FROM tok0),
        |counts AS (SELECT doc_id, shard, count(*) AS n FROM tok GROUP BY 1, 2),
        |starts AS (SELECT doc_id, shard,
        |             coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |           FROM counts),
        |pos AS (SELECT t.doc_id, t.shard, s.prev + t.fpos - 1 AS gpos, t.tok,
        |          t.fpos * 2 > t.n AS mask
        |        FROM tok t JOIN starts s ON t.doc_id = s.doc_id),
        |st AS (SELECT doc_id, shard, gpos // 64 AS seq_id, gpos % 64 AS slot,
        |         gpos, tok, mask FROM pos),
        |spans AS (SELECT shard, seq_id, doc_id, min(slot) AS start,
        |            count(*) AS len
        |          FROM st GROUP BY 1, 2, 3),
        |spanagg AS (SELECT shard, seq_id, CAST(count(*) AS INT) AS n_docs,
        |              md5(string_agg(start || ':' || len || ':' || doc_id, ' '
        |                ORDER BY start)) AS spans_md5
        |            FROM spans GROUP BY 1, 2)
        |SELECT CAST(t.shard AS BIGINT) AS shard, CAST(t.seq_id AS BIGINT) AS seq_id,
        |  CAST(count(*) AS INT) AS seq_len,
        |  CAST(count(*) FILTER (WHERE t.mask) AS INT) AS n_masked,
        |  md5(coalesce(string_agg(t.tok, ' ' ORDER BY t.gpos) FILTER (WHERE t.mask), ''))
        |    AS masked_md5,
        |  any_value(g.n_docs) AS n_docs, any_value(g.spans_md5) AS spans_md5
        |FROM st t JOIN spanagg g ON t.shard = g.shard AND t.seq_id = g.seq_id
        |GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin,
    // interleaved masks: the interleaved_pack fold at ctx 64 + per-token
    // slot arithmetic (offset + fpos-1 + earlier-patch shift, cut at the
    // ctx window), word-length ids, completion-tail bits; media/pad slot
    // counts re-derive from the plan (placed patches / len - text - media)
    "interleaved_loss_masks" ->
      (binPackFoldSql(
        """
          |  SELECT doc_id, doc_id % 4 AS shard,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END
          |      + CASE WHEN doc_id % 5 = 0 THEN 7 ELSE 0 END
          |      + CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 0 END
          |      + CASE WHEN doc_id % 3 = 0 THEN 9 ELSE 0 END AS BIGINT) AS n
          |  FROM documents WHERE doc_id < 200""".stripMargin, 64) +
        """,nt AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          |      AS ntext
          |  FROM documents WHERE doc_id < 200),
          |a AS (
          |  SELECT doc_id, doc_id * 10 + 1 AS asset_id,
          |    CAST(5 AS BIGINT) AS position, CAST(7 AS BIGINT) AS patch
          |  FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
          |  UNION ALL
          |  SELECT doc_id, doc_id * 10 + 2, CAST(0 AS BIGINT), CAST(3 AS BIGINT)
          |  FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
          |  UNION ALL
          |  SELECT doc_id, doc_id * 10 + 3, CAST(60 AS BIGINT), CAST(9 AS BIGINT)
          |  FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0),
          |pl AS (
          |  SELECT a.doc_id, a.asset_id, a.patch,
          |    least(greatest(a.position, 0), nt.ntext) AS pos,
          |    coalesce(sum(a.patch) OVER (
          |      PARTITION BY a.doc_id
          |      ORDER BY least(greatest(a.position, 0), nt.ntext), a.asset_id)
          |      - a.patch, 0) AS preceding_patches
          |  FROM a JOIN nt USING (doc_id)),
          |placed AS (
          |  SELECT pl.doc_id, pl.patch, f.shard, f.out_bin AS bin_id,
          |    (pl.pos + pl.preceding_patches + pl.patch > least(f.n, 64)) AS dropped
          |  FROM pl JOIN f ON pl.doc_id = f.doc_id
          |  WHERE f.out_bin IS NOT NULL),
          |tok0 AS (SELECT doc_id, toks[i] AS tok, i
          |         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
          |               FROM documents WHERE doc_id < 200),
          |              unnest(generate_series(1, len(toks))) AS u(i)
          |         WHERE length(toks[i]) > 0),
          |tok AS (SELECT doc_id, tok, i,
          |          row_number() OVER (PARTITION BY doc_id ORDER BY i) AS fpos,
          |          count(*) OVER (PARTITION BY doc_id) AS n
          |        FROM tok0),
          |tkept AS (
          |  SELECT t.doc_id, f.shard, f.out_bin AS bin_id,
          |    f.out_off + (t.fpos - 1) +
          |      coalesce((SELECT sum(pl.patch) FROM pl
          |                WHERE pl.doc_id = t.doc_id AND pl.pos <= t.fpos - 1), 0)
          |      AS slot,
          |    length(t.tok) AS tid,
          |    t.fpos * 2 > t.n AS mask
          |  FROM tok t JOIN f ON t.doc_id = f.doc_id
          |  WHERE f.out_bin IS NOT NULL
          |    AND f.out_off + (t.fpos - 1) +
          |      coalesce((SELECT sum(pl.patch) FROM pl
          |                WHERE pl.doc_id = t.doc_id AND pl.pos <= t.fpos - 1), 0)
          |      < 64),
          |seqlen AS (SELECT shard, out_bin AS bin_id,
          |             max(out_off + least(n, 64)) AS seq_len
          |           FROM f WHERE out_bin IS NOT NULL GROUP BY 1, 2),
          |media AS (SELECT shard, bin_id,
          |            sum(CASE WHEN NOT dropped THEN patch ELSE 0 END) AS n_media
          |          FROM placed GROUP BY 1, 2),
          |textn AS (SELECT shard, bin_id, count(*) AS n_text,
          |            count(*) FILTER (WHERE mask) AS n_loss,
          |            string_agg(slot || ':' || tid, ' ' ORDER BY slot)
          |              FILTER (WHERE mask) AS mstr
          |          FROM tkept GROUP BY 1, 2)
          |SELECT CAST(s.shard AS BIGINT) AS shard, CAST(s.bin_id AS BIGINT) AS bin_id,
          |  CAST(s.seq_len AS INT) AS seq_len,
          |  CAST(coalesce(t.n_loss, 0) AS BIGINT) AS n_loss,
          |  CAST(coalesce(m.n_media, 0) AS BIGINT) AS n_media,
          |  CAST(s.seq_len - coalesce(t.n_text, 0) - coalesce(m.n_media, 0) AS BIGINT)
          |    AS n_pad,
          |  md5(coalesce(t.mstr, '')) AS masked_md5
          |FROM seqlen s
          |  LEFT JOIN textn t ON s.shard = t.shard AND s.bin_id = t.bin_id
          |  LEFT JOIN media m ON s.shard = m.shard AND s.bin_id = m.bin_id
          |ORDER BY shard, bin_id""".stripMargin),
    // epoch shuffle: DuckDB re-derives the sequence set (packed_sequences
    // arithmetic) and then the SAME md5(epoch:shard:seq_id) priorities and
    // per-shard ranks — the full permutation must match bit-for-bit
    "epoch_shuffle" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE doc_id < 50),
        |tok AS (SELECT doc_id, doc_id % 4 AS shard, i
        |        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |              FROM d)
        |        WHERE length(toks[i]) > 0),
        |counts AS (SELECT doc_id, shard, count(*) AS n FROM tok GROUP BY 1, 2),
        |starts AS (SELECT doc_id, shard,
        |             coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |           FROM counts),
        |pos AS (SELECT t.shard, s.prev + t.i - 1 AS gpos
        |        FROM tok t JOIN starts s ON t.doc_id = s.doc_id),
        |seqs AS (SELECT DISTINCT shard, gpos // 64 AS seq_id FROM pos)
        |SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(3 AS INT) AS epoch,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY
        |    md5('3:' || CAST(shard AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)),
        |    seq_id) - 1 AS BIGINT) AS epoch_pos
        |FROM seqs ORDER BY shard, epoch_pos""".stripMargin,
    // tokenize→pack chain: per-shard doc counts are engine-independent
    // (doc_id % nShards); the sequence-count invariant must be uniformly
    // TRUE for the hash to match
    "bpe_pack_e2e" ->
      """SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs, TRUE AS n_seqs_ok
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    // Unicode NFC: DuckDB composes with nfc_normalize and strips the same
    // control ranges; both the string bytes and the composed length match
    "normalize_text" ->
      """WITH d AS (SELECT doc_id,
        |    text || ' caf' || chr(101) || chr(769) || ' ctl' || chr(7) || 'x' AS text
        |  FROM documents WHERE doc_id < 100),
        |n AS (SELECT doc_id,
        |    regexp_replace(nfc_normalize(text),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g') AS text_nfc
        |  FROM d)
        |SELECT doc_id, text_nfc, CAST(length(text_nfc) AS INT) AS len_nfc
        |FROM n ORDER BY doc_id""".stripMargin,
    // SimHash near-dup pairs: hamming distance between xxhash-based
    // 64-bit signatures has no SQL twin, but the output on the planted
    // sf0.01 corpus is a deterministic pure function of (data, seed) —
    // pinned here as literal rows the way mp4_frame_index pins its
    // arithmetic. Regenerate with tools/compare_oracle.py if the testdata
    // corpus content ever changes (the pigeonhole recall bound itself is
    // enforced against brute force by RecallSpec).
    "dedup_simhash" ->
      """WITH p(a, b, h) AS (SELECT * FROM (VALUES
        |  (0,100000,4), (1,100001,4), (2,100002,2), (3,9,10), (3,13,9),
        |  (3,100003,4), (3,100013,8), (3,100041,10), (4,9,9), (4,13,10), (4,32,8),
        |  (4,37,10), (4,40,10), (4,42,10), (4,43,10), (4,100004,0), (4,100009,10),
        |  (4,100010,9), (4,100013,9), (4,100032,7), (4,100035,10), (5,9,10),
        |  (5,14,6), (5,17,6), (5,28,10), (5,31,6), (5,100005,0), (5,100009,7),
        |  (5,100014,7), (5,100017,7), (5,100022,9), (5,100028,10), (5,100031,7),
        |  (5,100032,10), (5,100040,10), (6,100006,5), (7,18,10), (7,21,10),
        |  (7,29,10), (7,100007,4), (7,100029,10), (8,37,10), (8,100008,1),
        |  (9,14,10), (9,18,7), (9,27,9), (9,31,10), (9,36,10), (9,41,10),
        |  (9,100003,10), (9,100004,9), (9,100005,10), (9,100009,3), (9,100018,9),
        |  (9,100031,9), (9,100032,10), (9,100041,10), (10,100008,10),
        |  (10,100010,2), (11,100011,1), (12,100012,0), (13,100004,10),
        |  (13,100010,9), (13,100013,1), (14,28,10), (14,31,6), (14,36,10),
        |  (14,100005,6), (14,100009,7), (14,100014,1), (14,100022,9),
        |  (14,100028,10), (14,100031,7), (14,100032,10), (14,100040,10),
        |  (15,20,10), (15,100015,2), (16,29,9), (16,100016,4), (16,100029,9),
        |  (17,100005,6), (17,100017,1), (18,27,6), (18,29,10), (18,36,9),
        |  (18,100009,10), (18,100018,2), (18,100027,6), (18,100029,10),
        |  (18,100032,9), (19,29,10), (19,100019,7), (19,100029,10), (20,38,8),
        |  (20,42,8), (20,100020,1), (20,100038,7), (20,100042,10), (21,100021,6),
        |  (22,31,9), (22,100022,2), (23,100023,0), (23,100032,9), (23,100044,9),
        |  (24,100024,1), (25,100025,0), (25,100040,10), (25,100043,10),
        |  (26,100026,10), (27,36,9), (27,100009,10), (27,100018,8), (27,100027,2),
        |  (27,100036,9), (28,100005,10), (28,100028,2), (29,31,9), (29,32,10),
        |  (29,40,8), (29,100007,10), (29,100016,9), (29,100018,10),
        |  (29,100027,10), (29,100029,0), (29,100032,9), (29,100040,9), (30,35,9),
        |  (30,100030,3), (30,100035,10), (31,40,9), (31,41,10), (31,100005,6),
        |  (31,100009,7), (31,100014,7), (31,100022,7), (31,100029,9),
        |  (31,100031,3), (31,100032,10), (31,100040,8), (32,100004,8),
        |  (32,100007,10), (32,100009,10), (32,100029,10), (32,100032,3),
        |  (32,100035,10), (33,100024,10), (33,100033,3), (34,100034,4),
        |  (35,100030,10), (35,100035,1), (36,100009,9), (36,100027,9),
        |  (36,100032,10), (36,100036,2), (37,100004,10), (37,100008,9),
        |  (37,100037,4), (38,100020,9), (38,100038,1), (39,100039,3),
        |  (39,100045,10), (40,100004,10), (40,100029,8), (40,100040,1),
        |  (41,46,10), (41,100031,9), (41,100041,2), (41,100046,9), (42,100004,10),
        |  (42,100010,9), (42,100020,9), (42,100042,2), (43,100004,10),
        |  (43,100043,5), (44,100044,2), (45,100045,1), (46,100046,1),
        |  (47,100047,1), (48,100000,10), (48,100048,4), (49,100049,4),
        |  (100002,100018,10), (100003,100041,10), (100004,100009,10),
        |  (100004,100010,9), (100004,100013,9), (100004,100032,7),
        |  (100004,100035,10), (100005,100009,7), (100005,100014,7),
        |  (100005,100017,7), (100005,100022,9), (100005,100028,10),
        |  (100005,100031,7), (100005,100032,10), (100005,100040,10),
        |  (100007,100029,10), (100009,100014,8), (100009,100031,6),
        |  (100009,100032,9), (100009,100046,10), (100010,100013,10),
        |  (100013,100032,10), (100014,100022,10), (100014,100031,8),
        |  (100016,100029,9), (100018,100027,6), (100018,100029,10),
        |  (100018,100032,9), (100020,100038,8), (100022,100031,10),
        |  (100023,100032,9), (100023,100044,9), (100025,100040,10),
        |  (100025,100043,10), (100027,100029,10), (100027,100036,7),
        |  (100027,100047,10), (100027,100049,10), (100028,100032,10),
        |  (100029,100032,9), (100029,100040,9), (100032,100036,10),
        |  (100034,100039,10)
        |))
        |SELECT CAST(a AS BIGINT) AS id_a, CAST(b AS BIGINT) AS id_b,
        |  CAST(h AS INT) AS hamming FROM p ORDER BY id_a, id_b""".stripMargin,
    // MinHash near-dup pairs: candidate generation is xxhash LSH, but the
    // VERIFIED output (true 3-shingle Jaccard >= threshold) is exactly
    // SQL-derivable — DuckDB brute-forces all pairs and the sets must
    // coincide because banded LSH has full recall on this corpus (the
    // planted mutations sit at j >> 0.5 where the 16x2 banding catch
    // probability is 1 to ~1e-7, and both engines are deterministic on
    // the same data). A genuine LSH recall loss would surface here as a
    // missing row — which is precisely what the oracle should catch.
    "dedup_minhash" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |corpus AS (SELECT doc_id, text FROM base
        |           UNION ALL
        |           SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'graftmutated')
        |           FROM base),
        |d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // cluster survivors over the same brute-forced edge set: recursive-CTE
    // connected components, smallest member survives (the
    // cluster_survivors_exact pattern at the planted corpus + 0.5)
    "dedup_cluster_survivors" ->
      """WITH RECURSIVE
        |base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |corpus AS (SELECT doc_id, text FROM base
        |           UNION ALL
        |           SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'graftmutated')
        |           FROM base),
        |d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sizes sa ON sa.doc_id = id_a
        |          JOIN sizes sb ON sb.doc_id = id_b
        |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |cc AS (SELECT id, id AS label FROM nodes
        |       UNION
        |       SELECT e.src, cc.label FROM edges e, cc WHERE e.dst = cc.id),
        |labels AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id),
        |losers AS (SELECT id AS doc_id FROM labels WHERE id <> cluster_id)
        |SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    // incremental near-dup survivors: within-batch connected components
    // (brute-forced edges at 0.6) for canonicality, then an anti-join on
    // any batch->corpus match at 0.6 — the exact incrementalNearDupDedup
    // contract, re-derived from scratch in SQL
    "dedup_minhash_incremental" -> IncrementalNearDupOracle,
    // identical expected survivors served from the persisted MinHash
    // index — same oracle as dedup_minhash_incremental by construction
    // (MinHashIndexSpec asserts the Spark-side equality too)
    "dedup_minhash_index" -> IncrementalNearDupOracle,
    // embedding near-dup: hyperplane-LSH candidates, exact-cosine
    // verified at 0.999 — the planted pairs are byte-identical vectors
    // (cosine exactly 1.0, identical signatures in every table, so LSH
    // recall on them is structural); DuckDB brute-forces all-pairs
    // cosine and the sets must coincide
    "embedding_near_dup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |corpus AS (SELECT vec_id, embedding FROM base
        |           UNION ALL SELECT vec_id + 100000, embedding FROM base)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 6) AS cosine
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,
    // SemDeDup pairs: the within-cell verification uses the true cosine,
    // so DuckDB's exhaustive pair scan is a FULL oracle — clustering may
    // only lose pairs, and the planted frame's pairs (identical vectors)
    // cannot be lost (same vector -> same nearest centroid)
    "semdedup_pairs" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
        |corpus AS (SELECT vec_id, embedding FROM base
        |           UNION ALL SELECT vec_id + 100000, embedding FROM base)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 6) AS cosine
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,
    "semdedup_survivors" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
        |corpus AS (SELECT vec_id, embedding FROM base
        |           UNION ALL SELECT vec_id + 100000, embedding FROM base),
        |losers AS (SELECT DISTINCT b.vec_id
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999)
        |SELECT c.vec_id FROM corpus c
        |WHERE c.vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id""".stripMargin,
    // hard negatives: brute cosine minus self and the labeled positive
    "hard_negatives_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT query_id, e.vec_id,
        |        round(list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
        |      FROM e, q
        |      WHERE e.vec_id <> query_id AND e.vec_id <> query_id + 5),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
        |      FROM s)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // prototype pruning: nearest-centroid assignment (rounded cosine,
    // ties to the smaller cell via the (score, -cell) struct max), exact
    // per-cell 75th-percentile cutoff, strictly-above rows pruned
    "prototype_prune_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM e WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cell,
        |        round(list_dot_product(v, cv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ps
        |      FROM e, c),
        |b AS (SELECT vec_id, max(struct_pack(s := ps, nc := -cell)) AS m
        |      FROM s WHERE ps IS NOT NULL GROUP BY vec_id),
        |a AS (SELECT vec_id, CAST(-m.nc AS INT) AS proto_cell, m.s AS proto_score FROM b),
        |cut AS (SELECT proto_cell, quantile_cont(proto_score, 0.75) AS q
        |        FROM a GROUP BY proto_cell)
        |SELECT e.vec_id, a.proto_cell, a.proto_score
        |FROM e LEFT JOIN a USING (vec_id) LEFT JOIN cut USING (proto_cell)
        |WHERE a.proto_score IS NULL OR a.proto_score <= cut.q
        |ORDER BY e.vec_id""".stripMargin,
    // D4: the semdedup_survivors oracle feeding the prototype cutoff
    "d4_select_exact" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings WHERE vec_id < 100),
        |corpus AS (SELECT vec_id, v FROM base
        |           UNION ALL SELECT vec_id + 100000, v FROM base),
        |losers AS (SELECT DISTINCT b.vec_id
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.999),
        |kept AS (SELECT * FROM corpus
        |         WHERE vec_id NOT IN (SELECT vec_id FROM losers)),
        |c AS (SELECT CAST(vec_id AS INT) AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT k.vec_id, c.cell,
        |        round(list_dot_product(v, cv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ps
        |      FROM kept k, c),
        |b AS (SELECT vec_id, max(struct_pack(s := ps, nc := -cell)) AS m
        |      FROM s WHERE ps IS NOT NULL GROUP BY vec_id),
        |a AS (SELECT vec_id, CAST(-m.nc AS INT) AS proto_cell, m.s AS proto_score FROM b),
        |cut AS (SELECT proto_cell, quantile_cont(proto_score, 0.8) AS q
        |        FROM a GROUP BY proto_cell)
        |SELECT k.vec_id, a.proto_cell
        |FROM kept k LEFT JOIN a USING (vec_id) LEFT JOIN cut USING (proto_cell)
        |WHERE a.proto_score IS NULL OR a.proto_score <= cut.q
        |ORDER BY k.vec_id""".stripMargin,
    // MJPEG-in-AVI decode: fixture bytes are pinned, so frame byte
    // ranges, JPEG-header dimensions, and the decoded-color flags are
    // all literal arithmetic — a decode regression (wrong frame sliced,
    // wrong pixels) breaks the hash
    "avi_mjpeg_decode" ->
      """WITH f(idx, off, sz, w, h, is_red, is_blue) AS (
        |  SELECT * FROM (VALUES (0, 184, 633, 8, 6, TRUE, FALSE),
        |                        (1, 826, 633, 4, 4, FALSE, TRUE))),
        |d AS (SELECT doc_id FROM documents WHERE doc_id < 5)
        |SELECT CAST(d.doc_id AS BIGINT) AS asset_id, CAST(idx AS INT) AS idx,
        |  CAST(off AS BIGINT) AS offset, CAST(sz AS INT) AS size,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height, is_red, is_blue
        |FROM d CROSS JOIN f ORDER BY asset_id, idx""".stripMargin,
    // MP4 frame index: the container is a fixed hand-built payload, so
    // the expected ISO-BMFF sample arithmetic is pinned as literal rows
    // (one set per parsed asset) — any drift in offset/size/pts math
    // breaks the hash
    "mp4_frame_index" ->
      """WITH f(idx, off, sz, pts) AS (
        |  SELECT * FROM (VALUES (0, 1000, 10, 0), (1, 1010, 20, 100),
        |                        (2, 2000, 30, 200))),
        |d AS (SELECT doc_id FROM documents WHERE doc_id < 5)
        |SELECT CAST(d.doc_id AS BIGINT) AS asset_id, CAST(idx AS INT) AS idx,
        |  CAST(off AS BIGINT) AS offset, CAST(sz AS INT) AS size,
        |  CAST(pts AS BIGINT) AS pts_ms
        |FROM d CROSS JOIN f ORDER BY asset_id, idx""".stripMargin,
    // BPE audit: exact word counts both engines derive; the round-trip and
    // count-bound flags are invariants of a correct encoder — uniformly
    // TRUE or the hash breaks
    "bpe_encode_audit" ->
      ("""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES """.stripMargin +
        AuditPlantedValuesSql +
        """) p(doc_id, text))
          |SELECT doc_id,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
          |  TRUE AS roundtrip_ok, TRUE AS count_sane, TRUE AS ids_lossless
          |FROM all_docs ORDER BY doc_id""".stripMargin),
    // gpt2 audit: n_words re-derived by RE2 running the SAME pattern —
    // the segmentation itself is the cross-engine contract; flags are
    // invariant TRUEs as in bpe_encode_audit
    "bpe_gpt2_audit" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(910001 AS BIGINT), 'Hello, world! it''s 2024... ok?!'),
        |    (CAST(910002 AS BIGINT), 'tab' || chr(9) || 'here &  doubled spaces'),
        |    (CAST(910003 AS BIGINT), 'café 😀 — naïve''s test')) p(doc_id, text))
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
        |    AS BIGINT) AS n_words,
        |  TRUE AS roundtrip_ok, TRUE AS count_sane, TRUE AS ids_lossless
        |FROM all_docs ORDER BY doc_id""".stripMargin,
    // word-count state: exact counts both engines derive independently
    "word_count_state" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin,
    // unigram-LM audit: identical contract to bpe_encode_audit — exact
    // word counts, invariant flags asserted as literal TRUE
    "unigram_encode_audit" ->
      ("""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES """.stripMargin +
        AuditPlantedValuesSql +
        """) p(doc_id, text))
          |SELECT doc_id,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
          |  TRUE AS roundtrip_ok, TRUE AS count_sane, TRUE AS ids_lossless
          |FROM all_docs ORDER BY doc_id""".stripMargin),
    // fertility: all word/char/byte totals from first principles; the
    // saturated tokenizer makes total_tokens = total_words and
    // fertility exactly 1.0 (see the query comment)
    "tokenizer_fertility" ->
      """WITH w AS (SELECT lang,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |a AS (SELECT lang,
        |    CAST(len(ws) AS BIGINT) AS nw,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS ch,
        |    CAST(list_sum(list_transform(ws, x -> octet_length(encode(x)))) AS BIGINT) AS by
        |  FROM w)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS total_words,
        |  CAST(sum(nw) AS BIGINT) AS total_tokens,
        |  CAST(sum(ch) AS BIGINT) AS total_chars,
        |  CAST(sum(by) AS BIGINT) AS total_bytes,
        |  CAST(1.0 AS DOUBLE) AS fertility,
        |  round(CAST(sum(by) AS DOUBLE) / sum(nw), 6) AS bytes_per_token
        |FROM a GROUP BY lang ORDER BY lang""".stripMargin,
    // tokenizer data card: every section re-derives from first
    // principles over the whitespace-tokenizer fixture — vocab = the
    // even-doc distinct words, coverage joins the full token stream
    // against it (real OOV from the odd half), fertility/compression
    // from the word/byte totals
    "tokenizer_data_card" ->
      """WITH docs2 AS (SELECT doc_id, lang, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(900031 AS BIGINT), 'xx', 'zzqux zzcorge zzqux <0xE2> <0x47></w>'),
        |    (CAST(900032 AS BIGINT), 'xx', 'zzgrault <0x2A> <0x2B></w> zzgrault'))
        |    AS v(doc_id, lang, text)),
        |d AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM docs2),
        |tok AS (SELECT doc_id, lang, unnest(ws) AS tok FROM d),
        |voc AS (SELECT DISTINCT tok FROM tok WHERE doc_id % 2 = 0),
        |vocsec AS (
        |  SELECT 'vocab' AS section, 'vocab_size' AS key,
        |    CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(count(*) AS DOUBLE), 6) AS value FROM voc
        |  UNION ALL
        |  SELECT 'vocab', 'byte_fallback_tokens',
        |    CAST(coalesce(sum(CASE WHEN regexp_matches(tok, '^<0x[0-9A-F]{2}>(</w>)?$')
        |      THEN 1 ELSE 0 END), 0) AS BIGINT),
        |    round(CAST(coalesce(sum(CASE WHEN regexp_matches(tok, '^<0x[0-9A-F]{2}>(</w>)?$')
        |      THEN 1 ELSE 0 END), 0) AS DOUBLE), 6) FROM voc),
        |cov AS (SELECT count(*) AS total,
        |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS oov,
        |    count(DISTINCT t.tok) AS types,
        |    count(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS oovtypes,
        |    sum(CASE WHEN regexp_matches(t.tok, '^<0x[0-9A-F]{2}>(</w>)?$')
        |      THEN 1 ELSE 0 END) AS bf
        |  FROM tok t LEFT JOIN voc v ON t.tok = v.tok),
        |covsec AS (
        |  SELECT 'coverage' AS section, 'byte_fallback_rate' AS key,
        |    CAST(total AS BIGINT) AS n,
        |    round(CAST(bf AS DOUBLE) / total, 6) AS value FROM cov
        |  UNION ALL SELECT 'coverage', 'oov_token_rate', CAST(total AS BIGINT),
        |    round(CAST(oov AS DOUBLE) / total, 6) FROM cov
        |  UNION ALL SELECT 'coverage', 'oov_token_types', CAST(types AS BIGINT),
        |    round(CAST(oovtypes AS DOUBLE), 6) FROM cov),
        |f AS (SELECT lang, count(*) AS n_docs,
        |    CAST(coalesce(sum(len(ws)), 0) AS BIGINT) AS nw,
        |    CAST(coalesce(sum(list_sum(list_transform(ws,
        |      x -> octet_length(encode(x))))), 0) AS BIGINT) AS by
        |  FROM d GROUP BY lang),
        |fertsec AS (SELECT 'fertility' AS section, lang AS key,
        |    CAST(n_docs AS BIGINT) AS n,
        |    round(CAST(nw AS DOUBLE) / nw, 6) AS value FROM f),
        |compsec AS (SELECT 'compression' AS section, lang AS key,
        |    CAST(nw AS BIGINT) AS n,
        |    round(CAST(by AS DOUBLE) / nw, 6) AS value FROM f)
        |SELECT * FROM (SELECT * FROM vocsec UNION ALL SELECT * FROM covsec
        |  UNION ALL SELECT * FROM fertsec UNION ALL SELECT * FROM compsec)
        |ORDER BY section, key""".stripMargin,
    // wordpiece audit: n_words replayed exactly; has_unk is data-determined
    // (ONLY the planted snowman doc carries a char outside the training
    // alphabet — every real doc's chars enter via the capped word counts);
    // the remaining flags are invariant TRUEs as in bpe_encode_audit
    "wordpiece_encode_audit" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(900021 AS BIGINT), 'the snowman ☃ melted'),
        |    (CAST(900022 AS BIGINT), 'spark data table row')) p(doc_id, text))
        |SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |  doc_id = 900021 AS has_unk,
        |  TRUE AS roundtrip_ok, TRUE AS count_sane, TRUE AS ids_lossless
        |FROM all_docs ORDER BY doc_id""".stripMargin,
    // exact top-k is fully mirrorable; est_ok is the seeded sketch's CMS
    // bound check, a deterministic pure function of data + seed — the
    // oracle asserts it as literal TRUE
    "heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |           FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS freq, TRUE AS est_ok
        |FROM t WHERE length(token) >= 1
        |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin,
    "chunk_documents" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents WHERE doc_id < 20 AND trim(text) <> ''),
        |s AS (SELECT doc_id, w,
        |             unnest(range(0, GREATEST(len(w) - 1, 0) + 1, 30)) AS start
        |      FROM d)
        |SELECT doc_id,
        |  CAST(start / 30 AS INT) AS chunk_id,
        |  array_to_string(w[start + 1 : start + 40], ' ') AS chunk_text,
        |  CAST(LEAST(40, len(w) - start) AS INT) AS n_chunk_tokens
        |FROM s
        |WHERE start = 0 OR len(w) - start > 10
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "curation_e2e" ->
      s"""WITH surv AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))),
         |d AS (SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)),
         |q AS (SELECT doc_id, text FROM d WHERE (
         |    (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text) < 0.2 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) < 0.3 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN ($allStopSql) > 0 OR ($hanSql) > 0 THEN 1.0 ELSE 0.0 END)
         |  ) / 4.0 >= 0.8),
         |r AS (SELECT doc_id,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g') AS text
         |  FROM q)
         |SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |  len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_regex_tokens,
         |  length(text) AS n_chars,
         |  round(CASE WHEN length(text) = 0 THEN 0 ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
         |  round(CASE WHEN length(text) = 0 THEN 0 ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS digit_ratio,
         |  round(CASE WHEN length(text) = 0 THEN 0 ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS upper_ratio,
         |  round((
         |    (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text) < 0.2 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) < 0.3 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN ($allStopSql) > 0 OR ($hanSql) > 0 THEN 1.0 ELSE 0.0 END)
         |  ) / 4.0, 6) AS quality
         |FROM r ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |ORDER BY doc_id""".stripMargin,
    "dsir_weights" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(w) AS g FROM d
        |      UNION ALL
        |      SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
        |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d)),
        |f AS (SELECT doc_id,
        |        CAST('0x' || substring(md5(g), 1, 13) AS BIGINT) % 512 AS bucket,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM g GROUP BY 1, 2),
        |tf AS (SELECT bucket, sum(cnt) AS c FROM f WHERE doc_id < 100 GROUP BY 1),
        |tn AS (SELECT sum(cnt) AS n FROM f WHERE doc_id < 100),
        |rf AS (SELECT bucket, sum(cnt) AS c FROM f GROUP BY 1),
        |rn AS (SELECT sum(cnt) AS n FROM f),
        |b AS (SELECT unnest(generate_series(0, 511)) AS bucket),
        |lp AS (SELECT b.bucket,
        |         ln((coalesce(tf.c, 0) + 1.0) / (tn.n + 512.0)) AS lt,
        |         ln((coalesce(rf.c, 0) + 1.0) / (rn.n + 512.0)) AS lr
        |       FROM b LEFT JOIN tf USING (bucket) LEFT JOIN rf USING (bucket), tn, rn)
        |SELECT f.doc_id, round(sum(f.cnt * (lp.lt - lp.lr)), 6) AS log_weight
        |FROM f JOIN lp USING (bucket)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dsir_resample" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(w) AS g FROM d
        |      UNION ALL
        |      SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
        |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d)),
        |f AS (SELECT doc_id,
        |        CAST('0x' || substring(md5(g), 1, 13) AS BIGINT) % 512 AS bucket,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM g GROUP BY 1, 2),
        |tf AS (SELECT bucket, sum(cnt) AS c FROM f WHERE doc_id < 100 GROUP BY 1),
        |tn AS (SELECT sum(cnt) AS n FROM f WHERE doc_id < 100),
        |rf AS (SELECT bucket, sum(cnt) AS c FROM f GROUP BY 1),
        |rn AS (SELECT sum(cnt) AS n FROM f),
        |b AS (SELECT unnest(generate_series(0, 511)) AS bucket),
        |lp AS (SELECT b.bucket,
        |         ln((coalesce(tf.c, 0) + 1.0) / (tn.n + 512.0)) AS lt,
        |         ln((coalesce(rf.c, 0) + 1.0) / (rn.n + 512.0)) AS lr
        |       FROM b LEFT JOIN tf USING (bucket) LEFT JOIN rf USING (bucket), tn, rn),
        |wgt AS (SELECT f.doc_id, sum(f.cnt * (lp.lt - lp.lr)) AS lw
        |        FROM f JOIN lp USING (bucket) GROUP BY 1),
        |pri AS (SELECT doc_id, lw - ln(-ln(
        |          (CAST('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)
        |             AS BIGINT) + 0.5) / 4503599627370496.0)) AS p
        |        FROM wgt)
        |SELECT doc_id, round(p, 6) AS priority FROM pri
        |ORDER BY p DESC, doc_id LIMIT 50""".stripMargin,
    "negative_sampling" ->
      """WITH n AS (SELECT count(*) AS c FROM documents),
        |p AS (SELECT doc_id AS id, j,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
        |      1, 13) AS BIGINT) % c AS neg_id
        |  FROM documents, generate_series(1, 3) AS s(j), n)
        |SELECT id, j, neg_id FROM p WHERE neg_id <> id
        |ORDER BY id, j""".stripMargin,
    "fuzzy_dedup_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 500 AND b.c_custkey <= 500
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    "fuzzy_entity_resolution" ->
      """WITH RECURSIVE
        |c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 300),
        |pairs AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |          FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        |          WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |cc AS (SELECT id, id AS label FROM nodes
        |       UNION
        |       SELECT e.src, cc.label FROM edges e, cc WHERE e.dst = cc.id),
        |labels AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id)
        |SELECT id, cluster_id FROM labels ORDER BY id""".stripMargin,
    "dedup_incremental" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 250),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |          UNION ALL
        |          SELECT doc_id + 200000, text FROM documents WHERE doc_id < 10),
        |ch AS (SELECT DISTINCT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |       FROM corpus),
        |bh AS (SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
        |              min(doc_id) AS doc_id
        |       FROM batch GROUP BY 1)
        |SELECT doc_id FROM bh WHERE h NOT IN (SELECT h FROM ch)
        |ORDER BY doc_id""".stripMargin,
    "cluster_survivors_exact" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, text FROM d
        |           UNION ALL SELECT doc_id + 100000, text FROM d),
        |w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM w)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sizes sa ON sa.doc_id = id_a
        |          JOIN sizes sb ON sb.doc_id = id_b
        |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |cc AS (SELECT id, id AS label FROM nodes
        |       UNION
        |       SELECT e.src, cc.label FROM edges e, cc WHERE e.dst = cc.id),
        |labels AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id),
        |losers AS (SELECT id AS doc_id FROM labels WHERE id <> cluster_id)
        |SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    // cluster-safe split: same recursive-CTE clusters, then the split draw
    // is the portable 52-bit md5 uniform on the CLUSTER key (smallest
    // member id; singletons draw on their own id) — row-for-row identical
    // to the Spark assignment
    "cluster_safe_split" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, text FROM d
        |           UNION ALL SELECT doc_id + 100000, text FROM d),
        |w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM w)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sizes sa ON sa.doc_id = id_a
        |          JOIN sizes sb ON sb.doc_id = id_b
        |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |cc AS (SELECT id, id AS label FROM nodes
        |       UNION
        |       SELECT e.src, cc.label FROM edges e, cc WHERE e.dst = cc.id),
        |labels AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id),
        |keyed AS (SELECT c.doc_id,
        |            coalesce(l.cluster_id, c.doc_id) AS skey
        |          FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id)
        |SELECT doc_id,
        |  CASE WHEN (CAST('0x' || substring(md5(
        |      CAST(skey AS VARCHAR) || ':cs'), 1, 13) AS BIGINT) + 0.5)
        |      / 4503599627370496.0 < 0.3
        |    THEN 'test' ELSE 'train' END AS split
        |FROM keyed ORDER BY doc_id""".stripMargin,
    "contamination_report" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM docs WHERE doc_id >= 5
        |           UNION ALL SELECT doc_id + 300000, text FROM docs WHERE doc_id < 3),
        |ev AS (SELECT doc_id, text FROM docs WHERE doc_id < 5),
        |cg AS (SELECT DISTINCT doc_id AS corpus_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |             FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |                   FROM corpus))),
        |eg AS (SELECT DISTINCT doc_id AS eval_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |             FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |                   FROM ev))),
        |sizes AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS eval_grams FROM eg GROUP BY 1),
        |ov AS (SELECT corpus_id, eval_id, CAST(count(*) AS BIGINT) AS overlap_grams
        |       FROM cg JOIN eg ON cg.g = eg.g GROUP BY 1, 2)
        |SELECT corpus_id, eval_id, overlap_grams,
        |  round(CAST(overlap_grams AS DOUBLE) / eval_grams, 6) AS eval_coverage
        |FROM ov JOIN sizes USING (eval_id)
        |WHERE overlap_grams >= 2
        |ORDER BY corpus_id, eval_id""".stripMargin,
    // decontamination survivors: drop any corpus doc covering >= 0.8 of an
    // eval doc's distinct 3-grams
    "decontaminate_corpus" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM docs WHERE doc_id >= 5
        |           UNION ALL SELECT doc_id + 300000, text FROM docs WHERE doc_id < 3),
        |ev AS (SELECT doc_id, text FROM docs WHERE doc_id < 5),
        |cg AS (SELECT DISTINCT doc_id AS corpus_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |             FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |                   FROM corpus))),
        |eg AS (SELECT DISTINCT doc_id AS eval_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |             FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |                   FROM ev))),
        |sizes AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS eval_grams FROM eg GROUP BY 1),
        |bad AS (SELECT DISTINCT corpus_id
        |        FROM (SELECT corpus_id, eval_id, CAST(count(*) AS BIGINT) AS ov
        |              FROM cg JOIN eg ON cg.g = eg.g GROUP BY 1, 2) o
        |        JOIN sizes USING (eval_id)
        |        WHERE CAST(ov AS DOUBLE) / eval_grams >= 0.8)
        |SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT corpus_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "ngram_jaccard" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
        |corpus AS (SELECT doc_id, text FROM base
        |           UNION ALL
        |           SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'graftmutated')
        |           FROM base),
        |d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |      FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.02
        |ORDER BY id_a, id_b""".stripMargin,
    "embedding_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT query_id, e.vec_id,
        |        round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
        |      FROM e, q WHERE e.vec_id <> query_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM s)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // CAST(1.0 AS DOUBLE): a bare 1.0 is DECIMAL in DuckDB and the
    // fusion scores would come out in decimal arithmetic, not the
    // double arithmetic the Spark side uses
    "hybrid_rrf" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |tok AS (SELECT DISTINCT doc_id, unnest(w) AS tok FROM d),
        |q AS (SELECT doc_id AS query_id, tok FROM tok WHERE doc_id < 3),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |qsizes AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qn FROM q GROUP BY 1),
        |inter AS (SELECT q.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS i
        |          FROM tok t JOIN q ON t.tok = q.tok AND t.doc_id <> q.query_id
        |          GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id,
        |          CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY CAST(i AS DOUBLE) / (n + qn - i) DESC, doc_id) AS INT) AS rank
        |        FROM inter JOIN sizes USING (doc_id) JOIN qsizes USING (query_id)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |sv AS (SELECT query_id, e.vec_id AS doc_id,
        |         round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
        |       FROM e, qv WHERE e.vec_id <> query_id),
        |vec AS (SELECT query_id, doc_id,
        |          CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY cosine DESC, doc_id) AS INT) AS rank FROM sv),
        |fused AS (SELECT query_id, doc_id, sum(CAST(1.0 AS DOUBLE) / (60 + rank)) AS s
        |          FROM (SELECT * FROM lex WHERE rank <= 20
        |                UNION ALL SELECT * FROM vec WHERE rank <= 20)
        |          GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, round(s, 6) AS rrf_score,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY s DESC, doc_id) AS INT) AS rank
        |      FROM fused)
        |SELECT query_id, doc_id, rrf_score, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // exact within the label slice (the Spark side probes every cell), so
    // plain brute-force cosine over the filtered corpus IS the oracle
    "ann_ivf_filtered" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT query_id, e.vec_id,
        |        round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
        |      FROM e, q WHERE e.vec_id <> query_id AND e.label = 1),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM s)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // the five full-precision exact twins (IVF/LSH, one-shot, index, and
    // sharded index) all reduce to the same unfiltered brute-force
    // cosine top-k
    "ann_ivf_topk_exact" -> AnnExactBruteSql,
    "ann_ivf_search_exact" -> AnnExactBruteSql,
    "ann_deleted_search_exact" -> AnnDeletedBruteSql,
    "ann_sharded_search_exact" -> AnnExactBruteSql,
    // compaction's identity contract: the rewritten (build + append +
    // compact) layout must still answer with the brute-force top-k
    "ann_compacted_search_exact" -> AnnExactBruteSql,
    // reshard's identity contract: payload rows moved to a new shard
    // count verbatim — the exhaustive answer is still brute force
    "ann_resharded_search_exact" -> AnnExactBruteSql,
    "ann_lsh_topk_exact" -> AnnExactBruteSql,
    "ann_lsh_search_exact" -> AnnExactBruteSql,
    // IVF-PQ refined, exhaustive shortlist: the final ranking is cosine
    // against the int8-dequantized corpus vectors — the oracle replays
    // the quantization arithmetic (per-vector scale = max|x|/127 stored
    // as float32, codes = round(x/scale) as int8, dequantized norm in
    // the denominator) element for element
    "ann_ivfpq_refined_exact" -> AnnIvfpqRefinedExactSql,
    // the sharded PQ twin reduces to the SAME int8-exact answer: the
    // per-vector quantization is fit-independent, so exhaustive probes
    // + a shortlist-covering refine factor per shard merge to exactly
    // the single index's refined ranking
    "ann_ivfpq_sharded_exact" -> AnnIvfpqRefinedExactSql,
    "ann_ivfpq_resharded_exact" -> AnnIvfpqRefinedExactSql,
    "bigram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d)),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS nb FROM b GROUP BY 1, 2),
        |uc AS (SELECT t AS w1, CAST(count(*) AS BIGINT) AS nu
        |       FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(-ln(CAST(nb AS DOUBLE) / nu)), 6) AS avg_neg_logprob
        |FROM b JOIN bc USING (w1, w2) JOIN uc USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // stupid-backoff trigram LM: DuckDB rebuilds the reference counts and
    // walks the same first-defined-level chain (c3/c2 | a*c23/c2nd |
    // a^2*c(w3)-or-0.5 / N)
    "trigram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |tok AS (SELECT doc_id, i AS pos, w[i] AS t
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM d)),
        |ref AS (SELECT * FROM tok WHERE doc_id < 250),
        |sc AS (SELECT * FROM tok WHERE doc_id >= 250),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ref),
        |c1 AS (SELECT t, count(*) AS c FROM ref GROUP BY t),
        |c2 AS (SELECT a.t AS w1, b.t AS w2, count(*) AS c
        |       FROM ref a JOIN ref b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |       GROUP BY 1, 2),
        |c3 AS (SELECT a.t AS w1, b.t AS w2, e.t AS w3, count(*) AS c
        |       FROM ref a JOIN ref b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |       JOIN ref e ON a.doc_id = e.doc_id AND e.pos = a.pos + 2
        |       GROUP BY 1, 2, 3),
        |tri AS (SELECT a.doc_id, a.t AS w1, b.t AS w2, e.t AS w3
        |        FROM sc a JOIN sc b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |        JOIN sc e ON a.doc_id = e.doc_id AND e.pos = a.pos + 2),
        |p AS (SELECT tri.doc_id,
        |  CASE WHEN c3.c IS NOT NULL THEN CAST(c3.c AS DOUBLE) / c2a.c
        |       WHEN c2b.c IS NOT NULL THEN 0.4 * CAST(c2b.c AS DOUBLE) / c1b.c
        |       ELSE 0.4 * 0.4 * CAST(coalesce(c1c.c, 0.5) AS DOUBLE) / n.n END AS p
        |  FROM tri
        |  LEFT JOIN c3 ON c3.w1 = tri.w1 AND c3.w2 = tri.w2 AND c3.w3 = tri.w3
        |  LEFT JOIN c2 c2a ON c2a.w1 = tri.w1 AND c2a.w2 = tri.w2
        |  LEFT JOIN c2 c2b ON c2b.w1 = tri.w2 AND c2b.w2 = tri.w3
        |  LEFT JOIN c1 c1b ON c1b.t = tri.w2
        |  LEFT JOIN c1 c1c ON c1c.t = tri.w3, n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  round(avg(-ln(p)), 6) AS avg_neg_logprob
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // order-5 backoff: string gram keys (chr(1)-joined slices) stand in
    // for the xxhash64 keys — counts are identical, every backoff level
    // replayed with the same left-associative alpha products
    "ngram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM d),
        |g AS (SELECT doc_id,
        |  w[i] AS g1,
        |  CASE WHEN i >= 2 THEN array_to_string(w[i-1:i], chr(1)) END AS g2,
        |  CASE WHEN i >= 3 THEN array_to_string(w[i-2:i], chr(1)) END AS g3,
        |  CASE WHEN i >= 4 THEN array_to_string(w[i-3:i], chr(1)) END AS g4,
        |  CASE WHEN i >= 5 THEN array_to_string(w[i-4:i], chr(1)) END AS g5,
        |  CASE WHEN i >= 2 THEN w[i-1] END AS d2,
        |  CASE WHEN i >= 3 THEN array_to_string(w[i-2:i-1], chr(1)) END AS d3,
        |  CASE WHEN i >= 4 THEN array_to_string(w[i-3:i-1], chr(1)) END AS d4,
        |  CASE WHEN i >= 5 THEN array_to_string(w[i-4:i-1], chr(1)) END AS d5
        |  FROM pos),
        |refg AS (SELECT * FROM g WHERE doc_id < 250),
        |scg AS (SELECT * FROM g WHERE doc_id >= 250 AND g5 IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM refg),
        |c1 AS (SELECT g1 AS k, count(*) AS c FROM refg GROUP BY 1),
        |c2 AS (SELECT g2 AS k, count(*) AS c FROM refg WHERE g2 IS NOT NULL GROUP BY 1),
        |c3 AS (SELECT g3 AS k, count(*) AS c FROM refg WHERE g3 IS NOT NULL GROUP BY 1),
        |c4 AS (SELECT g4 AS k, count(*) AS c FROM refg WHERE g4 IS NOT NULL GROUP BY 1),
        |c5 AS (SELECT g5 AS k, count(*) AS c FROM refg WHERE g5 IS NOT NULL GROUP BY 1),
        |p AS (SELECT scg.doc_id,
        |  CASE WHEN n5.c IS NOT NULL THEN CAST(n5.c AS DOUBLE) / d5c.c
        |       WHEN n4.c IS NOT NULL THEN 0.4 * CAST(n4.c AS DOUBLE) / d4c.c
        |       WHEN n3.c IS NOT NULL THEN 0.4*0.4 * CAST(n3.c AS DOUBLE) / d3c.c
        |       WHEN n2.c IS NOT NULL THEN 0.4*0.4*0.4 * CAST(n2.c AS DOUBLE) / d2c.c
        |       ELSE 0.4*0.4*0.4*0.4 * CAST(coalesce(n1.c, 0.5) AS DOUBLE) / n.n END AS p
        |  FROM scg
        |  LEFT JOIN c5 n5 ON n5.k = scg.g5
        |  LEFT JOIN c4 n4 ON n4.k = scg.g4
        |  LEFT JOIN c4 d5c ON d5c.k = scg.d5
        |  LEFT JOIN c3 n3 ON n3.k = scg.g3
        |  LEFT JOIN c3 d4c ON d4c.k = scg.d4
        |  LEFT JOIN c2 n2 ON n2.k = scg.g2
        |  LEFT JOIN c2 d3c ON d3c.k = scg.d3
        |  LEFT JOIN c1 n1 ON n1.k = scg.g1
        |  LEFT JOIN c1 d2c ON d2c.k = scg.d2, n),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |        round(avg(-ln(p)), 6) AS avg_neg_logprob
        |        FROM p GROUP BY doc_id)
        |SELECT doc_id, n_ngrams, avg_neg_logprob FROM agg ORDER BY doc_id""".stripMargin,
    // CCNet bucketing: the SAME order-5 backoff chain, then perplexity,
    // per-language quantile_cont terciles (Spark's exact percentile is
    // the identical lerp), and the strict-< band compare that mirrors
    // groupedBinning's count-of-edges<=v convention
    "perplexity_buckets" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM d),
        |g AS (SELECT doc_id,
        |  w[i] AS g1,
        |  CASE WHEN i >= 2 THEN array_to_string(w[i-1:i], chr(1)) END AS g2,
        |  CASE WHEN i >= 3 THEN array_to_string(w[i-2:i], chr(1)) END AS g3,
        |  CASE WHEN i >= 4 THEN array_to_string(w[i-3:i], chr(1)) END AS g4,
        |  CASE WHEN i >= 5 THEN array_to_string(w[i-4:i], chr(1)) END AS g5,
        |  CASE WHEN i >= 2 THEN w[i-1] END AS d2,
        |  CASE WHEN i >= 3 THEN array_to_string(w[i-2:i-1], chr(1)) END AS d3,
        |  CASE WHEN i >= 4 THEN array_to_string(w[i-3:i-1], chr(1)) END AS d4,
        |  CASE WHEN i >= 5 THEN array_to_string(w[i-4:i-1], chr(1)) END AS d5
        |  FROM pos),
        |refg AS (SELECT * FROM g WHERE doc_id < 250),
        |scg AS (SELECT * FROM g WHERE doc_id >= 250 AND g5 IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM refg),
        |c1 AS (SELECT g1 AS k, count(*) AS c FROM refg GROUP BY 1),
        |c2 AS (SELECT g2 AS k, count(*) AS c FROM refg WHERE g2 IS NOT NULL GROUP BY 1),
        |c3 AS (SELECT g3 AS k, count(*) AS c FROM refg WHERE g3 IS NOT NULL GROUP BY 1),
        |c4 AS (SELECT g4 AS k, count(*) AS c FROM refg WHERE g4 IS NOT NULL GROUP BY 1),
        |c5 AS (SELECT g5 AS k, count(*) AS c FROM refg WHERE g5 IS NOT NULL GROUP BY 1),
        |p AS (SELECT scg.doc_id,
        |  CASE WHEN n5.c IS NOT NULL THEN CAST(n5.c AS DOUBLE) / d5c.c
        |       WHEN n4.c IS NOT NULL THEN 0.4 * CAST(n4.c AS DOUBLE) / d4c.c
        |       WHEN n3.c IS NOT NULL THEN 0.4*0.4 * CAST(n3.c AS DOUBLE) / d3c.c
        |       WHEN n2.c IS NOT NULL THEN 0.4*0.4*0.4 * CAST(n2.c AS DOUBLE) / d2c.c
        |       ELSE 0.4*0.4*0.4*0.4 * CAST(coalesce(n1.c, 0.5) AS DOUBLE) / n.n END AS p
        |  FROM scg
        |  LEFT JOIN c5 n5 ON n5.k = scg.g5
        |  LEFT JOIN c4 n4 ON n4.k = scg.g4
        |  LEFT JOIN c4 d5c ON d5c.k = scg.d5
        |  LEFT JOIN c3 n3 ON n3.k = scg.g3
        |  LEFT JOIN c3 d4c ON d4c.k = scg.d4
        |  LEFT JOIN c2 n2 ON n2.k = scg.g2
        |  LEFT JOIN c2 d3c ON d3c.k = scg.d3
        |  LEFT JOIN c1 n1 ON n1.k = scg.g1
        |  LEFT JOIN c1 d2c ON d2c.k = scg.d2, n),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |        round(avg(-ln(p)), 6) AS avg_neg_logprob
        |        FROM p GROUP BY doc_id),
        |px AS (SELECT agg.doc_id, dd.lang, agg.n_ngrams, agg.avg_neg_logprob,
        |       round(exp(agg.avg_neg_logprob), 6) AS perplexity
        |       FROM agg JOIN documents dd USING (doc_id)),
        |ed AS (SELECT lang,
        |       quantile_cont(perplexity, CAST(1 AS DOUBLE)/3) AS e1,
        |       quantile_cont(perplexity, CAST(2 AS DOUBLE)/3) AS e2
        |       FROM px GROUP BY lang)
        |SELECT px.doc_id, px.lang, px.n_ngrams, px.avg_neg_logprob, px.perplexity,
        |  CASE WHEN px.perplexity < ed.e1 THEN 'head'
        |       WHEN px.perplexity < ed.e2 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM px JOIN ed USING (lang) ORDER BY px.doc_id""".stripMargin,
    "label_centroids" ->
      """WITH e AS (SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings)
        |SELECT label, dim, round(avg(x), 6) AS mean_val
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "nearest_centroid" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |cell AS (SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |c AS (SELECT label, dim, round(avg(x), 6) AS m FROM cell GROUP BY 1, 2),
        |cn AS (SELECT label, sqrt(sum(m * m)) AS cnorm FROM c GROUP BY 1),
        |vn AS (SELECT vec_id, sqrt(sum(x * x)) AS vnorm FROM e GROUP BY 1),
        |d AS (SELECT e.vec_id, c.label, sum(e.x * c.m) AS dp
        |      FROM e JOIN c ON e.dim = c.dim GROUP BY 1, 2),
        |s AS (SELECT d.vec_id, d.label,
        |        round(dp / (vnorm * cnorm), 6) AS cosine
        |      FROM d JOIN vn ON d.vec_id = vn.vec_id JOIN cn ON d.label = cn.label),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY cosine DESC, label) AS rn FROM s)
        |SELECT vec_id, label AS pred_label, cosine FROM r WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "temperature_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS available FROM documents GROUP BY 1),
        |n AS (SELECT sum(pow(CAST(available AS DOUBLE), 0.5)) AS wsum FROM c)
        |SELECT lang, available,
        |  CAST(floor(400 * pow(CAST(available AS DOUBLE), 0.5) / wsum) AS BIGINT) AS target_n,
        |  round(least(CAST(1.0 AS DOUBLE),
        |        400 * pow(CAST(available AS DOUBLE), 0.5) / wsum / available), 6) AS rate,
        |  available < 400 * pow(CAST(available AS DOUBLE), 0.5) / wsum AS deficit
        |FROM c, n ORDER BY lang""".stripMargin,
    // ChatML render: DuckDB rebuilds the same synthetic conversations,
    // the ordered string_agg, and every mask span's offset arithmetic
    // (12 = len('<|im_start|>'), 10 = len('<|im_end|>'))
    "chat_sft_render" ->
      """WITH tt AS (
        |  SELECT doc_id % 20 AS conv_id, CAST(2 * (doc_id // 20) AS INT) AS turn_no,
        |    CASE WHEN (doc_id // 20) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    regexp_replace(text, '^[ \t\n\x0b\f\r]+', '') AS content
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id AS conv_id, -1 AS turn_no, 'system' AS role,
        |    'You are a concise assistant.' AS content
        |  FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id AS conv_id, 3 AS turn_no, 'tool' AS role,
        |    '{"result": ' || CAST(doc_id AS VARCHAR) || '}' AS content
        |  FROM documents WHERE doc_id < 20 AND doc_id % 4 = 1),
        |seg AS (SELECT conv_id, turn_no, role,
        |    CAST(12 + length(role) + 1 + length(content) + 10 + 1 AS BIGINT) AS len,
        |    '<|im_start|>' || role || chr(10) || content || '<|im_end|>' || chr(10) AS s
        |  FROM tt),
        |off AS (SELECT *,
        |    CAST(sum(len) OVER (PARTITION BY conv_id ORDER BY turn_no) AS BIGINT) AS e
        |  FROM seg),
        |conv AS (SELECT conv_id, string_agg(s, '' ORDER BY turn_no) AS text,
        |    CAST(count(*) AS BIGINT) AS n_turns,
        |    CAST(sum(CASE WHEN role = 'assistant'
        |         THEN len - 12 - length(role) - 2 ELSE 0 END) AS BIGINT) AS masked_chars
        |  FROM off GROUP BY conv_id),
        |spans AS (SELECT conv_id,
        |    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_no) - 1 AS INT) AS span_no,
        |    CAST(e - len + 12 + length(role) + 1 AS BIGINT) AS mask_start,
        |    CAST(e - 1 AS BIGINT) AS mask_end
        |  FROM off WHERE role = 'assistant')
        |SELECT sp.conv_id, c.text, c.n_turns, sp.span_no,
        |  sp.mask_start, sp.mask_end, c.masked_chars
        |FROM spans sp JOIN conv c USING (conv_id)
        |ORDER BY sp.conv_id, sp.span_no""".stripMargin,
    // loss mask: conversation shape and masked-char totals from the
    // same template arithmetic; the exactness flags are Spark-side
    // invariants asserted as literal TRUE
    "chat_token_loss_mask" ->
      """WITH tt AS (
        |  SELECT doc_id % 20 AS conv_id, CAST(2 * (doc_id // 20) AS INT) AS turn_no,
        |    CASE WHEN (doc_id // 20) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    regexp_replace(text, '^[ \t\n\x0b\f\r]+', '') AS content
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id AS conv_id, -1 AS turn_no, 'system' AS role,
        |    'You are a concise assistant.' AS content
        |  FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id AS conv_id, 3 AS turn_no, 'tool' AS role,
        |    '{"result": ' || CAST(doc_id AS VARCHAR) || '}' AS content
        |  FROM documents WHERE doc_id < 20 AND doc_id % 4 = 1)
        |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(CASE WHEN role = 'assistant'
        |       THEN length(content) + 10 ELSE 0 END) AS BIGINT) AS masked_chars,
        |  TRUE AS mask_exact, TRUE AS count_sane
        |FROM tt GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    // script profile: the same block-range classes replayed in RE2
    // (global replace), dominant = (count, name) struct max
    "script_profile" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN '中文语料质量检验文本'
        |       WHEN doc_id % 7 = 1 THEN text || ' привет мир тест'
        |       WHEN doc_id % 7 = 2 THEN text || ' נוסח עברי קצר'
        |       WHEN doc_id % 7 = 3 THEN '한국어 텍스트 표본'
        |       ELSE text END AS t
        |  FROM documents WHERE doc_id < 60),
        |c AS (SELECT doc_id,
        |  CAST(length(t) - length(regexp_replace(t, '[؀-ۿ]', '', 'g')) AS BIGINT) AS n_arabic,
        |  CAST(length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |  CAST(length(t) - length(regexp_replace(t, '[ऀ-ॿ]', '', 'g')) AS BIGINT) AS n_devanagari,
        |  CAST(length(t) - length(regexp_replace(t, '[Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS n_greek,
        |  CAST(length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')) AS BIGINT) AS n_han,
        |  CAST(length(t) - length(regexp_replace(t, '[가-힣]', '', 'g')) AS BIGINT) AS n_hangul,
        |  CAST(length(t) - length(regexp_replace(t, '[֐-׿]', '', 'g')) AS BIGINT) AS n_hebrew,
        |  CAST(length(t) - length(regexp_replace(t, '[぀-ヿ]', '', 'g')) AS BIGINT) AS n_kana,
        |  CAST(length(t) - length(regexp_replace(t, '[A-Za-zÀ-ÖØ-öø-ɏ]', '', 'g')) AS BIGINT) AS n_latin
        |  FROM d),
        |tot AS (SELECT *, n_arabic + n_cyrillic + n_devanagari + n_greek + n_han
        |          + n_hangul + n_hebrew + n_kana + n_latin AS n_script_chars FROM c),
        |u AS (SELECT doc_id, 'arabic' AS s, n_arabic AS n FROM c
        |  UNION ALL SELECT doc_id, 'cyrillic', n_cyrillic FROM c
        |  UNION ALL SELECT doc_id, 'devanagari', n_devanagari FROM c
        |  UNION ALL SELECT doc_id, 'greek', n_greek FROM c
        |  UNION ALL SELECT doc_id, 'han', n_han FROM c
        |  UNION ALL SELECT doc_id, 'hangul', n_hangul FROM c
        |  UNION ALL SELECT doc_id, 'hebrew', n_hebrew FROM c
        |  UNION ALL SELECT doc_id, 'kana', n_kana FROM c
        |  UNION ALL SELECT doc_id, 'latin', n_latin FROM c),
        |dom AS (SELECT doc_id, max(struct_pack(c := n, s := s)) AS m
        |        FROM u WHERE n > 0 GROUP BY doc_id)
        |SELECT t.doc_id, t.n_arabic, t.n_cyrillic, t.n_devanagari, t.n_greek,
        |  t.n_han, t.n_hangul, t.n_hebrew, t.n_kana, t.n_latin,
        |  t.n_script_chars, dom.m.s AS dominant_script,
        |  round(dom.m.c * 1.0 / t.n_script_chars, 6) AS dominant_frac,
        |  coalesce((t.n_script_chars - dom.m.c) * 1.0
        |           > 0.05 * t.n_script_chars, FALSE) AS script_mixed
        |FROM tot t LEFT JOIN dom USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // ROUGE-L kernel: every variant's LCS is subsequence arithmetic
    "rouge_l_score" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents WHERE doc_id < 40),
        |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM d),
        |v AS (
        |  SELECT doc_id, 'alt' AS variant, n AS n_a,
        |    (n + 1) // 2 AS n_b, (n + 1) // 2 AS lcs FROM n
        |  UNION ALL SELECT doc_id, 'copy', n, n, n FROM n
        |  UNION ALL SELECT doc_id, 'disjoint', n, n, 0 FROM n
        |  UNION ALL SELECT doc_id, 'half', n, n // 2, n // 2 FROM n)
        |SELECT doc_id, variant, n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(lcs AS BIGINT) AS lcs,
        |  CASE WHEN n_a + n_b = 0 THEN NULL
        |       ELSE round(2.0 * lcs / (n_a + n_b), 6) END AS rouge_l
        |FROM v ORDER BY doc_id, variant""".stripMargin,
    // blocked ROUGE dedup at 0.9: survivors are exactly the token-equal
    // pairs (planted copies; any accidental token-equal pair would
    // satisfy the same rule on both sides)
    "rouge_dedup_pairs" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents WHERE doc_id < 40),
        |corpus AS (
        |  SELECT doc_id, toks FROM d
        |  UNION ALL SELECT doc_id + 100000, toks FROM d
        |  UNION ALL SELECT doc_id + 200000, toks[1 : len(toks) // 2] FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(a.toks) AS INT) AS lcs, 1.0 AS rouge_l
        |FROM corpus a JOIN corpus b
        |  ON a.doc_id < b.doc_id AND len(a.toks) > 0 AND a.toks = b.toks
        |ORDER BY id_a, id_b""".stripMargin,
    // UniMax: the water level λ* is the λ_i of the FIRST uncapped
    // stratum in (cap asc, stratum) order — cum sums add in that same
    // order in both engines, so the doubles replay bit for bit
    "unimax_plan" ->
      """WITH tok AS (SELECT lang,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS nt
        |  FROM documents),
        |g AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS corpus_tokens FROM tok GROUP BY lang),
        |c AS (SELECT lang, corpus_tokens, corpus_tokens * 1.5 AS cap_tokens FROM g),
        |w AS (SELECT *, row_number() OVER (ORDER BY cap_tokens, lang) AS i,
        |        count(*) OVER () AS L,
        |        coalesce(sum(cap_tokens) OVER (ORDER BY cap_tokens, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum
        |      FROM c),
        |lam AS (SELECT (30000.0 - cum) / (L - i + 1) AS lamstar FROM w
        |        WHERE cap_tokens >= (30000.0 - cum) / (L - i + 1)
        |        ORDER BY i LIMIT 1),
        |b AS (SELECT w.lang, w.corpus_tokens, w.cap_tokens,
        |        CASE WHEN lam.lamstar IS NULL THEN w.cap_tokens
        |             ELSE least(w.cap_tokens, lam.lamstar) END AS bud,
        |        (lam.lamstar IS NULL OR w.cap_tokens < lam.lamstar) AS capped
        |      FROM w LEFT JOIN lam ON TRUE)
        |SELECT lang, corpus_tokens, cap_tokens,
        |  round(bud, 6) AS budget_tokens,
        |  round(bud / corpus_tokens, 6) AS rate, capped
        |FROM b ORDER BY lang""".stripMargin,
    "unimax_sample" ->
      """WITH tok AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS nt
        |  FROM documents),
        |g AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS corpus_tokens FROM tok GROUP BY lang),
        |c AS (SELECT lang, corpus_tokens, corpus_tokens * 1.5 AS cap_tokens FROM g),
        |w AS (SELECT *, row_number() OVER (ORDER BY cap_tokens, lang) AS i,
        |        count(*) OVER () AS L,
        |        coalesce(sum(cap_tokens) OVER (ORDER BY cap_tokens, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum
        |      FROM c),
        |lam AS (SELECT (30000.0 - cum) / (L - i + 1) AS lamstar FROM w
        |        WHERE cap_tokens >= (30000.0 - cum) / (L - i + 1)
        |        ORDER BY i LIMIT 1),
        |r AS (SELECT w.lang,
        |        round(CASE WHEN lam.lamstar IS NULL THEN w.cap_tokens
        |              ELSE least(w.cap_tokens, lam.lamstar) END
        |              / w.corpus_tokens, 6) AS rate
        |      FROM w LEFT JOIN lam ON TRUE),
        |d AS (SELECT t.doc_id, t.lang, r.rate,
        |        CAST(floor(r.rate) AS INT) AS fl,
        |        (CAST('0x' || substring(md5('umx:13:' || CAST(t.doc_id AS VARCHAR)), 1, 13)
        |          AS BIGINT) + 0.5) / 4503599627370496.0 AS u
        |      FROM tok t JOIN r USING (lang)),
        |x AS (SELECT doc_id, lang, rate, fl, u,
        |        unnest(range(fl + 1)) AS e FROM d)
        |SELECT doc_id, lang, CAST(e AS INT) AS epoch FROM x
        |WHERE e < fl OR u < rate - fl
        |ORDER BY doc_id, epoch""".stripMargin,
    // FIM: the full rewritten string replayed — same md5 draws, same
    // code-point substring arithmetic, both sentinel layouts
    "fim_transform" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |r AS (SELECT doc_id, text, n,
        |  (CAST('0x' || substring(md5('fim:7:' || CAST(doc_id AS VARCHAR) || ':apply'), 1, 13)
        |    AS BIGINT) + 0.5) / 4503599627370496.0 < 0.8 AS applied,
        |  (CAST('0x' || substring(md5('fim:7:' || CAST(doc_id AS VARCHAR) || ':mode'), 1, 13)
        |    AS BIGINT) + 0.5) / 4503599627370496.0 < 0.5 AS spm,
        |  CAST('0x' || substring(md5('fim:7:' || CAST(doc_id AS VARCHAR) || ':cut1'), 1, 13)
        |    AS BIGINT) % (n + 1) AS a,
        |  CAST('0x' || substring(md5('fim:7:' || CAST(doc_id AS VARCHAR) || ':cut2'), 1, 13)
        |    AS BIGINT) % (n + 1) AS b
        |  FROM d),
        |c AS (SELECT *, least(a, b) AS lo, greatest(a, b) AS hi FROM r)
        |SELECT doc_id, applied AS fim_applied,
        |  CASE WHEN NOT applied THEN 'none'
        |       WHEN spm THEN 'spm' ELSE 'psm' END AS fim_mode,
        |  CASE WHEN applied THEN lo END AS cut_lo,
        |  CASE WHEN applied THEN hi END AS cut_hi,
        |  CASE WHEN NOT applied THEN text
        |    WHEN spm THEN '<|fim_prefix|>' || '<|fim_suffix|>'
        |      || substring(text, CAST(hi + 1 AS INT), CAST(n - hi AS INT))
        |      || '<|fim_middle|>' || substring(text, 1, CAST(lo AS INT))
        |      || substring(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
        |    ELSE '<|fim_prefix|>' || substring(text, 1, CAST(lo AS INT))
        |      || '<|fim_suffix|>'
        |      || substring(text, CAST(hi + 1 AS INT), CAST(n - hi AS INT))
        |      || '<|fim_middle|>'
        |      || substring(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
        |  END AS fim_text
        |FROM c ORDER BY doc_id""".stripMargin,
    // span corruption: block draws (B=20, len uniform [1,5]) replayed,
    // then the input/target strings rebuilt token by token
    "span_corruption" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS nt,
        |  CAST(len(toks) // 20 AS INT) AS nb FROM d),
        |l AS (SELECT *, list_transform(range(nb), b ->
        |  1 + CAST('0x' || substring(md5('sc:0:' || CAST(doc_id AS VARCHAR)
        |    || ':' || CAST(b AS VARCHAR) || ':len'), 1, 13) AS BIGINT) % 5) AS lens
        |  FROM n),
        |o AS (SELECT *, list_transform(range(nb), b ->
        |  CAST('0x' || substring(md5('sc:0:' || CAST(doc_id AS VARCHAR)
        |    || ':' || CAST(b AS VARCHAR) || ':off'), 1, 13) AS BIGINT)
        |    % (20 - lens[CAST(b AS INT) + 1] + 1)) AS offs
        |  FROM l)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_spans,
        |  CAST(coalesce(list_sum(lens), 0) AS BIGINT) AS n_masked_tokens,
        |  CASE WHEN nt = 0 THEN '' ELSE coalesce(array_to_string(list_filter(
        |    list_transform(range(nt), i -> CASE
        |      WHEN i // 20 < nb AND i % 20 = offs[CAST(i // 20 AS INT) + 1]
        |        THEN '<extra_id_' || CAST(i // 20 AS VARCHAR) || '>'
        |      WHEN i // 20 < nb AND i % 20 >= offs[CAST(i // 20 AS INT) + 1]
        |           AND i % 20 < offs[CAST(i // 20 AS INT) + 1]
        |                        + lens[CAST(i // 20 AS INT) + 1]
        |        THEN NULL
        |      ELSE toks[CAST(i AS INT) + 1] END),
        |    x -> x IS NOT NULL), ' '), '') END AS span_input,
        |  array_to_string(flatten(list_concat(
        |    list_transform(range(nb), b -> list_concat(
        |      ['<extra_id_' || CAST(b AS VARCHAR) || '>'],
        |      toks[CAST(b * 20 + offs[CAST(b AS INT) + 1] + 1 AS INT) :
        |           CAST(b * 20 + offs[CAST(b AS INT) + 1]
        |                + lens[CAST(b AS INT) + 1] AS INT)])),
        |    [['<extra_id_' || CAST(nb AS VARCHAR) || '>']])), ' ') AS span_target
        |FROM o ORDER BY doc_id""".stripMargin,
    "prefix_lm_split" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |c AS (SELECT doc_id, text, n,
        |  CAST('0x' || substring(md5('plm:11:' || CAST(doc_id AS VARCHAR) || ':cut'), 1, 13)
        |    AS BIGINT) % (n + 1) AS cut FROM d)
        |SELECT doc_id, cut,
        |  substring(text, 1, CAST(cut AS INT)) AS prefix_input,
        |  substring(text, CAST(cut + 1 AS INT), CAST(n - cut AS INT)) AS prefix_target
        |FROM c ORDER BY doc_id""".stripMargin,
    // ul2: assignment draw + paradigm tag + expected sentinel count per
    // denoiser (R blocks of 20, X blocks of 64, S none); the Spark side
    // COUNTS sentinels in the actual rewritten input
    "ul2_mix" ->
      """WITH d AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS nt,
        |  (CAST('0x' || substring(md5('ul2:3:' || CAST(doc_id AS VARCHAR) || ':task'), 1, 13)
        |    AS BIGINT) + 0.5) / 4503599627370496.0 AS u
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN u < 0.5 THEN 'R' WHEN u < 0.75 THEN 'S' ELSE 'X' END AS denoiser,
        |  CASE WHEN u < 0.5 THEN '[R]' WHEN u < 0.75 THEN '[S]' ELSE '[X]' END AS task_tag,
        |  CAST(CASE WHEN u < 0.5 THEN nt // 20
        |            WHEN u < 0.75 THEN 0 ELSE nt // 64 END AS BIGINT) AS n_sentinels
        |FROM d ORDER BY doc_id""".stripMargin,
    "sequence_packing" ->
      """WITH s AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT shard, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS e
        |  FROM s)
        |SELECT shard, doc_id, n_tokens,
        |  e - n_tokens AS start_offset,
        |  CASE WHEN n_tokens > 0 THEN (e - n_tokens) // 512 END AS first_seq,
        |  CASE WHEN n_tokens > 0 THEN (e - 1) // 512 END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN (e - 1) // 512 - (e - n_tokens) // 512 + 1 ELSE 0 END AS n_seqs,
        |  (e - n_tokens) % 512 AS offset_in_seq
        |FROM o ORDER BY shard, doc_id""".stripMargin,
    "packing_shards" ->
      """WITH s AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT shard, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS e
        |  FROM s)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  max((e - 1) // 512) + 1 AS n_seqs
        |FROM o GROUP BY shard ORDER BY shard""".stripMargin,
    // no-split bin packing: DuckDB re-runs the exact next-fit fold as a
    // recursive CTE — per shard, docs in id order thread a (bin, fill)
    // state; zero-token docs pass state through with null placement,
    // oversize docs take a bin of their own
    "bin_packing" ->
      (binPackFoldSql(binPackPlantedCountsSql, 128) +
        """SELECT CAST(shard AS BIGINT) AS shard, doc_id, n AS n_tokens,
          |  CAST(out_bin AS BIGINT) AS bin_id,
          |  CAST(out_off AS BIGINT) AS offset_in_bin,
          |  n > 128 AS truncated
          |FROM f ORDER BY shard, doc_id""".stripMargin),
    "bin_packing_stats" ->
      (binPackFoldSql(binPackPlantedCountsSql, 128) +
        """SELECT CAST(shard AS BIGINT) AS shard,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(coalesce(max(out_bin) + 1, 0) AS BIGINT) AS n_bins,
          |  CAST(sum(CASE WHEN out_bin IS NOT NULL THEN least(n, 128) ELSE 0 END)
          |    AS BIGINT) AS packed_tokens,
          |  CAST(sum(CASE WHEN n > 128 THEN n - 128 ELSE 0 END) AS BIGINT)
          |    AS truncated_tokens,
          |  CAST(coalesce(max(out_bin) + 1, 0) * 128
          |    - sum(CASE WHEN out_bin IS NOT NULL THEN least(n, 128) ELSE 0 END)
          |    AS BIGINT) AS padding_tokens,
          |  round(CAST(sum(CASE WHEN out_bin IS NOT NULL THEN least(n, 128) ELSE 0 END)
          |      AS DOUBLE)
          |    / (CAST(coalesce(max(out_bin) + 1, 0) AS DOUBLE) * 128), 6) AS efficiency
          |FROM f GROUP BY shard ORDER BY shard""".stripMargin),
    // interleaved multimodal plan: the fold runs on EFFECTIVE lengths
    // (text + patch slots), then the per-asset slot arithmetic (clamped
    // position + running earlier-patch sum + bin offset) replays as a
    // window over the synthetic asset set
    "interleaved_pack" ->
      (binPackFoldSql(
        """
          |  SELECT doc_id, doc_id % 4 AS shard,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END
          |      + CASE WHEN doc_id % 5 = 0 THEN 7 ELSE 0 END
          |      + CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 0 END AS BIGINT) AS n
          |  FROM documents WHERE doc_id < 200""".stripMargin, 128) +
        """,nt AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          |      AS ntext
          |  FROM documents WHERE doc_id < 200),
          |a AS (
          |  SELECT doc_id, doc_id * 10 + 1 AS asset_id,
          |    CAST(5 AS BIGINT) AS position, CAST(7 AS BIGINT) AS patch
          |  FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
          |  UNION ALL
          |  SELECT doc_id, doc_id * 10 + 2, CAST(0 AS BIGINT), CAST(3 AS BIGINT)
          |  FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0),
          |pl AS (
          |  SELECT a.doc_id, a.asset_id, a.patch,
          |    least(greatest(a.position, 0), nt.ntext) AS pos,
          |    coalesce(sum(a.patch) OVER (
          |      PARTITION BY a.doc_id
          |      ORDER BY least(greatest(a.position, 0), nt.ntext), a.asset_id)
          |      - a.patch, 0) AS preceding_patches
          |  FROM a JOIN nt USING (doc_id))
          |SELECT CAST(f.shard AS BIGINT) AS shard,
          |  CAST(f.out_bin AS BIGINT) AS bin_id,
          |  pl.doc_id AS doc, pl.asset_id,
          |  CAST(f.out_off + pl.pos + pl.preceding_patches AS BIGINT) AS start,
          |  pl.patch AS patch_tokens,
          |  (pl.pos + pl.preceding_patches + pl.patch > least(f.n, 128)) AS dropped
          |FROM pl JOIN f ON pl.doc_id = f.doc_id
          |WHERE f.out_bin IS NOT NULL
          |ORDER BY shard, bin_id, start, asset_id""".stripMargin),
    // materialized no-split bins: same fold on the REAL whitespace counts
    // (docs < 50, ctx 64), then per-bin length/boundary-token/member
    // re-derivation — the truncated-doc prefix rule is least(n, ctx)
    "packed_bins" ->
      (binPackFoldSql(
        """
          |  SELECT doc_id, doc_id % 4 AS shard,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n
          |  FROM documents WHERE doc_id < 50""".stripMargin, 64) +
        """,toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          |          FROM documents WHERE doc_id < 50)
          |SELECT CAST(f.shard AS BIGINT) AS shard,
          |  CAST(f.out_bin AS BIGINT) AS bin_id,
          |  CAST(sum(least(f.n, 64)) AS INT) AS seq_len,
          |  arg_min(toks.tk[1], f.out_off) AS first_tok,
          |  arg_max(toks.tk[CAST(least(f.n, 64) AS INT)], f.out_off) AS last_tok,
          |  CAST(count(*) AS INT) AS n_docs
          |FROM f JOIN toks USING (doc_id)
          |WHERE f.out_bin IS NOT NULL
          |GROUP BY f.shard, f.out_bin ORDER BY shard, bin_id""".stripMargin),
    "token_balanced_shards" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rk FROM m)
        |SELECT doc_id, n_tokens,
        |  CASE WHEN ((rk - 1) // 8) % 2 = 0 THEN (rk - 1) % 8
        |       ELSE 7 - (rk - 1) % 8 END AS shard
        |FROM r ORDER BY doc_id""".stripMargin,
    "fingerprints" ->
      """WITH n AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents),
        |g AS (SELECT norm, min(doc_id) AS fp_group,
        |    CAST(count(*) AS BIGINT) AS fp_class_size FROM n GROUP BY 1)
        |SELECT doc_id, fp_group, fp_class_size, TRUE AS shingle_consistent
        |FROM n JOIN g USING (norm) ORDER BY doc_id""".stripMargin,
    // interval-union identity mirrored: sum(least(k, next - pos)) over
    // sorted duplicated-gram starts per doc
    "dup_span_coverage" ->
      """WITH d0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text ||
        |      ' this shared promotional footer sentence repeats across many documents verbatim'
        |    ELSE text END AS text FROM documents),
        |d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM d0),
        |g0 AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
        |       FROM d WHERE len(w) >= 8),
        |g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |      array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gram
        |      FROM g0),
        |dup AS (SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS dfreq FROM g GROUP BY 1)
        |  WHERE dfreq >= 2),
        |st AS (SELECT doc_id, pos,
        |       lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |       FROM g WHERE gram IN (SELECT gram FROM dup)),
        |cov AS (SELECT doc_id,
        |        CAST(sum(LEAST(8, COALESCE(nxt - pos, 8))) AS BIGINT) AS dup_tokens
        |        FROM st GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  COALESCE(dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
        |  round(COALESCE(dup_tokens, 0) / GREATEST(len(w), 1), 6) AS dup_fraction
        |FROM d LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin,
    // span removal: DuckDB re-derives the duplicated-gram set, expands
    // each duplicated start to its k covered positions, anti-joins the
    // token positions, and rebuilds every document's surviving text in
    // position order — the full output text compared byte-for-byte
    "dedup_spans" ->
      """WITH d0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text ||
        |      ' this shared promotional footer sentence repeats across many documents verbatim'
        |    ELSE text END AS text FROM documents),
        |d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM d0),
        |g0 AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
        |       FROM d WHERE len(w) >= 8),
        |g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |      array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gram
        |      FROM g0),
        |dup AS (SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS dfreq FROM g GROUP BY 1)
        |  WHERE dfreq >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + off AS cpos
        |        FROM g, range(0, 8) t(off)
        |        WHERE gram IN (SELECT gram FROM dup)),
        |tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[CAST(i AS INT)] AS tok
        |        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d)),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                           WHERE c.doc_id = t.doc_id AND c.cpos = t.pos)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        string_agg(tok, ' ' ORDER BY pos) AS text_deduped
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
        |  COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        |  COALESCE(a.text_deduped, '') AS text_deduped
        |FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    text || chr(10) || 'Follow graft weekly for more.'
        |         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to the newsletter.'
        |                 ELSE '' END AS text
        |  FROM documents),
        |x AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos,
        |             unnest(ls) AS line
        |      FROM x),
        |c AS (SELECT line, count(DISTINCT doc_id) AS n FROM l GROUP BY line)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN n <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN n <= 1 THEN line END, chr(10) ORDER BY pos), '')
        |    AS text_deduped
        |FROM l JOIN c USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // paragraph dedup: same replay as line_dedup with the blank-line
    // split and a blank-line rejoin
    "paragraph_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    text || chr(10) || chr(10) || 'Shared footer paragraph here.'
        |         || CASE WHEN doc_id % 4 = 0
        |                 THEN chr(10) || chr(10) || 'Quarterly promo paragraph.'
        |                 ELSE '' END AS text
        |  FROM documents),
        |x AS (SELECT doc_id, string_split_regex(text, '\n{2,}') AS ls FROM d),
        |l AS (SELECT doc_id, CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos,
        |             unnest(ls) AS para
        |      FROM x),
        |c AS (SELECT para, count(DISTINCT doc_id) AS n FROM l GROUP BY para)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs,
        |  CAST(sum(CASE WHEN n <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN n <= 1 THEN para END,
        |    chr(10) || chr(10) ORDER BY pos), '') AS text_deduped
        |FROM l JOIN c USING (para)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "stratified_reservoir" ->
      """SELECT lang, CAST(rn AS INT) AS rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'r5') DESC) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY lang, rank""".stripMargin,
    "inverted_index" ->
      """WITH p AS (SELECT DISTINCT doc_id, u AS token FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS u
        |    FROM documents)
        |  WHERE len(u) >= 4)
        |SELECT token, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',') AS postings
        |FROM p GROUP BY token HAVING count(*) >= 5
        |ORDER BY token""".stripMargin)
}
