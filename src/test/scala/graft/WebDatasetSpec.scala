package graft

import java.nio.charset.StandardCharsets

import graft.io.WebDataset
import org.apache.spark.sql.functions._

/** WebDataset tar shards: ustar byte layout pinned by hand, distributed
  * write/read round-trip, sharding and member-adjacency contracts. */
class WebDatasetSpec extends SparkSpec {
  import spark.implicits._

  test("tarEntry: ustar header fields are byte-exact and checksummed") {
    val e = WebDataset.tarEntry("00042.txt", "hello".getBytes(StandardCharsets.UTF_8))
    assert(e.length === 1024, "header block + one padded data block")
    assert(new String(e, 0, 9, StandardCharsets.US_ASCII) === "00042.txt")
    assert(e(9) === 0)
    assert(new String(e, 100, 8, StandardCharsets.US_ASCII) === "0000644 ")
    assert(new String(e, 124, 12, StandardCharsets.US_ASCII) === "00000000005 ")
    // POSIX ustar magic: "ustar" NUL at 257, version "00" at 263 (strict
    // parsers like Go archive/tar key the format off these exact bytes)
    assert(new String(e, 257, 5, StandardCharsets.US_ASCII) === "ustar")
    assert(e(262) === 0)
    assert(new String(e, 263, 2, StandardCharsets.US_ASCII) === "00")
    // checksum recomputes: sum of header bytes with chksum field as
    // spaces; terminator is NUL + space per the ustar spec
    val header = java.util.Arrays.copyOf(e, 512)
    val stored = Integer.parseInt(
      new String(header, 148, 6, StandardCharsets.US_ASCII), 8)
    assert(header(154) === 0 && header(155) === ' '.toByte)
    java.util.Arrays.fill(header, 148, 156, ' '.toByte)
    assert(stored === header.map(_ & 0xff).sum)
    assert(new String(e, 512, 5, StandardCharsets.UTF_8) === "hello")
    assert(e.drop(517).forall(_ == 0), "data padded with zeros")
    // kernel round-trip through our own parser
    val back = WebDataset.tarEntries(
      new java.io.ByteArrayInputStream(e ++ WebDataset.tarTrailer), "mem").toSeq
    assert(back.map(_._1) === Seq("00042.txt"))
    assert(new String(back.head._2, StandardCharsets.UTF_8) === "hello")
  }

  test("shards round-trip: string + binary + null members, adjacency, sharding") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wds").toString
    val rows = (0 until 25).map { i =>
      (f"k$i%05d", s"text $i é中",
        if (i % 5 == 0) null else s"""{"id":$i}""",
        Array.tabulate(16)(j => (i * 16 + j).toByte))
    }.toDF("key", "text", "meta", "img")
    WebDataset.writeShards(rows.repartition(2), s"$dir/out", "key",
      Seq("text" -> "txt", "meta" -> "json", "img" -> "bin"), rowsPerShard = 10)

    val back = WebDataset.readShards(spark, Seq(s"$dir/out"))
    // null meta members were skipped (5 of them)
    assert(back.count() === 25 * 3 - 5)
    val texts = back.filter($"ext" === "txt")
      .select($"key", decode($"payload", "UTF-8").as("t"))
      .as[(String, String)].collect().toMap
    assert(texts("k00007") === "text 7 é中")
    val img3 = back.filter($"ext" === "bin" && $"key" === "k00003")
      .select("payload").as[Array[Byte]].head
    assert(img3.toSeq === Array.tabulate(16)(j => (3 * 16 + j).toByte).toSeq)
    // a key's members are ADJACENT inside their shard (the WebDataset
    // grouping contract): entries stream back in write order
    val shardFiles = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    assert(shardFiles.length >= 4, s"25 rows / 10-per-shard over 2 partitions: ${shardFiles.length}")
    shardFiles.foreach { f =>
      val names = WebDataset.tarEntries(
        new java.io.BufferedInputStream(new java.io.FileInputStream(f)), f.getName)
        .map(_._1).toSeq
      // members of one key are contiguous (one run per key)
      val keys = names.map(_.split("\\.")(0))
      val runs = keys.foldLeft(List.empty[String]) {
        case (acc, k) if acc.headOption.contains(k) => acc
        case (acc, k) => k :: acc
      }
      assert(runs.distinct.size === runs.size, s"key split across runs in $names")
    }
  }

  test("system tar cross-check: an external reader lists our members") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wds-x").toString
    WebDataset.writeShards(
      Seq(("a", "one"), ("b", "two")).toDF("key", "text").coalesce(1),
      s"$dir/out", "key", Seq("text" -> "txt"))
    val shard = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".tar")).head
    val listed = scala.sys.process.Process(Seq("tar", "-tf", shard.getAbsolutePath)).!!
    assert(listed.split("\n").toSet === Set("a.txt", "b.txt"), s"tar -tf said: $listed")
  }

  test("loud failures: null key, oversized member name, truncated shard") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wds-err").toString
    val bad = Seq((null.asInstanceOf[String], "x")).toDF("key", "text")
    val e = intercept[org.apache.spark.SparkException] {
      WebDataset.writeShards(bad, s"$dir/nullkey", "key", Seq("text" -> "txt"))
    }
    assert(e.getMessage.contains("null key") ||
      Option(e.getCause).exists(_.getMessage.contains("null key")))
    intercept[IllegalArgumentException] {
      WebDataset.tarEntry("k".padTo(120, 'x') + ".txt", Array.emptyByteArray)
    }
    // non-string/binary content column fails at call time with the column
    // named, not executor-side with a ClassCastException
    val typeErr = intercept[IllegalArgumentException] {
      WebDataset.writeShards(
        Seq((1, 2L)).toDF("key", "n"), s"$dir/ints", "key", Seq("n" -> "txt"))
    }
    assert(typeErr.getMessage.contains("'n'") && typeErr.getMessage.contains("bigint"))
    val whole = WebDataset.tarEntry("a.txt", "abc".getBytes) ++ WebDataset.tarTrailer
    val cut = java.util.Arrays.copyOfRange(whole, 0, 700)
    intercept[java.io.EOFException] {
      WebDataset.tarEntries(new java.io.ByteArrayInputStream(cut), "mem").toSeq
    }
  }

  test("re-export to the same dir replaces stale shards (overwrite semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wds-ow").toString
    def rows(prefix: String, n: Int) =
      (0 until n).map(i => (f"$prefix$i%05d", s"t$i")).toDF("key", "text")
    WebDataset.writeShards(rows("b", 25).repartition(2), s"$dir/out", "key",
      Seq("text" -> "txt"), rowsPerShard = 5)
    // fewer rows AND fewer partitions: the old layout has strictly more
    // shard files — a non-clearing writer would leave them behind
    WebDataset.writeShards(rows("s", 3).repartition(1), s"$dir/out", "key",
      Seq("text" -> "txt"), rowsPerShard = 5)
    def keys() = WebDataset.readShards(spark, Seq(s"$dir/out"))
      .select($"key").as[String].collect().toSet
    assert(keys() === Set("s00000", "s00001", "s00002"))
    // SELF-REFERENTIAL re-export: the job reads the directory it replaces
    val selfRef = WebDataset.readShards(spark, Seq(s"$dir/out"))
      .filter($"key" < "s00002")
      .select($"key", decode($"payload", "UTF-8").as("text"))
    WebDataset.writeShards(selfRef, s"$dir/out", "key", Seq("text" -> "txt"))
    assert(keys() === Set("s00000", "s00001"))
    assert(!new java.io.File(s"$dir/out").listFiles().exists(_.getName.startsWith(".staging")))
  }
}
