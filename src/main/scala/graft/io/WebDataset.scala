package graft.io

import java.io.{ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset-style tar shard export/ingest — the delivery format
  * large-scale (multimodal) training loaders consume: plain `.tar`
  * shards whose member names are `<key>.<extension>`, all members of
  * one key adjacent, shards sized for sequential streaming. Everything
  * here is the PUBLIC ustar layout (POSIX 1003.1-1988: 512-byte headers,
  * octal size field, trailing zero blocks) written/parsed directly — no
  * tar dependency.
  *
  * Scale shape mirrors [[Warc]]: the SHARD is the parallelism unit.
  * [[writeShards]] streams each partition into fixed-row-count shards
  * (one open file at a time, memory bounded by one row); [[readShards]]
  * lists on the driver and streams each shard entry-by-entry in one
  * task. Writes are deterministic byte-for-byte (mtime pinned to 0,
  * fixed uid/gid/mode), so identical input produces identical shards —
  * the same reproducibility contract as the parquet zones.
  *
  * A row becomes one tar member per content column: string columns are
  * written UTF-8, binary columns verbatim — `("text" -> "txt",
  * "meta" -> "json", "image" -> "jpg")` yields `<key>.txt`,
  * `<key>.json`, `<key>.jpg` adjacent under the row's key, which is the
  * WebDataset grouping convention loaders rely on. */
object WebDataset {

  private val BlockSize = 512

  // ------------------------------------------------------------ tar bytes

  /** One ustar member: 512-byte header + data padded to block size. */
  private[graft] def tarEntry(name: String, data: Array[Byte]): Array[Byte] = {
    val nameBytes = name.getBytes(StandardCharsets.UTF_8)
    require(nameBytes.length <= 100,
      s"tar member name over 100 bytes: $name (shorten the key/extension)")
    val header = new Array[Byte](BlockSize)
    def put(offset: Int, s: String): Unit = {
      val b = s.getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, header, offset, b.length)
    }
    System.arraycopy(nameBytes, 0, header, 0, nameBytes.length)
    put(100, "0000644 ")                      // mode
    put(108, "0000000 ")                      // uid
    put(116, "0000000 ")                      // gid
    put(124, f"${data.length}%011o ")         // size, octal
    put(136, "00000000000 ")                  // mtime 0: deterministic
    put(156, "0")                                  // typeflag: regular file
    put(257, "ustar")                     // POSIX magic "ustar\\0" + "00":
    put(263, "00"); header(262) = 0   // byte-exact ustar, not v7
    // checksum: header with the chksum field as spaces
    java.util.Arrays.fill(header, 148, 156, ' '.toByte)
    var sum = 0
    var i = 0
    while (i < BlockSize) { sum += header(i) & 0xff; i += 1 }
    put(148, f"$sum%06o"); header(154) = 0; header(155) = ' '.toByte
    val padded = (data.length + BlockSize - 1) / BlockSize * BlockSize
    val out = new Array[Byte](BlockSize + padded)
    System.arraycopy(header, 0, out, 0, BlockSize)
    System.arraycopy(data, 0, out, BlockSize, data.length)
    out
  }

  /** The two zero blocks that terminate a tar stream. */
  private[graft] def tarTrailer: Array[Byte] = new Array[Byte](2 * BlockSize)

  /** Lazily parse (name, data) members of one tar stream; closes `in`
    * at the terminator or EOF. */
  private[graft] def tarEntries(in: InputStream, file: String): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private var nextEntry: (String, Array[Byte]) = _
      private var done = false

      private def readBlock(buf: Array[Byte]): Boolean = {
        var off = 0
        while (off < BlockSize) {
          val n = in.read(buf, off, BlockSize - off)
          if (n < 0) {
            if (off == 0) return false
            throw new EOFException(s"$file: truncated tar header")
          }
          off += n
        }
        true
      }

      private def advance(): Unit = {
        val header = new Array[Byte](BlockSize)
        if (!readBlock(header) || header.forall(_ == 0)) {
          done = true; nextEntry = null; in.close(); return
        }
        val nameEnd = header.indexOf(0.toByte) match { case -1 => 100; case i => math.min(i, 100) }
        val name = new String(header, 0, nameEnd, StandardCharsets.UTF_8)
        val sizeStr = new String(header, 124, 12, StandardCharsets.US_ASCII)
          .takeWhile(c => c >= '0' && c <= '7')
        val size = java.lang.Long.parseLong(if (sizeStr.isEmpty) "0" else sizeStr, 8)
        require(size <= Int.MaxValue, s"$file: tar member $name of $size bytes unsupported")
        val data = new Array[Byte](size.toInt)
        var off = 0
        while (off < size) {
          val n = in.read(data, off, size.toInt - off)
          if (n < 0) throw new EOFException(s"$file: truncated tar member $name")
          off += n
        }
        val pad = ((size + BlockSize - 1) / BlockSize * BlockSize - size).toInt
        var skipped = 0L
        while (skipped < pad) {
          val n = in.skip(pad - skipped)
          if (n <= 0) throw new EOFException(s"$file: truncated tar padding after $name")
          skipped += n
        }
        nextEntry = (name, data)
      }

      advance()
      override def hasNext: Boolean = !done
      override def next(): (String, Array[Byte]) = {
        if (done) throw new NoSuchElementException("tar exhausted")
        val e = nextEntry; advance(); e
      }
    }

  // ------------------------------------------------------------ the write

  /** Write `df` as WebDataset tar shards under `dir`:
    * `shard-<partition>-<k>.tar`, at most `rowsPerShard` keys per shard,
    * one member per (row, content column) named `<key>.<ext>`. String
    * columns land UTF-8, binary columns verbatim; null cells skip their
    * member (the WebDataset optional-field convention). Keys must be
    * unique per row ([[readShards]] groups by them). The shards are staged
    * in a hidden directory and published with [[Publish.replaceFiles]]:
    * a re-export to the same `dir` replaces the old shards. */
  def writeShards(
      df: DataFrame,
      dir: String,
      keyCol: String,
      contentCols: Seq[(String, String)],
      rowsPerShard: Int = 1000): Unit = {
    require(contentCols.nonEmpty, "writeShards needs at least one content column")
    require(rowsPerShard > 0, s"rowsPerShard must be > 0, got $rowsPerShard")
    contentCols.foreach { case (c, _) =>
      val dt = df.schema(c).dataType
      require(dt == org.apache.spark.sql.types.StringType ||
          dt == org.apache.spark.sql.types.BinaryType,
        s"writeShards: content column '$c' is ${dt.simpleString} — members are " +
          "written as raw bytes, so cast it to string (or binary) explicitly first")
    }
    val projected = df.select(
      col(keyCol).cast("string").as("__key") +:
        contentCols.map { case (c, _) => col(c) }: _*)
    val isBinary = contentCols.map { case (c, _) =>
      df.schema(c).dataType == org.apache.spark.sql.types.BinaryType }
    val exts = contentCols.map(_._2)
    val kv = ShardFiles.confEntries(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = Publish.stagingDir(dir)
    val dirStr = staging.toString
    val perShard = rowsPerShard
    val written = projected.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val c = ShardFiles.confOf(kv)
      var out: org.apache.hadoop.fs.FSDataOutputStream = null
      var shard = -1
      var inShard = 0
      var n = 0L
      def roll(fs: org.apache.hadoop.fs.FileSystem): Unit = {
        if (out != null) { out.write(tarTrailer); out.close() }
        shard += 1; inShard = 0
        out = fs.create(
          new org.apache.hadoop.fs.Path(f"$dirStr%s/shard-$pid%05d-$shard%04d.tar"), true)
      }
      val fs = new org.apache.hadoop.fs.Path(dirStr)
        .getFileSystem(c)
      it.foreach { row =>
        require(!row.isNullAt(0), s"writeShards: null key at row $n of partition $pid")
        if (out == null || inShard >= perShard) roll(fs)
        val key = row.getUTF8String(0).toString
        var i = 0
        while (i < exts.length) {
          if (!row.isNullAt(i + 1)) {
            val bytes =
              if (isBinary(i)) row.getBinary(i + 1)
              else row.getUTF8String(i + 1).toString.getBytes(StandardCharsets.UTF_8)
            out.write(tarEntry(s"$key.${exts(i)}", bytes))
          }
          i += 1
        }
        inShard += 1; n += 1
      }
      if (out != null) { out.write(tarTrailer); out.close() }
      Iterator.single(n)
    }.sum()
    require(written >= 0) // forces the job
    Publish.replaceFiles(df.sparkSession, staging, "shard-*.tar")
  }

  /** Read WebDataset shards back as one row per (shard, key, ext):
    * (shard_file, key, ext, payload BINARY). Driver lists, one task per
    * shard, entry-streaming — [[Warc.readWarc]]'s shape. Use
    * `groupBy(key).pivot(ext)` or a self-join to reassemble multi-member
    * samples. */
  def readShards(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    ShardFiles.read(spark, paths, "readShards") { (raw, f) =>
      tarEntries(raw, f).map { case (name, data) =>
        val dot = name.lastIndexOf('.')
        val (key, ext) = if (dot < 0) (name, "") else (name.take(dot), name.drop(dot + 1))
        (f, key, ext, data)
      }
    }.toDF("shard_file", "key", "ext", "payload")
  }
}
