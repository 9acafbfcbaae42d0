package graft.io

import java.io.{EOFException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TFRecord shard export/ingest — the OTHER public trainer delivery
  * format next to [[WebDataset]] tar shards: the TensorFlow record
  * container (fixed framing: u64-LE length, masked CRC32C of the length
  * bytes, payload, masked CRC32C of the payload) holding `tf.train.
  * Example` protos (a protobuf `Features` map of bytes/float/int64
  * lists). Both layers are written and parsed directly from the
  * published wire formats — no TensorFlow or protobuf dependency, every
  * byte pinnable in a spec.
  *
  * Scale shape mirrors [[WebDataset]]: the SHARD is the parallelism
  * unit. [[writeShards]] streams each partition into fixed-row-count
  * shards (one open file, memory bounded by one row); [[readShards]] /
  * [[readExamples]] list on the driver and stream each shard
  * record-by-record in one task, verifying both CRCs. Writes are
  * deterministic byte-for-byte (features serialize in the caller's
  * column order), the same reproducibility contract as the tar writer.
  *
  * Feature typing follows the tf.Example convention: string/binary
  * columns → bytes_list, integral columns → int64_list, float/double →
  * float_list (float32 on the wire — the proto field IS 32-bit; doubles
  * are narrowed, the documented precision loss of the format). */
object TfRecord {

  // ------------------------------------------------------- CRC + framing

  /** TFRecord's masked CRC32C: `((crc >> 15) | (crc << 17)) + 0xa282ead8`
    * over the Castagnoli CRC of `bytes` (the published masking that keeps
    * CRCs of CRC-bearing data well-distributed). */
  private[graft] def maskedCrc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes, off, len)
    val crc = c.getValue.toInt // CRC32C is 32-bit; the int cast is exact
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  private[graft] def maskedCrc32c(bytes: Array[Byte]): Int =
    maskedCrc32c(bytes, 0, bytes.length)

  /** One framed TFRecord: length u64-LE + masked CRC of those 8 bytes +
    * payload + masked CRC of the payload. */
  private[graft] def record(data: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + 4 + data.length + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    val lenBytes = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(data.length.toLong).array()
    out.put(lenBytes)
    out.putInt(maskedCrc32c(lenBytes))
    out.put(data)
    out.putInt(maskedCrc32c(data))
    out.array()
  }

  /** Lazily parse the records of one TFRecord stream, verifying both
    * CRCs; closes `in` at EOF. */
  private[graft] def records(in: InputStream, file: String): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private var nextRec: Array[Byte] = _
      private var done = false

      private def readFully(buf: Array[Byte], allowEof: Boolean): Boolean = {
        var off = 0
        while (off < buf.length) {
          val n = in.read(buf, off, buf.length - off)
          if (n < 0) {
            if (off == 0 && allowEof) return false
            throw new EOFException(s"$file: truncated tfrecord")
          }
          off += n
        }
        true
      }

      private def readLeInt(): Int = {
        val b = new Array[Byte](4)
        readFully(b, allowEof = false)
        ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
      }

      private def advance(): Unit = {
        val lenBytes = new Array[Byte](8)
        if (!readFully(lenBytes, allowEof = true)) {
          done = true; nextRec = null; in.close(); return
        }
        val lenCrc = readLeInt()
        require(lenCrc == maskedCrc32c(lenBytes),
          s"$file: length CRC mismatch (corrupt shard)")
        val len = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getLong
        require(len >= 0 && len <= Int.MaxValue, s"$file: record of $len bytes unsupported")
        val data = new Array[Byte](len.toInt)
        readFully(data, allowEof = false)
        val dataCrc = readLeInt()
        require(dataCrc == maskedCrc32c(data),
          s"$file: payload CRC mismatch (corrupt shard)")
        nextRec = data
      }

      advance()
      override def hasNext: Boolean = !done
      override def next(): Array[Byte] = {
        if (done) throw new NoSuchElementException("tfrecord exhausted")
        val r = nextRec; advance(); r
      }
    }

  // ------------------------------------------------- tf.Example protobuf

  private def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def varintLen(v0: Long): Int = {
    var v = v0; var n = 1
    while ((v & ~0x7fL) != 0) { n += 1; v >>>= 7 }
    n
  }

  private def lenDelim(out: java.io.ByteArrayOutputStream, field: Int,
      body: Array[Byte]): Unit = {
    varint(out, (field << 3) | 2)
    varint(out, body.length.toLong)
    out.write(body)
  }

  /** Serialized `Feature` proto: exactly one of bytes_list (field 1) /
    * float_list (field 2) / int64_list (field 3), each a message whose
    * `value` field is 1 (bytes repeated len-delim; floats packed fixed32;
    * int64s packed varint). */
  private[graft] def featureBytes(value: Either[Array[Byte], Either[Seq[Float], Seq[Long]]]): Array[Byte] = {
    val inner = new java.io.ByteArrayOutputStream()
    value match {
      case Left(bytes) => // BytesList { value: repeated bytes (field 1) }
        lenDelim(inner, 1, bytes)
      case Right(Left(floats)) => // FloatList { value: repeated float, packed }
        val packed = ByteBuffer.allocate(4 * floats.length)
          .order(ByteOrder.LITTLE_ENDIAN)
        floats.foreach(packed.putFloat)
        lenDelim(inner, 1, packed.array())
      case Right(Right(longs)) => // Int64List { value: repeated int64, packed }
        val packed = new java.io.ByteArrayOutputStream()
        longs.foreach(varint(packed, _))
        lenDelim(inner, 1, packed.toByteArray)
    }
    val out = new java.io.ByteArrayOutputStream()
    val kindField = value match {
      case Left(_)         => 1 // bytes_list
      case Right(Left(_))  => 2 // float_list
      case Right(Right(_)) => 3 // int64_list
    }
    lenDelim(out, kindField, inner.toByteArray)
    out.toByteArray
  }

  /** Serialized `Example` proto: Example{ features: Features{ feature:
    * map<string, Feature> } }. Map entries serialize in the given order
    * (deterministic writes). */
  private[graft] def exampleBytes(features: Seq[(String, Array[Byte])]): Array[Byte] = {
    val featuresMsg = new java.io.ByteArrayOutputStream()
    features.foreach { case (name, feat) =>
      val entry = new java.io.ByteArrayOutputStream()
      lenDelim(entry, 1, name.getBytes(StandardCharsets.UTF_8)) // key
      lenDelim(entry, 2, feat)                                  // value
      lenDelim(featuresMsg, 1, entry.toByteArray)               // map entry
    }
    val out = new java.io.ByteArrayOutputStream()
    lenDelim(out, 1, featuresMsg.toByteArray) // Example.features
    out.toByteArray
  }

  /** Parse a serialized Example back to its feature map. Values come
    * back typed as the wire said: bytes → Array[Byte] (first element),
    * floats → Seq[Float], int64s → Seq[Long]. */
  private[graft] def parseExample(bytes: Array[Byte]): Map[String, Any] = {
    def fields(b: Array[Byte]): Seq[(Int, Array[Byte])] = {
      val out = Seq.newBuilder[(Int, Array[Byte])]
      var i = 0
      def rv(): Long = { // read varint at i
        var shift = 0; var v = 0L
        var go = true
        while (go) {
          val x = b(i) & 0xff; i += 1
          v |= (x & 0x7fL) << shift; shift += 7
          go = (x & 0x80) != 0
        }
        v
      }
      while (i < b.length) {
        val tag = rv()
        val field = (tag >> 3).toInt
        (tag & 7) match {
          case 2 =>
            val len = rv().toInt
            out += field -> java.util.Arrays.copyOfRange(b, i, i + len)
            i += len
          case 0 =>
            val v = rv()
            val enc = new java.io.ByteArrayOutputStream()
            varint(enc, v)
            out += field -> enc.toByteArray
          case 5 =>
            out += field -> java.util.Arrays.copyOfRange(b, i, i + 4); i += 4
          case 1 =>
            out += field -> java.util.Arrays.copyOfRange(b, i, i + 8); i += 8
          case w => sys.error(s"unsupported wire type $w in tf.Example")
        }
      }
      out.result()
    }
    def varints(b: Array[Byte]): Seq[Long] = {
      val out = Seq.newBuilder[Long]
      var i = 0
      while (i < b.length) {
        var shift = 0; var v = 0L; var go = true
        while (go) {
          val x = b(i) & 0xff; i += 1
          v |= (x & 0x7fL) << shift; shift += 7
          go = (x & 0x80) != 0
        }
        out += v
      }
      out.result()
    }
    val featuresMsg = fields(bytes).collectFirst { case (1, b) => b }
      .getOrElse(Array.emptyByteArray)
    fields(featuresMsg).collect { case (1, entry) =>
      val fs = fields(entry)
      val name = new String(fs.collectFirst { case (1, b) => b }.get,
        StandardCharsets.UTF_8)
      val feat = fs.collectFirst { case (2, b) => b }.get
      val value: Any = fields(feat).headOption match {
        case Some((1, bl)) => // bytes_list: first value
          fields(bl).collectFirst { case (1, b) => b }.getOrElse(Array.emptyByteArray)
        case Some((2, fl)) => // float_list, packed fixed32
          val packed = fields(fl).collectFirst { case (1, b) => b }
            .getOrElse(Array.emptyByteArray)
          val bb = ByteBuffer.wrap(packed).order(ByteOrder.LITTLE_ENDIAN)
          Seq.fill(packed.length / 4)(bb.getFloat)
        case Some((3, il)) => // int64_list, packed varints
          varints(fields(il).collectFirst { case (1, b) => b }
            .getOrElse(Array.emptyByteArray))
        case other => sys.error(s"unsupported Feature kind: $other")
      }
      name -> value
    }.toMap
  }

  // ------------------------------------------------------------ the write

  /** Write `df` as TFRecord shards under `dir`:
    * `shard-<partition>-<k>.tfrecord`, at most `rowsPerShard` rows per
    * shard, one tf.Example record per row with one feature per content
    * column (bytes for string/binary, int64 for integral, float for
    * float/double — narrowed to float32, the proto's width). Null cells
    * skip their feature.
    *
    * Overwrite semantics, WRITE-THEN-PUBLISH: shards are written to a
    * hidden staging subdir first; only after the whole job succeeds are
    * the old `shard-*.tfrecord` files deleted and the new ones moved
    * into place. A re-export with fewer rows/partitions can't leave
    * stale shards for `readShards` to mix in, a mid-job failure leaves
    * the previous export intact, and a pipeline whose INPUT reads from
    * the same directory still sees the old files while the job runs
    * (`readShards` skips the staging subdir — it lists files only). */
  def writeShards(
      df: DataFrame,
      dir: String,
      contentCols: Seq[String],
      rowsPerShard: Int = 1000): Unit = {
    require(contentCols.nonEmpty, "writeShards needs at least one content column")
    require(rowsPerShard > 0, s"rowsPerShard must be > 0, got $rowsPerShard")
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    val fractional: Set[DataType] = Set(FloatType, DoubleType)
    val kinds: Seq[Int] = contentCols.map { c =>
      df.schema(c).dataType match {
        case StringType                                      => 0
        case BinaryType                                      => 1
        case dt if integral(dt)                              => 2
        case dt if fractional(dt)                            => 3
        // whole-array features (r17): a packed-sequence export carries
        // token_ids as ONE Int64List per record — the multi-value list
        // the tf.Example wire format was built for (the reader already
        // round-tripped them; only the writer refused). Null ELEMENTS
        // have no tf.Example slot — guarded at runtime below (the
        // schema's containsNull flag is useless here: collect_list /
        // transform mark it true even over provably null-free data)
        case ArrayType(et, _) if integral(et)                => 4
        case ArrayType(et, _) if fractional(et)              => 5
        case dt => throw new IllegalArgumentException(
          s"writeShards: content column '$c' is ${dt.simpleString} — " +
            "tf.Example features are bytes/int64/float (scalar or array); cast it first")
      }
    }
    // cast integrals to long and floats to float in the projection, so
    // the executor-side accessors read exactly the declared type. A NULL
    // array is a legal absent feature; a null ELEMENT inside one is not
    // representable on the wire and fails loudly here (not a silent
    // drop/zero) — the guard rides the projected column itself, which a
    // content column by definition is never pruned out of
    def noNullElems(c: String, to: String) =
      when(col(c).isNull, col(c).cast(to))
        .when(!exists(col(c), e => e.isNull), col(c).cast(to))
        .otherwise(raise_error(lit(
          s"writeShards: null element in array column '$c' — " +
            "tf.Example lists have no null slot; fill or filter first")).cast(to))
    val projected = df.select(contentCols.zip(kinds).map {
      case (c, 2) => col(c).cast("long").as(c)
      case (c, 3) => col(c).cast("float").as(c)
      case (c, 4) => noNullElems(c, "array<long>").as(c)
      case (c, 5) => noNullElems(c, "array<float>").as(c)
      case (c, _) => col(c)
    }: _*)
    val names = contentCols
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
        if (out != null) out.close()
        shard += 1; inShard = 0
        out = fs.create(new org.apache.hadoop.fs.Path(
          f"$dirStr%s/shard-$pid%05d-$shard%04d.tfrecord"), true)
      }
      val fs = new org.apache.hadoop.fs.Path(dirStr).getFileSystem(c)
      it.foreach { row =>
        if (out == null || inShard >= perShard) roll(fs)
        val feats = Seq.newBuilder[(String, Array[Byte])]
        var i = 0
        while (i < names.length) {
          if (!row.isNullAt(i)) {
            val fb = kinds(i) match {
              case 0 => featureBytes(Left(
                row.getUTF8String(i).toString.getBytes(StandardCharsets.UTF_8)))
              case 1 => featureBytes(Left(row.getBinary(i)))
              case 2 => featureBytes(Right(Right(Seq(row.getLong(i)))))
              case 3 => featureBytes(Right(Left(Seq(row.getFloat(i)))))
              case 4 => featureBytes(Right(Right(
                row.getArray(i).toLongArray().toSeq)))
              case 5 => featureBytes(Right(Left(
                row.getArray(i).toFloatArray().toSeq)))
            }
            feats += names(i) -> fb
          }
          i += 1
        }
        out.write(record(exampleBytes(feats.result())))
        inShard += 1; n += 1
      }
      if (out != null) out.close()
      Iterator.single(n)
    }.sum()
    require(written >= 0) // forces the job
    // publish: the job succeeded — swap the old shards for the staged ones
    Publish.replaceFiles(df.sparkSession, staging, "shard-*.tfrecord")
  }

  // ------------------------------------------------------------- the read

  /** Read TFRecord shards back as one row per record:
    * (shard_file, rec_no, payload BINARY) — the raw Example bytes, CRCs
    * verified. One task per shard, record-streaming. */
  def readShards(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    ShardFiles.read(spark, paths, "readShards") { (raw, f) =>
      records(raw, f).zipWithIndex.map { case (data, i) => (f, i.toLong, data) }
    }.toDF("shard_file", "rec_no", "payload")
  }

  /** Read shards and PARSE each record's tf.Example into typed columns:
    * `schema` maps feature name → "string" | "binary" | "long" |
    * "float" (first value of the list; absent features are null) |
    * "longs" | "floats" (the WHOLE list as an array column — the
    * packed-sequence token_ids shape, r17).
    * Output: (shard_file, rec_no, <feature columns...>). */
  def readExamples(
      spark: SparkSession,
      paths: Seq[String],
      schema: Seq[(String, String)]): DataFrame = {
    require(schema.nonEmpty, "readExamples needs at least one feature")
    schema.foreach { case (n, t) =>
      require(Set("string", "binary", "long", "float", "longs", "floats").contains(t),
        s"readExamples: feature '$n' has unsupported type '$t'")
    }
    val raw = readShards(spark, paths)
    val parsed = raw.select(col("shard_file"), col("rec_no"), col("payload"))
    val rows = parsed.rdd.map { r =>
      val m = parseExample(r.getAs[Array[Byte]]("payload"))
      val vals: Seq[Any] = schema.map { case (n, t) =>
        m.get(n).map { v =>
          (t, v) match {
            case ("string", b: Array[Byte]) => new String(b, StandardCharsets.UTF_8)
            case ("binary", b: Array[Byte]) => b
            // an empty Int64List/FloatList on the wire is valid proto —
            // decode as null, matching the absent-feature convention
            // (and the empty-bytes_list behavior)
            case ("long", l: Seq[_])  => l.headOption.map(_.asInstanceOf[Long]).map(Long.box).orNull
            case ("float", f: Seq[_]) => f.headOption.map(_.asInstanceOf[Float]).map(Float.box).orNull
            case ("longs", l: Seq[_])  => l.map(_.asInstanceOf[Long])
            case ("floats", f: Seq[_]) => f.map(_.asInstanceOf[Float])
            case (want, got) => sys.error(
              s"feature '$n': wire kind ${got.getClass.getSimpleName} does not decode as $want")
          }
        }.orNull
      }
      org.apache.spark.sql.Row.fromSeq(
        Seq(r.getString(0), r.getLong(1)) ++ vals)
    }
    val outSchema = StructType(
      Seq(StructField("shard_file", StringType), StructField("rec_no", LongType)) ++
        schema.map { case (n, t) =>
          StructField(n, t match {
            case "string" => StringType
            case "binary" => BinaryType
            case "long"   => LongType
            case "float"  => FloatType
            case "longs"  => ArrayType(LongType, containsNull = false)
            case "floats" => ArrayType(FloatType, containsNull = false)
          })
        })
    spark.createDataFrame(rows, outSchema)
  }
}
