package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** Driver-side reads of small parquet tables (r20 optimization round).
  *
  * The persisted-index metas are single tiny files, but reading them with
  * `spark.read.parquet(...).head()` pays file listing + query planning +
  * a scheduled 1-task Spark job PER CALL — and the sharded searches
  * resolve 2-3 metas per shard, so meta reads dominated the driver time
  * of a 3-shard search (r20 job profile). This reads the same bytes with
  * plain parquet-hadoop on the driver: same fields, no job, no plan. The
  * driver-local IVF search reads its centroids and probed cells the same
  * way. Strictly a READ-PATH change — writers still go through Spark, and
  * every call re-reads the files (no caching), so external updates are
  * picked up exactly as before.
  */
object DriverParquet {

  /** Footer key under which Spark's parquet writer records the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The `.parquet` part files directly under `dir`, in name order,
    * skipping `_`/`.`-prefixed entries as Spark's listing does. */
  def partFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)

  /** The first row found under `dir` (part files scanned in listing
    * order — a writer may emit empty parts, so keep scanning until a row
    * appears), as a parquet-example Group. `f` extracts the typed
    * fields; readers are closed either way. */
  def readSingleRow[T](spark: SparkSession, dir: String)(f: Group => T): T = {
    val d = new Path(dir)
    val parts = partFiles(d.getFileSystem(spark.sparkContext.hadoopConfiguration), d).map(_.getPath)
    require(parts.nonEmpty, s"$dir has no parquet part file")
    for (part <- parts) {
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), part)
        .withConf(spark.sparkContext.hadoopConfiguration)
        .build()
      try {
        val g = reader.read()
        if (g != null) return f(g)
      } finally reader.close()
    }
    throw new IllegalStateException(s"$dir is empty — expected at least one row")
  }

  /** A reader of `file` whose options come from `conf`: the options'
    * default is a fresh Hadoop Configuration, which parses the default
    * resource XML on its first lookup — per file, the larger part of
    * reading a cell of a few hundred KB. */
  private def open(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), HadoopReadOptions.builder(conf, file).build())

  /** The Spark row schema recorded in `file`'s footer, as Spark's parquet
    * reader resolves it (metadata included), or None for a file Spark did
    * not write. */
  def sparkSchema(conf: Configuration, file: Path): Option[StructType] = {
    val reader = open(conf, file)
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .map(DataType.fromJson).collect { case s: StructType => s }
    finally reader.close()
  }

  /** Every row of `file` as the values of `columns`, read column by column
    * with no per-value record assembly (a float vector costs no object per
    * element). Columns are top-level primitives (boolean, int32, int64,
    * float, double, UTF-8 binary), boxed, or lists of numbers, read as an
    * `Array[Double]` — or an `Array[Any]` of doubles and nulls when the
    * list holds a null element; a null value is null. Reads both the
    * 3-level list layout Spark writes and the legacy 2-level one. */
  def readColumns(conf: Configuration, file: Path, columns: Seq[String]): Vector[Array[Any]] = {
    val reader = open(conf, file)
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema = new MessageType(meta.getSchema.getName,
        columns.map(c => meta.getSchema.getType(meta.getSchema.getFieldIndex(c))): _*)
      reader.setRequestedSchema(schema)
      val leaves = columns.map(c => schema.getColumns.asScala.find(_.getPath.head == c).get)
      val out = Vector.newBuilder[Array[Any]]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val store = new ColumnReadStoreImpl(pages,
          new GroupRecordConverter(schema).getRootConverter, schema, meta.getCreatedBy)
        val cols = leaves.map(d => readColumn(store.getColumnReader(d), d, schema,
          pages.getRowCount.toInt, pages.getPageReader(d).getTotalValueCount))
        out ++= (0 until pages.getRowCount.toInt).map(r => cols.map(_(r)).toArray)
        pages = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  /** One leaf column of a row group, a value per row (see [[readColumns]]). */
  private def readColumn(
      cr: ColumnReader, d: ColumnDescriptor, schema: MessageType,
      rows: Int, valueCount: Long): Array[Any] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val maxDef = d.getMaxDefinitionLevel
    def value(): Any = d.getPrimitiveType.getPrimitiveTypeName match {
      case BOOLEAN => cr.getBoolean
      case INT32   => cr.getInteger
      case INT64   => cr.getLong
      case FLOAT   => cr.getFloat
      case DOUBLE  => cr.getDouble
      case BINARY  => cr.getBinary.toStringUsingUTF8
      case other   => throw new IllegalArgumentException(s"${d.getPath.mkString(".")}: unsupported $other")
    }
    def number(): Double = d.getPrimitiveType.getPrimitiveTypeName match {
      case INT32 => cr.getInteger.toDouble
      case INT64 => cr.getLong.toDouble
      case FLOAT => cr.getFloat.toDouble
      case _     => cr.getDouble
    }
    val out = new Array[Any](rows)
    if (d.getMaxRepetitionLevel == 0)
      for (r <- 0 until rows) {
        out(r) = if (cr.getCurrentDefinitionLevel == maxDef) value() else null
        cr.consume()
      }
    else {
      // a row starts at repetition level 0; below the repeated node's
      // definition level it holds no element — one level below, an empty
      // list, further below, a null one
      val repDef = schema.getMaxDefinitionLevel(d.getPath.take(2): _*)
      val vals = new scala.collection.mutable.ArrayBuilder.ofDouble
      val nulls = scala.collection.mutable.ArrayBuffer.empty[Int]
      var r = -1
      var nullList = false
      def flush(): Unit = if (r >= 0) {
        val xs = vals.result()
        out(r) =
          if (nullList) null
          else if (nulls.isEmpty) xs
          else { val a = xs.map(x => x: Any); nulls.foreach(a(_) = null); a }
        vals.clear()
        nulls.clear()
      }
      var left = valueCount
      while (left > 0) {
        val dl = cr.getCurrentDefinitionLevel
        if (cr.getCurrentRepetitionLevel == 0) {
          flush()
          r += 1
          nullList = dl < repDef - 1
        }
        if (dl == maxDef) vals += number()
        else if (dl >= repDef) { nulls += vals.length; vals += 0.0 }
        cr.consume()
        left -= 1
      }
      flush()
    }
    out
  }
}
