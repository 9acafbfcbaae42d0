package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, dense_rank, expr, lag, lead, lit, max, raise_error, shiftleft, struct, timestamp_micros, when}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Format-dispatched readers/writers.
  *
  * Capability parity with the reference's IO surface
  * (reference: src/ta_lib/pyspark/dp.py:53-98 `read_data`/`save_data`),
  * re-expressed on the Spark DataFrameReader/Writer API. Globs are handled
  * natively by the reader; schema inference applies to csv/json only
  * (parquet carries its own schema).
  *
  * Scale notes: readers hand Catalyst a declarative scan, so filter/column
  * pushdown and partition pruning apply to everything downstream. Writers
  * default to snappy parquet; callers can `repartition` before write to
  * control file counts at cluster scale.
  */
object Tables {

  /** Read one or more paths of the given format into a single DataFrame.
    * csv/json/parquet are exercised end to end by the correctness harness
    * (csv_read/json_read queries); "delta" passes through to the
    * DataSource registry like the reference (dp.py:53-80) and requires the
    * delta-spark jars on the cluster classpath — absent (as in this
    * sandbox) Spark fails with "Failed to find data source: delta". */
  def readData(
      spark: SparkSession,
      paths: Seq[String],
      fmt: String = "parquet",
      header: Boolean = true,
      inferSchema: Boolean = true,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read
      .format(fmt)
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .options(options)
    reader.load(paths: _*)
  }

  /** Normalize an events frame's `ts` column to a microsecond
    * TimestampType. Event files have shipped with two physical types:
    * TIMESTAMP(NANOS), which Spark only reads as a nano-count long (under
    * spark.sql.legacy.parquet.nanosAsLong), and TIMESTAMP(MICROS) without a
    * UTC flag, which Spark 4 reads as TIMESTAMP_NTZ. Both become one
    * schema (the nano remainder is truncated, irrelevant at the second/day
    * granularity downstream code uses); a native TIMESTAMP passes through. */
  def eventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // graft sessions pin spark.sql.session.timeZone=UTC, so the cast keeps
      // the instant while restoring the type unix_micros etc. require
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Overwrite-write a DataFrame as parquet (the reference always writes
    * parquet regardless of its `fmt` docstring). */
  def saveData(df: DataFrame, path: String, fmt: String = "parquet"): Unit =
    df.write.mode(SaveMode.Overwrite).format(fmt).save(path)

  /** Overwrite ONLY the partitions present in `df`, leaving every other
    * partition of the table untouched — Spark's dynamic partition
    * overwrite, scoped to this one write. This is the idempotent daily
    * rewrite primitive: re-running a day's job replaces exactly that
    * day's directories (same input → same output, no duplicate rows),
    * while static overwrite mode would drop the whole table and an
    * append would double-count the re-run. At 100 TB the table IS its
    * partition history; a backfill touches the backfilled slice only. */
  def overwritePartitions(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      fmt: String = "parquet"): Unit = {
    require(partitionCols.nonEmpty, "overwritePartitions needs partition columns")
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .format(fmt)
      .save(path)
  }

  /** Read an EVOLVING parquet dataset — files written across schema
    * versions (columns added over time) union into the widest schema,
    * with nulls where a file predates a column. Two modes:
    *
    *   - `schema = None`: parquet `mergeSchema` reconciles the footers at
    *     planning time. Cost: one footer read per file BEFORE the first
    *     task runs — fine for thousands of files, a planning stall for
    *     millions.
    *   - `schema = Some(s)`: the caller pins the target schema; no footer
    *     sweep, files project into `s` (missing columns null). This is
    *     the 100 TB path — resolve the schema once (from the catalog or a
    *     single mergeSchema read of a recent partition) and reuse it.
    *
    * Incompatible evolution (a column changing type across files) fails
    * loudly in both modes rather than silently coercing. */
  def readEvolved(
      spark: SparkSession,
      paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  /** Write a frame hash-bucketed (and sorted) by a join/agg key as a
    * catalog table. Two tables bucketed on the same key with the same
    * bucket count join WITHOUT a shuffle — at 100 TB that turns the
    * repeated fact-to-fact equi-join from an every-query Exchange of the
    * whole table into a per-bucket merge (verified by a no-Exchange plan
    * assertion in OperatorsSpec). `path` keeps the data external; bucket
    * metadata lives in the session catalog either way. */
  def saveBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Write a frame hive-partitioned by low-cardinality column(s) — the
    * standard date/type layout of a 100 TB event lake. Readers filtering on
    * a partition column prune whole directories BEFORE any IO (visible as
    * PartitionFilters in the scan node, asserted in OperatorsSpec), so a
    * one-day query over years of data reads one day of files. Partition
    * columns must be low-cardinality (date, type, region): partitioning by
    * a high-cardinality key creates millions of tiny files — use
    * [[saveBucketed]] for join keys instead. */
  def savePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      fmt: String = "parquet"): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .format(fmt)
      .save(path)

  /** Compact a frame to ~`targetFileBytes` output files using Catalyst's
    * own size estimate (plan stats — parquet footer totals for scans, no
    * extra pass over the data). The small-files problem is the silent
    * killer of a 100 TB lake: a streaming sink or over-parallel writer
    * leaves millions of KB-sized files and every later scan pays task
    * scheduling + footer reads per file. Round-robin repartition (not
    * coalesce) so output files are evenly sized even when input partitions
    * are skewed; coalesce would also cap upstream parallelism of anything
    * fused into the write stage. */
  def compactTo(
      df: DataFrame,
      path: String,
      targetFileBytes: Long = 128L << 20,
      maxFiles: Int = 1 << 20): Unit = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    // plan-stats estimates are unreliable for exactly the plans this
    // helper targets (joins multiply estimates; unstatted sources default
    // absurdly high) — cap the file count instead of letting a 2^62
    // estimate wrap .toInt negative or schedule millions of tasks
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val wanted = bytes / BigInt(targetFileBytes) +
      (if (bytes % BigInt(targetFileBytes) > 0) 1 else 0)
    val files = wanted.min(BigInt(maxFiles)).max(BigInt(1)).toInt
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Write a frame range-clustered on `sortCols`: repartitionByRange +
    * sortWithinPartitions, so each output file covers a NARROW range of
    * the sort key and parquet column min/max statistics become effective
    * file/row-group skipping indexes. A round-robin-written table has
    * every file spanning the full key range — range filters read
    * everything; range-clustered, a `ts BETWEEN ...` or `key < ...` scan
    * touches only the files whose stats overlap (the poor man's Z-order:
    * exact for one leading dimension, which covers the dominant time- and
    * id-range access patterns of an event lake). `numFiles` bounds output
    * sizing like [[compactTo]]. */
  def saveRangeClustered(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      numFiles: Int): Unit = {
    require(sortCols.nonEmpty, "saveRangeClustered needs at least one sort column")
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** 64-bit Morton (Z-order) code of two non-negative dimension values:
    * the lower 32 bits of each are bit-interleaved (`a` even bits, `b`
    * odd), so points close in BOTH dimensions get close codes. Pure
    * codegen'd bit arithmetic — five mask-shift rounds per dimension. */
  def mortonCode(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      val x0 = c.cast("long").bitwiseAND(lit(0xffffffffL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x0000ffff0000ffffL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00ff00ff00ff00ffL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
      val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x3333333333333333L))
      x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-order clustered write: rows are range-partitioned and sorted by
    * the Morton code of (`dimA`, `dimB`), so each output file covers a
    * compact rectangle-ish region of the 2-D key space and parquet
    * min/max stats on BOTH columns become an effective file/row-group
    * skipping index. Where [[saveRangeClustered]] is exact for ONE
    * leading dimension (a linear sort makes the second dimension's stats
    * span everything), Z-order trades a little per-dimension locality for
    * skipping on either dimension independently — the right layout when
    * two selective predicates (time × tenant, x × y) share a table.
    * Dimensions must be non-negative and fit in 32 bits; pre-bucket
    * continuous values (epoch-day, id mod N) to a bounded int domain. */
  def saveZOrdered(
      df: DataFrame,
      path: String,
      dimA: String,
      dimB: String,
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.withColumn("__z", mortonCode(col(dimA), col(dimB)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Batch upsert (the engine's MERGE): rows of `updates` replace
    * same-key rows of `existing`; unmatched existing rows survive. One
    * anti join — no driver round-trip, no per-row lookups; at scale this
    * is the standard "refresh the curated table with today's batch"
    * primitive. Both inputs must carry the full schema; key collisions
    * INSIDE `updates` are the caller's bug (assert with
    * profile.Constraints.uniqueKey when in doubt). */
  def upsert(existing: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(
      existing.columns.toSeq == updates.columns.toSeq,
      s"schema mismatch: ${existing.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
    existing.join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(updates)
  }

  /** Apply a CDC change batch to a base table. `changes` carries the base
    * schema plus an `opCol` of 'I' (insert), 'U' (update), or 'D' (delete)
    * and optionally a `seqCol` ordering multiple changes to the same key;
    * deletes need only their key columns populated.
    *
    * The batch is first COMPACTED to the final image per key — the
    * standard log-compaction step: latest change by `seqCol` wins (ties
    * and the no-seqCol case break deterministically by the remaining
    * column values via struct ordering, never by partition layout). Then
    * semantics mirror MERGE: every compacted change key's base row is
    * replaced (op I/U — an 'I' on an existing key degrades to an update,
    * last-writer-wins like [[upsert]]) or removed (op 'D').
    *
    * Plan: one map-side-combinable max-struct groupBy over the delta, a
    * left-anti join of base against change keys, and a union — the anti
    * join broadcasts when the delta is small, which is the 100 TB norm
    * (huge base, small delta; base is never shuffled in that case).
    */
  def applyCdc(
      base: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String = "op",
      seqCol: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "applyCdc needs at least one key column")
    val dataCols = changes.columns.toSeq.filterNot(c => c == opCol || seqCol.contains(c))
    require(
      base.columns.toSeq == dataCols,
      s"schema mismatch: base ${base.columns.mkString(",")} vs changes ${dataCols.mkString(",")}")
    val nonKey = changes.columns.toSeq.filterNot(keyCols.contains)
    val ordered = seqCol.toSeq ++ nonKey.filterNot(seqCol.contains)
    val compacted = changes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("__s"))
      .select(keyCols.map(col) ++ ordered.map(c => col(s"__s.$c")): _*)
    base
      .join(compacted.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(
        compacted.filter(col(opCol) =!= "D")
          .drop((opCol +: seqCol.toSeq): _*))
  }

  /** Build a slowly-changing-dimension type-2 history from a version log:
    * one row per (key, effective version) with `valid_from` (the
    * version's timestamp), `valid_to` (the NEXT version's timestamp,
    * null while current) and `is_current`. The standard warehouse shape
    * for "what did this row look like at time t" — the batch twin of
    * [[applyCdc]], which keeps only the latest image.
    *
    * `changes` carries key columns, `tsCol`, and attribute columns. Two
    * normalizations happen before interval assignment, both per key:
    * duplicate timestamps compact to one version (deterministically, by
    * struct-max over the attributes — never by partition layout), and
    * consecutive versions with identical attributes collapse into the
    * earlier one (a re-observed unchanged row must not split an
    * interval). Plan shape: one compaction groupBy plus key-partitioned
    * windows — no global sort, scales with the key count. */
  def buildScd2(
      changes: DataFrame,
      keyCols: Seq[String],
      tsCol: String): DataFrame = {
    require(keyCols.nonEmpty, "buildScd2 needs at least one key column")
    require(changes.columns.contains(tsCol), s"missing ts column '$tsCol'")
    val attrCols = changes.columns.toSeq.filterNot(c => keyCols.contains(c) || c == tsCol)
    require(attrCols.nonEmpty, "buildScd2 needs at least one attribute column")
    import org.apache.spark.sql.expressions.Window
    // one version per (key, ts): struct-max over attributes is the
    // deterministic last-writer tie-break (same rule as applyCdc)
    val compacted = changes
      .groupBy((keyCols :+ tsCol).map(col): _*)
      .agg(max(struct(attrCols.map(col): _*)).as("__s"))
      .select((keyCols :+ tsCol).map(col) ++ attrCols.map(c => col(s"__s.$c")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol).asc)
    val attrs = struct(attrCols.map(col): _*)
    compacted
      // drop no-op versions: attributes unchanged vs the previous version
      .withColumn("__prev", lag(attrs, 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> attrs))
      // re-window over the survivors for the interval bounds
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(
        keyCols.map(col) ++ attrCols.map(col) ++ Seq(
          col(tsCol).as("valid_from"),
          col("valid_to"),
          col("valid_to").isNull.as("is_current")): _*)
  }

  /** Point-in-time view of an SCD2 dimension: the attribute image of
    * every key alive at instant `at` (valid_from <= at < valid_to, open
    * rows unbounded). Pure filter + projection — pushed into the scan,
    * so "what did the table look like last Tuesday" costs a pruned read
    * of the history table, not a restore. */
  def snapshotAt(dim: DataFrame, at: Column): DataFrame =
    dim.filter(col("valid_from") <= at &&
        (col("valid_to").isNull || at < col("valid_to")))
      .drop("valid_from", "valid_to", "is_current")

  /** Build an SCD2 history from STACKED SNAPSHOTS — the common real input
    * (a daily full extract per `tsCol`) rather than an explicit change
    * log. A stacked snapshot table IS a version log for keys that stay
    * present ([[buildScd2]]'s no-op collapse absorbs the unchanged
    * re-observations), but DELETIONS are only visible as absence: a key
    * missing from a later snapshot must have its open interval CLOSED at
    * the first snapshot that no longer contains it — including keys that
    * vanish and later REAPPEAR, which get one interval per presence run
    * (gaps-and-islands over the snapshot index), so [[snapshotAt]] never
    * reports a key alive at an instant whose snapshot omitted it.
    *
    * The snapshot timeline is indexed with a sorted zipWithIndex over
    * the (bounded) distinct instants — `tsCol` keeps its NATIVE type
    * end to end (long, timestamp, date all work; no lossy casts).
    * Cost over [[buildScd2]]: one broadcast timeline join, one
    * dense_rank window per key (same partitioning the derivation
    * already uses), and one per-run groupBy. */
  def scd2FromSnapshots(
      snaps: DataFrame,
      keyCols: Seq[String],
      tsCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scd2FromSnapshots needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.sql.Row
    val spark = snaps.sparkSession
    val tlSorted = snaps.select(col(tsCol)).distinct().orderBy(col(tsCol))
    val timeline = spark.createDataFrame(
      tlSorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      StructType(tlSorted.schema.fields :+ StructField("__idx", LongType, nullable = false)))
    require(!timeline.head(1).isEmpty, "scd2FromSnapshots needs at least one snapshot")
    // next instant per timeline slot, in tsCol's native type
    val nextOf = timeline.select(
      (col("__idx") - 1).as("__last_idx"), col(tsCol).as("__next_ts"))
    // gaps-and-islands: consecutive presence indices share (idx - dense_rank)
    val wk = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__idx"))
    val withRun = snaps.join(broadcast(timeline), Seq(tsCol))
      .withColumn("__run", col("__idx") - dense_rank().over(wk))
    val dim = buildScd2(withRun.drop("__idx"), keyCols :+ "__run", tsCol)
    val runLast = withRun.groupBy((keyCols :+ "__run").map(col): _*)
      .agg(max(col("__idx")).as("__last_idx"))
    val attrCols = dim.columns.toSeq.filterNot(c =>
      Seq("__run", "valid_from", "valid_to", "is_current").contains(c))
    // each run's open row closes at the snapshot after its last presence;
    // the run containing the latest snapshot has no successor — stays open
    val closedTo = when(col("is_current") && col("__next_ts").isNotNull,
      col("__next_ts")).otherwise(col("valid_to"))
    dim.join(runLast, keyCols :+ "__run")
      .join(broadcast(nextOf), Seq("__last_idx"), "left")
      .select(attrCols.map(col) ++ Seq(
        col("valid_from"),
        closedTo.as("valid_to"),
        closedTo.isNull.as("is_current")): _*)
  }

  /** Incrementally fold a change batch into an existing SCD2 dimension
    * (the output shape of [[buildScd2]]): closed history rows pass
    * through untouched; only the keys PRESENT IN THE BATCH have their
    * open row re-derived against the new versions. Result is identical
    * to rebuilding from the full concatenated log (asserted in
    * TablesSpec) — but the work is batch-sized: one broadcast-able
    * semi/anti join against the batch's keys plus windows over the
    * affected keys only, never a full-history rebuild. Batch versions
    * at or before an affected key's open `valid_from` are rejected
    * (out-of-order arrivals need the from-scratch rebuild); the guard
    * is enforced IN-PLAN (raise_error at execution — the dpoRender /
    * ksStatistic convention), so the rejection rides the rebuild's own
    * scan instead of costing an eager validation job (r21: the eager
    * `require(lateBatch.isEmpty)` was a full extra pass over dim +
    * batch on every call).
    *
    * Because the guard is in the plan, the rejection is lazy: it fires
    * when the returned frame is materialized (written or collected in
    * full), not when `applyScd2` is called, and it surfaces as a Spark
    * execution error wrapping the `raise_error` message rather than an
    * IllegalArgumentException. Consuming only part of the result can
    * skip it: a filter on the key columns pushed below the guard, a
    * `limit`, an action that never reads the guarded timestamp (a
    * `count` may prune it), or a frame that is never executed does not
    * check the rows it does not compute. Callers that need the whole
    * batch validated must materialize the whole result (as the
    * catalog's SCD2 stage does when it writes the dimension). */
  def applyScd2(
      dim: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      tsCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyScd2 needs at least one key column")
    val attrCols = changes.columns.toSeq.filterNot(c => keyCols.contains(c) || c == tsCol)
    val batchKeys = changes.select(keyCols.map(col): _*).distinct()
    val affectedOpen = dim.filter(col("is_current"))
      .join(batchKeys, keyCols, "left_semi")
    // in-plan out-of-order guard: each batch row sees its affected key's
    // open valid_from (null for brand-new keys) and raises at execution
    // if it sorts at or before it — same rejection as the old eager
    // isEmpty job, now fused into the tail rebuild's own pass
    val tsType = changes.schema(tsCol).dataType
    val guarded = changes
      .join(
        affectedOpen.select((keyCols.map(col) :+ col("valid_from").as("__vf")): _*),
        keyCols, "left")
      .withColumn(tsCol,
        when(col("__vf").isNotNull && col(tsCol) <= col("__vf"),
          raise_error(lit(
            "applyScd2 got batch versions at or before an affected key's " +
              "open valid_from — out-of-order history needs a buildScd2 " +
              "rebuild")).cast(tsType))
          .otherwise(col(tsCol)))
      .drop("__vf")
    // re-derive the affected keys' tail: their open row (as a version at
    // its valid_from) + the batch's versions for those keys
    val rebuiltTail = buildScd2(
      affectedOpen
        .select((keyCols.map(col) ++ attrCols.map(col) :+
          col("valid_from").as(tsCol)): _*)
        .unionByName(guarded.select((keyCols.map(col) ++ attrCols.map(col) :+
          col(tsCol)): _*)),
      keyCols, tsCol)
    dim
      .filter(!col("is_current"))
      .unionByName(
        dim.filter(col("is_current")).join(batchKeys, keyCols, "left_anti"))
      .unionByName(rebuiltTail)
  }

  /** Snapshot diff: row-level comparison of two versions of a keyed table.
    * Emits one row per key present in either side with a `diff_status` of
    * 'added' / 'removed' / 'changed' / 'unchanged', judged by null-safe
    * equality over all non-key columns. One full-outer equi-join on the
    * key — the regression check an incremental pipeline runs between a
    * from-scratch rebuild and its maintained table. */
  def snapshotDiff(
      before: DataFrame,
      after: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(
      before.columns.toSeq == after.columns.toSeq,
      s"schema mismatch: ${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val dataCols = before.columns.toSeq.filterNot(keyCols.contains)
    val b = dataCols.foldLeft(before) { (df, c) => df.withColumnRenamed(c, s"__b_$c") }
    val a = dataCols.foldLeft(after) { (df, c) => df.withColumnRenamed(c, s"__a_$c") }
    // presence flags survive the outer join even when all data cols are null
    val joined = b.withColumn("__in_b", lit(1))
      .join(a.withColumn("__in_a", lit(1)), keyCols, "full_outer")
    val same = dataCols
      .map(c => col(s"__b_$c") <=> col(s"__a_$c"))
      .foldLeft(lit(true))(_ && _)
    val status = when(col("__in_a").isNull, "removed")
      .when(col("__in_b").isNull, "added")
      .when(same, "unchanged")
      .otherwise("changed")
    // after-image for present-in-after keys (even if a data col is null
    // there — coalesce would silently resurrect the before value)
    joined.select(
      keyCols.map(col) ++
        dataCols.map(c =>
          when(col("__in_a").isNotNull, col(s"__a_$c"))
            .otherwise(col(s"__b_$c")).as(c)) :+
        status.as("diff_status"): _*)
  }

  /** Load a named testdata table from an sf directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
