package graft.io

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for append-maintained parquet tables — the
  * shared core behind [[graft.similarity.AnnIndex.compact]] and
  * [[graft.dedup.MinHashIndex.compact]].
  *
  * Every `SaveMode.Append` (and each streaming micro-batch riding one)
  * lands at least one new parquet file — per touched hive partition for
  * a partitioned layout, per write task otherwise. After thousands of
  * batches a table's scans pay a per-file open + footer-parse cost that
  * dwarfs its data bytes: the classic small-file problem, the
  * operational decay mode of any persisted index under continuous
  * ingest. Compaction rewrites the table into ~`targetFileMB` files and
  * republishes in place; it moves bytes, never rows (the row count is
  * verified before publish, and every caller's spec pins that reads are
  * bit-identical before/after).
  *
  * Layout: `files = ceil(table bytes / targetFileMB)`, laid out with
  * `repartitionByRange` over `orderCols` plus an in-partition sort, so
  * each output file covers ONE contiguous key run — hive partitions
  * stay whole-file prunable, an oversized partition splits at the
  * secondary key instead of hot-spotting one writer task, and sorted
  * layouts (e.g. LSH signature tables) keep sharp row-group min/max
  * pruning.
  *
  * Publish: the staged rewrite replaces the live table through
  * [[Publish.swap]] (staged `<parent>/.compacting_<name>`, backup
  * `<parent>/.precompact_<name>`), whose crash contract applies; a
  * staged rewrite whose row count disagrees with the live table aborts
  * BEFORE any rename. Compaction adds the [[PublishedMarker]], which
  * tells a stale backup from one a blind append has recreated the live
  * path over.
  *
  * Concurrency contract: SINGLE MAINTAINER. Run compaction from the
  * same lane that appends (the streaming `compactEvery` cadence is
  * naturally serialized with its own appends); a reader that races the
  * two publish renames fails loudly on the briefly-absent path rather
  * than seeing wrong data, and an append that races the rewrite is
  * caught by a listing re-check that ABORTS the publish (the appended
  * rows always survive; the compaction is what retries). This is not a
  * lock — two simultaneous compactions of one table are not defended. */
object Compaction {

  private def backupOf(live: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(live.getParent, s".precompact_${live.getName}")
  private def stagedOf(live: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(live.getParent, s".compacting_${live.getName}")

  /** Marker file the staged rewrite plants inside the table tree before
    * the publish renames. Its presence in a LIVE table proves the table
    * went through a completed publish — which is what distinguishes a
    * stale backup (crash after the second rename, safe to delete) from
    * the table-destroying case: a crash BETWEEN the renames followed by a
    * blind `SaveMode.Append` that recreated the live path with one
    * batch's rows. Underscore-prefixed, so every parquet reader ignores
    * it. */
  private[io] val PublishedMarker = "_graft_published"

  /** Refuse a blind `SaveMode.Append` while a crashed compaction publish
    * is pending: live path absent + `.precompact_` backup present means
    * the BACKUP is the authoritative table, and recreating the live path
    * with one batch's rows would (without [[PublishedMarker]]) read as a
    * table that compacted fine — call this before any append that does
    * not read the table first (the streaming doc/page maintainers). */
  def requireNoPendingPublish(spark: SparkSession, tableDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(tableDir)
    val backup = backupOf(live)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(backup))
      throw new IllegalStateException(
        s"append to $tableDir refused: a crashed compaction publish left " +
          s"the authoritative table at $backup — run the owning compact() " +
          "to recover it before appending")
  }

  /** Recover a crashed compaction publish of `tableDir`, if one is
    * pending, without compacting: the backup becomes the live table
    * again. For a maintainer that appends to a table it also compacts. */
  def recover(spark: SparkSession, tableDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(tableDir)
    Publish.recover(spark, live, stagedOf(live), backupOf(live))
  }

  /** Recursive part-file census of a table directory: (files, bytes).
    * The shared listing primitive behind every decay/maintenance signal
    * ([[graft.similarity.AnnIndex.stats]], [[graft.dedup.MinHashIndex
    * .stats]], the streaming lanes' table-decay checks) — one place to
    * fix listing semantics (hidden files, pending-publish leftovers,
    * object-store quirks) for all of them. Missing path = (0, 0). */
  def partFileStats(spark: SparkSession, tableDir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n = 0L; var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) { n += 1; b += f.getLen }
      }
      (n, b)
    }
  }

  /** Compact the parquet table at `tableDir` (= `<parent>/<name>`;
    * staging and backup live beside it as `<parent>/.compacting_<name>`
    * and `<parent>/.precompact_<name>`). `orderCols` leads with
    * `partitionCol` when the table is hive-partitioned.
    *
    * `transform` (default identity) rewrites THROUGH a row-dropping
    * transformation — the tombstone-fold hook: the staged write holds
    * `transform(table)` and the row-count verify pins the staged count to
    * the transformed frame's count, so folds are guarded exactly like
    * plain compactions. Returns the published row count (callers that
    * track a row-count meta re-derive it from here). */
  def compactParquet(
      spark: SparkSession,
      tableDir: String,
      orderCols: Seq[String],
      partitionCol: Option[String] = None,
      targetFileMB: Int = 128,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity): Long =
    compactParquetImpl(spark, tableDir, orderCols, partitionCol, targetFileMB,
      transform = transform)

  /** [[compactParquet]] with a test seam: `afterStagedWrite` runs once
    * the staged rewrite is on disk, BEFORE the concurrent-writer listing
    * re-check — the only deterministic way to exercise that abort path
    * (CompactionSpec races an append into the window). */
  private[graft] def compactParquetImpl(
      spark: SparkSession,
      tableDir: String,
      orderCols: Seq[String],
      partitionCol: Option[String] = None,
      targetFileMB: Int = 128,
      afterStagedWrite: () => Unit = () => (),
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity): Long = {
    require(targetFileMB > 0, s"targetFileMB must be > 0, got $targetFileMB")
    require(orderCols.nonEmpty, "compactParquet needs at least one order column")
    import org.apache.hadoop.fs.Path
    val live = new Path(tableDir)
    val backup = backupOf(live)
    val staged = stagedOf(live)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed publish leaves the authoritative copy in the backup
    require(Publish.recover(spark, live, staged, backup),
      s"compact: no table at $tableDir and no .precompact backup to recover")
    // rows appended by ANOTHER session before this compact started can be
    // in the fresh FS listing below but absent from this session's stale
    // FileStatusCache snapshot — the rewrite would then silently drop them
    // (counts agree on the stale snapshot, the listing re-check sees no
    // further change). Refresh so the read and listing() see one snapshot.
    spark.catalog.refreshByPath(tableDir)
    def listing(): Set[(String, Long)] = {
      val it = fs.listFiles(live, true)
      val out = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-"))
          out += f.getPath.toString -> f.getLen
      }
      out.result()
    }
    val liveBefore = listing()
    val bytes = fs.getContentSummary(live).getLength
    // file-count target AND a write-parallelism floor: a table under
    // targetFileMB would otherwise collapse the whole rewrite into ONE
    // reduce task (read-sort-write serialized — measured 481 s vs 102 s
    // on the 60 MB/52k-file decay probe). The floor keeps ≥8 MB per
    // task, so tiny tables still compact to one file while mid-sized
    // ones spread across the cores; for hive-partitioned tables the
    // extra range slices don't add files per partition (each partition
    // value stays within one contiguous slice unless it alone exceeds
    // a slice).
    val parallelFloor = math.min(
      spark.sparkContext.defaultParallelism.toLong, bytes / (8L << 20)).toInt
    val nFiles = math.max(parallelFloor, math.max(1L,
      math.ceil(bytes.toDouble / (targetFileMB.toLong << 20)).toLong)).toInt
    val df = transform(spark.read.parquet(tableDir))
    val before = df.count()
    val writer = df
      .repartitionByRange(nFiles, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
    partitionCol.fold(writer)(writer.partitionBy(_))
      .parquet(staged.toString)
    val after = spark.read.parquet(staged.toString).count()
    require(after == before,
      s"compact: staged rewrite of $tableDir has $after rows, expected " +
        s"$before — aborting with the live table untouched")
    // plant the publish marker in the staged tree NOW: it rides the
    // rename into the live position, proving (to the next compaction)
    // that this table went through a completed publish
    fs.create(new Path(staged, PublishedMarker), true).close()
    afterStagedWrite()
    // concurrent-writer guard: compaction is a single-maintainer op (run
    // it from the same lane as appends — the streaming cadence is
    // naturally serialized), but a misconfigured pipeline CAN append
    // while a compact is in flight. The staged rewrite snapshotted the
    // file listing at read time; if the live listing moved since, a
    // publish would silently destroy the concurrently-appended rows when
    // the backup is deleted. Abort LOUDLY instead, staging discarded,
    // live table untouched — rerun compact when the writer is quiesced.
    if (listing() != liveBefore) {
      fs.delete(staged, true)
      throw new IllegalStateException(
        s"compact: $tableDir changed while the rewrite ran (concurrent " +
          "append?) — aborted without publishing; quiesce writers and rerun")
    }
    // a backup can legitimately coexist with a live table only when a
    // PRIOR publish crashed after its second rename — and that live
    // table carries the publish marker. A live tree WITHOUT the marker
    // beside a backup means a crash BETWEEN the renames followed by a
    // blind append that recreated the live path with one batch's rows:
    // the backup is the whole table. Refuse to let the swap delete it —
    // renaming the recreation over it would silently destroy the table
    // (r17 ADVICE).
    require(!fs.exists(backup) || fs.exists(new Path(live, PublishedMarker)),
      s"compact: $tableDir coexists with backup $backup but carries no " +
        "publish marker — the live path looks like a blind-append " +
        "recreation after a crashed publish and the backup is the " +
        "authoritative table. Recover manually: move the live path " +
        "aside, rename the backup into place, re-append the moved rows, " +
        "then rerun compact.")
    Publish.swap(spark, live, staged, backup)
    after
  }
}
