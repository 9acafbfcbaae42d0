package graft.io

import java.io.InputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** The publish protocols behind every in-place write: compaction
  * ([[Compaction]]), index resharding
  * ([[graft.similarity.AnnIndex.reshardIvf]]), the incremental-state fold
  * ([[graft.dp.IncrementalAgg.foldStateDir]]), the shard exports
  * ([[TfRecord]], [[WebDataset]], [[Warc]]) and the derived fixtures.
  * Every rename in the library lives here, each one CHECKED: Hadoop
  * reports most rename failures by returning false, not by throwing.
  *
  * Directory swap ([[recover]] then [[swap]]): the new copy is written to
  * a `staged` sibling of the `live` directory, then published as (live →
  * `backup`, staged → live, delete backup). Crash contract: a crash
  * before the first rename leaves the live copy untouched; a crash
  * between the two renames leaves the backup intact and the live path
  * absent, so readers fail loudly (never silently serve half a table)
  * and the caller's next [[recover]] renames the backup back; a crash
  * after the second rename leaves a stale backup that the next [[swap]]
  * deletes. Data is never deleted until the swap has fully succeeded.
  * Callers that can be handed a live path recreated over a pending
  * backup (a blind append) must check for that before [[swap]] deletes
  * the backup — [[Compaction]]'s publish marker.
  *
  * File publish ([[replaceFiles]]): shard files are written into a staging
  * directory inside the export directory, and only after the job succeeds
  * are the old shards deleted and the staged ones renamed in. A re-export
  * therefore replaces the old shards, and a job that reads the directory
  * it re-exports to still sees its input while it runs.
  *
  * Write-once publish ([[once]]), for every derived fixture (the query
  * fixtures under `/tmp/graft_io`, the multi-step ANN fixture indexes,
  * ScaleBench's warc and clustered corpora): a `dir` holding `_STAGED`
  * is used as it is. Otherwise the fixture is built into a hidden
  * sibling, marked `_STAGED` there and moved to `dir` in one atomic move,
  * so `dir` is either a complete marked copy or absent. A failed move
  * onto a marked `dir` lost a race and uses the winner's copy; a `dir`
  * without the marker is a crashed build's leftover, deleted before one
  * more move. The move is `Files.move(ATOMIC_MOVE)`, not
  * `FileSystem.rename`: on the local file system Hadoop's rename onto an
  * existing directory returns true and moves the source INSIDE it, so a
  * lost race would nest a second copy silently, while the atomic move
  * refuses a non-empty target with a `FileSystemException`. */
object Publish {

  private val StagedMarker = "_STAGED"

  /** The local directory `dir`, built once by `build` under the
    * write-once protocol above. `build` is handed the hidden sibling
    * (`.<name>.staging-<uuid>`), which it may create or fill; a `build`
    * that throws is rethrown, and the sibling never outlives the call. */
  def once(dir: String)(build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get(dir).toAbsolutePath
    def staged = Files.exists(target.resolve(StagedMarker))
    if (!staged) {
      val staging = target.resolveSibling(
        s".${target.getFileName}.staging-${java.util.UUID.randomUUID().toString.take(8)}")
      def delete(p: java.nio.file.Path): Unit =
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
      def publish(retry: Boolean): Unit =
        try Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.io.IOException if staged => () // lost the race
          case _: java.io.IOException if retry => // a crashed build's leftover
            delete(target); publish(retry = false)
        }
      try {
        build(staging.toString)
        Files.createDirectories(staging)
        Files.createFile(staging.resolve(StagedMarker))
        publish(retry = true)
      } finally delete(staging)
    }
    dir
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Undo a crashed [[swap]]: when `live` is missing and `backup` exists,
    * the backup is the authoritative copy and is renamed back. Then any
    * stale `staged` directory is deleted. Returns whether `live` exists. */
  private[graft] def recover(spark: SparkSession, live: Path, staged: Path, backup: Path): Boolean = {
    val fs = fsOf(spark, live)
    if (!fs.exists(live) && fs.exists(backup))
      require(fs.rename(backup, live), s"recovery rename $backup -> $live failed")
    fs.delete(staged, true)
    fs.exists(live)
  }

  /** Publish the fully written `staged` directory at `live` (see the
    * crash contract above), then drop the session's cached file listing
    * for `live`: a long-lived session that already read it would
    * otherwise hold the old part-file listing in the shared
    * FileStatusCache and its next read dies with FILE_NOT_EXIST. */
  private[graft] def swap(spark: SparkSession, live: Path, staged: Path, backup: Path): Unit = {
    val fs = fsOf(spark, live)
    fs.delete(backup, true) // a stale backup: its swap completed
    if (fs.exists(live))
      require(fs.rename(live, backup), s"publish rename $live -> $backup failed")
    require(fs.rename(staged, live),
      s"publish rename $staged -> $live failed " +
        s"(previous copy preserved at $backup — recovered on the next write)")
    fs.delete(backup, true)
    spark.catalog.refreshByPath(live.toString)
  }

  /** A fresh hidden staging directory inside the export directory `dir`,
    * for [[replaceFiles]]. Shard readers list files only, so they skip it. */
  private[io] def stagingDir(dir: String): Path =
    new Path(dir, s".staging-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Publish the files written into `staging` (a [[stagingDir]]) to its
    * parent: delete the parent's old files that match `oldGlob`, then
    * rename every staged file in, and delete `staging`. An export that
    * wrote no file leaves `staging` uncreated; the old files are still
    * replaced. */
  private[io] def replaceFiles(spark: SparkSession, staging: Path, oldGlob: String): Unit = {
    val root = staging.getParent
    val fs = fsOf(spark, root)
    Option(fs.globStatus(new Path(root, oldGlob)))
      .toSeq.flatten.foreach(st => fs.delete(st.getPath, false))
    // the old shards are already gone, so a silently failed rename would
    // drop the shard from the export with no error. Fail loudly instead:
    // the staging dir is left in place for forensics.
    if (fs.exists(staging)) {
      fs.listStatus(staging).filter(_.isFile).foreach { st =>
        val dst = new Path(root, st.getPath.getName)
        require(fs.rename(st.getPath, dst),
          s"publish rename failed for ${st.getPath} -> $dst " +
            "(staged shards left under the .staging dir; the export is incomplete)")
      }
      fs.delete(staging, true)
    }
  }
}

/** What the shard readers and writers ([[TfRecord]], [[WebDataset]],
  * [[Warc]]) share besides [[Publish.replaceFiles]]: shipping the driver's
  * Hadoop configuration to executors, and reading one file per task. */
private[io] object ShardFiles {

  /** The driver's EFFECTIVE Hadoop configuration as a serializable
    * key-value list — executors rebuild it verbatim with [[confOf]], so
    * driver-side settings (object-store endpoints/credentials, the things
    * a real cluster sets programmatically) reach the per-file streams
    * instead of being silently replaced by classpath defaults. */
  def confEntries(conf: Configuration): Array[(String, String)] = {
    val it = conf.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  def confOf(entries: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** `parse(stream, file)` over every file that `paths` names — files,
    * the files (not subdirectories) of directories, and Hadoop globs —
    * listed on the driver, sorted, one task per file. A path that matches
    * nothing fails, its message prefixed by `what`. */
  def read[T: Encoder](spark: SparkSession, paths: Seq[String], what: String)(
      parse: (InputStream, String) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      require(matched.nonEmpty, s"$what: no files match $p")
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile).map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }.sorted
    val kv = confEntries(conf)
    spark.createDataset(files)
      // one partition per file — the scheduler balances skewed shard
      // sizes at file granularity, and a straggler holds one file, not a
      // round-robin bundle of them
      .repartition(files.size.max(1))
      .mapPartitions { it =>
        val c = confOf(kv)
        // a parser closes its stream at exhaustion, but an early-
        // terminating consumer (limit/take) or a mid-file parse error
        // abandons the iterator — close whatever is still open when the
        // task ends, like Spark's own file sources do
        var open: InputStream = null
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            if (open != null) { try open.close() catch { case _: Exception => () } }
          })
        it.flatMap { f =>
          val p = new Path(f)
          val raw = p.getFileSystem(c).open(p)
          open = raw
          parse(raw, f)
        }
      }
  }
}
