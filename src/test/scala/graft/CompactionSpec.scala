package graft

import java.nio.file.Files

import graft.io.Compaction
import org.apache.spark.sql.functions._

/** The shared small-file compaction core: the guarantees its index-side
  * callers (AnnIndexSpec, MinHashIndexSpec, StreamingSpec) can't reach —
  * the concurrent-writer abort and the plain-unpartitioned rewrite. */
class CompactionSpec extends SparkSpec {

  private def files(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (name.startsWith("part-")) out += name
    }
    out.result()
  }

  test("unpartitioned append-heavy table compacts to few files with identical rows") {
    import spark.implicits._
    val dir = s"${Files.createTempDirectory("graft_compact_plain")}/t.parquet"
    (0 until 5).foreach(b =>
      (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(4).write.mode("append").parquet(dir))
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    assert(files(dir).size >= 20)
    Compaction.compactParquet(spark, dir, Seq("id"))
    assert(files(dir).size === 1)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
  }

  test("a concurrent append during the rewrite aborts the publish and loses nothing") {
    import spark.implicits._
    val dir = s"${Files.createTempDirectory("graft_compact_race")}/t.parquet"
    (0L until 100L).map(i => (i, i * 2)).toDF("id", "x")
      .repartition(3).write.mode("append").parquet(dir)
    // race an append into the window between the staged write and the
    // publish: the guard must abort LOUDLY with the live table (and the
    // racing rows) fully intact — the silent alternative was deleting
    // the appended rows with the backup
    val e = intercept[IllegalStateException] {
      Compaction.compactParquetImpl(spark, dir, Seq("id"),
        afterStagedWrite = () =>
          Seq((1000L, 0L)).toDF("id", "x").write.mode("append").parquet(dir))
    }
    assert(e.getMessage.contains("concurrent"))
    val ids = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(ids === (0L until 100L).toSet + 1000L,
      "every pre-existing and racing row must survive the abort")
    // no staging/backup leftovers: the next compact (writers quiesced)
    // runs clean and keeps all 101 rows
    Compaction.compactParquet(spark, dir, Seq("id"))
    assert(spark.read.parquet(dir).count() === 101)
    assert(files(dir).size === 1)
  }

  test("a blind-append recreation after a crashed publish never costs the backup") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val parent = Files.createTempDirectory("graft_compact_crash").toString
    val dir = s"$parent/t.parquet"
    (0L until 100L).map(i => (i, i * 2)).toDF("id", "x")
      .write.mode("append").parquet(dir)
    // simulate a crash BETWEEN the two publish renames: live is gone and
    // the backup holds the whole table
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new Path(dir), new Path(s"$parent/.precompact_t.parquet")))
    // the appender-side guard refuses to recreate the live path
    val g = intercept[IllegalStateException] {
      Compaction.requireNoPendingPublish(spark, dir)
    }
    assert(g.getMessage.contains("crashed compaction publish"))
    // a MISBEHAVED appender recreates it anyway with one batch's rows —
    // the next compact must refuse to treat that as the table and must
    // NOT delete the backup (r17 ADVICE: this silently destroyed tables)
    Seq((9999L, 0L)).toDF("id", "x").write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Compaction.compactParquet(spark, dir, Seq("id"))
    }
    assert(e.getMessage.contains("publish marker"))
    assert(spark.read.parquet(s"$parent/.precompact_t.parquet").count() === 100,
      "the backup (the authoritative table) must survive untouched")
  }

  test("recover restores a crashed publish without compacting, so appends keep the history") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val parent = Files.createTempDirectory("graft_compact_recover").toString
    val dir = s"$parent/t.parquet"
    (0L until 100L).map(i => (i, i)).toDF("id", "x")
      .repartition(3).write.mode("append").parquet(dir)
    val before = files(dir).toSet
    Compaction.recover(spark, dir) // healthy table: a no-op
    assert(files(dir).toSet === before)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new Path(s"$parent/.precompact_t.parquet")
    require(fs.rename(new Path(dir), backup))
    fs.mkdirs(new Path(s"$parent/.compacting_t.parquet"))
    Compaction.recover(spark, dir)
    assert(files(dir).toSet === before, "recovery restores the files as they were")
    assert(!fs.exists(backup) && !fs.exists(new Path(s"$parent/.compacting_t.parquet")))
    Compaction.requireNoPendingPublish(spark, dir)
    Seq((100L, 100L)).toDF("id", "x").write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() === 101)
  }

  test("a stale backup after a COMPLETED publish is cleaned, not fatal") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val parent = Files.createTempDirectory("graft_compact_stale").toString
    val dir = s"$parent/t.parquet"
    (0L until 50L).map(i => (i, i)).toDF("id", "x").write.parquet(dir)
    Compaction.compactParquet(spark, dir, Seq("id")) // plants the marker
    // simulate a crash AFTER the second rename but before the backup
    // delete: live (marker-carrying) and a stale backup coexist
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new Path(s"$parent/.precompact_t.parquet")
    require(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir), fs, backup,
      false, true, spark.sparkContext.hadoopConfiguration))
    Compaction.requireNoPendingPublish(spark, dir) // live present: appends fine
    Compaction.compactParquet(spark, dir, Seq("id"))
    assert(!fs.exists(backup), "the stale backup is cleaned by the publish")
    assert(spark.read.parquet(dir).count() === 50)
  }

  test("transform rewrites rows out and reports the published count") {
    import spark.implicits._
    val dir = s"${Files.createTempDirectory("graft_compact_tf")}/t.parquet"
    (0L until 100L).map(i => (i, i)).toDF("id", "x")
      .repartition(4).write.mode("append").parquet(dir)
    val after = Compaction.compactParquet(spark, dir, Seq("id"),
      transform = _.filter(col("id") % 2 === 0))
    assert(after === 50L)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet ===
      (0L until 100L by 2).toSet)
  }
}
