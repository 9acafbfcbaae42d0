package graft

import org.apache.spark.sql.SparkSession

/** Safe SparkSession construction (replaces the reference's eval-built
  * builder, reference: src/ta_lib/pyspark/context.py:79-92) — a pure fold
  * of config pairs over the builder. */
object Sessions {
  def local(
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4 defaults to ANSI mode where x/0 and corr(constant) THROW;
      // the reference's PySpark 3.x semantics (and our null guards) expect
      // null-on-zero-divide. Documented in DIVERGENCES.md.
      .config("spark.sql.ansi.enabled", "false")
      // TIMESTAMP(NANOS) parquet columns read as long, which
      // Tables.eventTime converts; TIMESTAMP(MICROS) files read natively
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim reliable-checkpoint files once their frame is unreachable
      // (iterative ops like Dedup.nearDupClusters checkpoint per iteration)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A reliable checkpoint dir makes iterative operators take the
    // cluster-durable .checkpoint() path instead of the localCheckpoint
    // fallback (unreplicated executor-local blocks — unrecoverable after
    // an executor loss, and incompatible with dynamic allocation). On a
    // real cluster the caller sets an HDFS/object-store dir instead.
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(scratchCheckpointDir())
    spark
  }

  /** Local-mode reliable-checkpoint scratch: tmpfs when the host has one
    * (checkpoint files at RAM speed — in local mode durability against
    * executor loss is moot, the point is exercising the same code path a
    * cluster runs against HDFS), plain temp dir otherwise. */
  private def scratchCheckpointDir(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) Some(shm)
      else None
    base
      .map(b => java.nio.file.Files.createTempDirectory(b, "graft-ckpt").toString)
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
  }
}
