package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Training
import graft.obs.Json
import graft.similarity.AnnIndex

/** Sizes the driver-local gates: times each gated operator at its default
  * bound ("gated") against bound 0 (the distributed plan, "spark"), 3
  * alternating runs per side by default, after one untimed warm-up run of
  * each. Prints one JSON line per run: op, size, side, wall seconds, Spark
  * jobs, and whether the local path ran.
  *
  *  - `lr`: `Training.trainImpl` and `Training.gridSearchImpl` (catalog
  *    grid `regParam` {0, 0.1}, 2 folds) on seeded, cached frames of 7
  *    gaussian features — `Training.LocalFitMaxCells` and the CV `numBins`
  *    cap. Sizes are rows; defaults 116508,116509 / 3996,4000, each the
  *    largest frame the default bound admits and the smallest it rejects.
  *  - `ivf`: `AnnIndex.searchIvfImpl` over a seeded index of gaussian
  *    vectors, and `AnnIndex.searchIvfShardedImpl` over the same vectors
  *    in 3 shards, at exhaustive probes (nlist 16 per index), so every
  *    query's pool is the centroid tables and the whole corpus —
  *    `AnnIndex.LocalSearchMaxBytes`, or the bound given. Sizes are query
  *    counts: the most whose pool fits the bound, and one more, which
  *    falls through after the probe (its "gated" runs include that
  *    cost).
  *
  * Usage: runMain graft.tools.GateBench [lr|ivf|all] [reps]
  *          [lr: train rows,... cv rows,...] [ivf: vectors,... dims bound]
  * (ivf defaults: 8000,28000 vectors of 64 dims — a scoring-bound and a
  * read-bound pool at the 8 MB bound). */
object GateBench {

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("all")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val telemetry = graft.obs.Telemetry.attach(spark)
    /** Warm both sides once, untimed, then `reps` alternating timed runs. */
    def bench(op: String, size: Long, gatedBound: Long)(run: Long => Boolean): Unit = {
      run(gatedBound)
      run(0)
      for (_ <- 1 to reps; (side, bound) <- Seq("gated" -> gatedBound, "spark" -> 0L)) {
        val (local, rec) = telemetry.measure(run(bound))
        println(Json.render(Json.obj("op" -> op, "size" -> size, "side" -> side, "wall_s" -> Json.sec(rec.sec), "jobs" -> rec.jobs.size, "local" -> local)))
      }
    }
    try {
      if (what == "lr" || what == "all") {
        def sizes(i: Int, default: String) = args.lift(i).getOrElse(default).split(",").map(_.toInt).toSeq
        lr(spark, sizes(2, "116508,116509"), sizes(3, "3996,4000"), bench)
      }
      if (what == "ivf" || what == "all") {
        val ivfArgs = if (what == "ivf") args.drop(2) else Array.empty[String]
        val dims = ivfArgs.lift(1).map(_.toInt).getOrElse(64)
        val bound = ivfArgs.lift(2).map(_.toLong).getOrElse(AnnIndex.LocalSearchMaxBytes)
        for (n <- ivfArgs.lift(0).getOrElse("8000,28000").split(",").map(_.toInt); sharded <- Seq(false, true))
          ivf(spark, n, dims, sharded, bound, bench)
      }
    } finally spark.stop()
  }

  private type Bench = (String, Long, Long) => (Long => Boolean) => Unit

  private def lr(spark: SparkSession, trainRows: Seq[Int], cvRows: Seq[Int], bench: Bench): Unit = {
    val features = (1 to 7).map(j => s"x$j")
    def frame(n: Int) = {
      val xs = features.zipWithIndex.map { case (c, j) => randn(100L + j).as(c) }
      val base = spark.range(n).repartition(4).select(col("id") +: xs: _*)
      base.withColumn("label",
        (col("x1") * 1.2 - col("x2") * 0.4 + col("x3") * 0.3 + randn(7L) > 0.2).cast("double"))
        .persist()
    }
    def isLocal(m: org.apache.spark.ml.PipelineModel) =
      !m.stages(1).asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel].hasSummary
    for ((op, rows) <- trainRows.map("train" -> _) ++ cvRows.map("cv" -> _)) {
      val df = frame(rows)
      df.count()
      bench(op, rows, Training.LocalFitMaxCells) { bound =>
        if (op == "train") isLocal(Training.trainImpl(df, "label", features, "logistic_regression", bound.toInt))
        else isLocal(Training.gridSearchImpl(df, "label", features, "logistic_regression",
          Map("regParam" -> Seq(0.0, 0.1)), 2, bound.toInt).bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel])
      }
      df.unpersist(true)
    }
  }

  private def ivf(
      spark: SparkSession, n: Int, dims: Int, sharded: Boolean, gatedBound: Long, bench: Bench): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_ivf").toString
    def vectors(ids: Long, from: Long, seed: Long): DataFrame = spark.range(from, from + ids)
      .select(col("id").as("vec_id"),
        array((0 until dims).map(j => randn(seed + j).cast("float")): _*).as("embedding"))
    if (sharded) AnnIndex.buildIvfSharded(vectors(n, 0L, 1000L), "vec_id", "embedding", dir,
      nShards = 3, nlist = 16, seed = 1L)
    else AnnIndex.buildIvf(vectors(n, 0L, 1000L), "vec_id", "embedding", dir, nlist = 16, seed = 1L)
    // each query's pool: the centroid tables it ranks and every cell
    var queryBytes = 0L
    val files = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(new org.apache.hadoop.fs.Path(dir), true)
    while (files.hasNext) {
      val f = files.next()
      val tables = f.getPath.toString.contains("/centroids.parquet/") || f.getPath.toString.contains("/corpus.parquet/")
      if (tables && f.getPath.getName.startsWith("part-")) queryBytes += f.getLen
    }
    val op = if (sharded) "ivf_sharded" else "ivf"
    val under = math.max(1L, gatedBound / queryBytes)
    println(Json.render(Json.obj("op" -> op, "vectors" -> n, "dims" -> dims, "pool_bytes_per_query" -> queryBytes, "bound" -> gatedBound)))
    for (nq <- Seq(under, under + 1)) {
      val queries = vectors(nq, 1L << 40, 5000L).persist()
      queries.count()
      bench(op, nq, gatedBound) { bound =>
        val df =
          if (sharded) AnnIndex.searchIvfShardedImpl(spark, dir, queries, "vec_id", "embedding", 10, 16, None, bound)
          else AnnIndex.searchIvfImpl(spark, dir, queries, "vec_id", "embedding", 10, 16, None, bound)
        df.collect()
        df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      }
      queries.unpersist(true)
    }
    val root = new org.apache.hadoop.fs.Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
  }
}
