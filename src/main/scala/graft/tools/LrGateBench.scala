package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.Training

/** Sizes the driver-local logistic-regression gate (`Training.LocalFitMaxCells`
  * and the CV `numBins` cap): times `Training.trainImpl` and
  * `Training.gridSearchImpl` (catalog grid `regParam` {0, 0.1}, 2 folds)
  * on seeded, cached frames of 7 gaussian features, at the default bound
  * ("gated") and at bound 0 (spark.ml's own fit / CrossValidator),
  * alternating sides per repetition. Prints one JSON line per run: op,
  * rows, side, wall seconds, Spark jobs, and whether the local path ran.
  *
  * Usage: runMain graft.tools.LrGateBench [train rows,...] [cv rows,...] [reps]
  * (defaults: 116508,116509 / 3996,4000 / 3 — each the largest frame the
  * default bound admits and the smallest it rejects). */
object LrGateBench {

  def main(args: Array[String]): Unit = {
    def sizes(i: Int, default: String) = args.lift(i).getOrElse(default).split(",").map(_.toInt).toSeq
    val trainRows = sizes(0, "116508,116509")
    val cvRows = sizes(1, "3996,4000")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val features = (1 to 7).map(j => s"x$j")
    def frame(n: Int) = {
      val xs = features.zipWithIndex.map { case (c, j) => randn(100L + j).as(c) }
      val base = spark.range(n).repartition(4).select(col("id") +: xs: _*)
      base.withColumn("label",
        (col("x1") * 1.2 - col("x2") * 0.4 + col("x3") * 0.3 + randn(7L) > 0.2).cast("double"))
        .persist()
    }
    def time(op: String, n: Int, side: String)(run: => Boolean): Unit = {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val local = run
      val s = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "$op", "rows": $n, "side": "$side", "wall_s": $s%.3f, "jobs": ${jobs.get() - j0}, "local": $local}""")
    }
    def isLocal(m: org.apache.spark.ml.PipelineModel) =
      !m.stages(1).asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel].hasSummary
    try {
      for ((op, rows) <- trainRows.map("train" -> _) ++ cvRows.map("cv" -> _)) {
        val df = frame(rows)
        df.count()
        def run(bound: Int): Boolean =
          if (op == "train") isLocal(Training.trainImpl(df, "label", features, "logistic_regression", bound))
          else isLocal(Training.gridSearchImpl(df, "label", features, "logistic_regression",
            Map("regParam" -> Seq(0.0, 0.1)), 2, bound).bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel])
        run(Training.LocalFitMaxCells) // warm both paths once, untimed
        run(0)
        for (_ <- 1 to reps) {
          time(op, rows, "gated")(run(Training.LocalFitMaxCells))
          time(op, rows, "spark")(run(0))
        }
        df.unpersist(true)
      }
    } finally spark.stop()
  }
}
