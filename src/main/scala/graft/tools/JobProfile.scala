package graft.tools
import graft.Sessions
import graft.obs.Json

/** How long a query takes and where the time goes (r20 optimization round).
  *
  * The bench tells us WHAT a query costs; this tool tells us WHERE —
  * Spark job count and per-job wall/task time, so "3 s on 17 MB of
  * parquet" decomposes into "a k-means fit of 18 jobs" vs "one slow
  * stage". Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobProfile q1 q2"
  *
  * Each query runs five times in one fresh session, each run
  * against a cold Spark cache and timed on `.count()` as the bench is, so
  * the numbers compare with cold_min. Per query it prints one JSON line,
  * `{"query","min_sec","median_sec","runs"}` — the same-session probe for
  * bench-drift adjudication: the min is the least-noise estimator to hold
  * against a suite's numbers. Then come the per-job lines of the fastest
  * run, with the gap before each job (driver-side planning / non-Spark
  * work) called out, because at sf0.1 the driver gaps are routinely half
  * the query, and its eight stages with the most task time, labeled by
  * the RDD scopes of the physical operators they ran.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile query...")
    val reps = 5
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val telemetry = graft.obs.Telemetry.attach(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchQueries

    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().count()
    for (name <- args) {
      val fn = all(name)
      val measured = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        telemetry.measure(fn(spark, dir).count())._2
      }
      val times = measured.map(_.sec)
      println(Json.render(Json.obj("query" -> name, "min_sec" -> Json.sec(times.min), "median_sec" -> Json.sec(times.sorted.apply(reps / 2)), "runs" -> times.map(Json.sec))))
      val rec = measured.minBy(_.sec)
      println(f"=== $name fastest=${rec.sec}%.2fs jobs=${rec.jobs.size}")
      var prevEnd = rec.start
      for (j <- rec.jobs.sortBy(_.start)) {
        val gap = j.start - prevEnd
        prevEnd = math.max(prevEnd, j.end)
        val st = rec.stages.filter(_.job == j.id)
        println(f"  job ${j.id}%3d wall=${(j.end - j.start) / 1000.0}%6.3fs gapBefore=${gap / 1000.0}%6.3fs tasks=${st.map(_.tasks).sum}%4d taskTime=${st.map(_.runMs).sum / 1000.0}%7.3fs  ${j.description.take(80)}")
      }
      val wall = rec.jobs.map(j => j.end - j.start).sum / 1000.0
      println(f"  sum(job wall)=$wall%.3fs driver-gaps=${rec.sec - wall}%.3fs")
      for (st <- rec.stages.sortBy(-_.runMs).take(8))
        println(f"  stage ${st.id}%4d job=${st.job}%3d tasks=${st.tasks}%4d taskTime=${st.runMs / 1000.0}%7.3fs  ${st.scopes.mkString(" | ").take(160)}")
    }
    spark.stop()
  }
}
