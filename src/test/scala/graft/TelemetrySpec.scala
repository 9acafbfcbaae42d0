package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col

/** The measuring tools' one listener: what a window records for a plan
  * whose jobs, stages and shuffles are known. */
class TelemetrySpec extends SparkSpec {

  test("a measured window holds exactly its own jobs, stages and shuffle bytes") {
    val telemetry = obs.Telemetry.attach(spark)
    // without AQE the plan is fixed: one job of three stages — the 2-task
    // range scan writes the repartition shuffle, 4 tasks read it and write
    // the partial counts, 1 task reads those and finishes the count
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.range(0, 20000, 1, 2).repartition(4).groupBy().count()
      // a slow listener on the same bus: the window's events are still
      // queued when the action returns
      val slow = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(150)
        override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(150)
      }
      spark.sparkContext.addSparkListener(slow)
      val (rows, rec) =
        try telemetry.measure(df.collect())
        finally spark.sparkContext.removeSparkListener(slow)
      assert(rows.head.getLong(0) === 20000L)
      // read right after the action: every job is in, and has ended
      assert(rec.jobs.size === 1)
      assert(rec.jobs.forall(j => j.end >= j.start && j.start >= rec.start))
      assert(rec.sec > 0)
      assert(rec.stages.map(_.job).toSet === rec.jobs.map(_.id).toSet)
      assert(rec.stages.map(_.tasks).sorted === Seq(1, 2, 4))
      assert(rec.stages.map(_.tasks).sum === 7)
      assert(rec.stages.exists(_.scopes.nonEmpty))
      assert(rec.shuffleWrite > 0)
      assert(rec.shuffleRead === rec.shuffleWrite)
      assert(rec.spilled === 0L)

      // a second window starts at zero: it holds none of the first's events
      val (_, idle) = telemetry.measure(())
      assert(idle.jobs.isEmpty && idle.stages.isEmpty)
      assert(idle.shuffleRead === 0L && idle.shuffleWrite === 0L)

      // and only its own: a second action is counted once, by itself
      val (_, again) = telemetry.measure(spark.range(0, 100, 1, 3).filter(col("id") > 5).count())
      assert(again.jobs.size === 1)
      assert(again.stages.map(_.tasks).sorted === Seq(1, 3))
      assert(!again.jobs.map(_.id).exists(rec.jobs.map(_.id).contains))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
