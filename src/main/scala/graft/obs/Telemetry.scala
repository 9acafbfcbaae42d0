package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one Spark listener of the measuring tools (Bench, JobProfile,
  * GateBench, ScaleBench): per measured window, the jobs and completed
  * stages Spark ran, with the stage-level task metrics Spark aggregates
  * (`stageInfo.taskMetrics`).
  *
  * Events count only inside a [[measure]] window, so an attached listener
  * costs one flag check per event elsewhere. `measure` drains the
  * asynchronous listener bus before it opens the window and again before
  * it reads it: no window holds another's events, and no read comes
  * before the bus has delivered the window's last event. */
final class Telemetry private (sc: SparkContext) extends SparkListener {
  import Telemetry._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  @volatile private var open = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (open) synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, desc, e.time, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (open) synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (open) synchronized {
    val info = e.stageInfo
    val m = Option(info.taskMetrics)
    stages += Stage(info.stageId, stageJob.getOrElse(info.stageId, -1),
      info.rddInfos.flatMap(_.scope.map(_.name)).distinct.toSeq, info.numTasks,
      m.fold(0L)(_.executorRunTime),
      m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
      m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      m.fold(0L)(_.diskBytesSpilled))
  }

  private def drain(): Unit = org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)

  /** Run `body` and return its value with the record of the Spark work it
    * did and of its wall time (the drains not included). Windows must not
    * overlap. */
  def measure[T](body: => T): (T, Record) = {
    drain()
    synchronized { jobs.clear(); stageJob.clear(); stages.clear() }
    open = true
    try {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      drain()
      (out, synchronized(Record(start, sec, jobs.values.toSeq, stages.toSeq)))
    } finally open = false
  }
}

object Telemetry {

  /** One job; `start`/`end` are epoch milliseconds (`end == start` while
    * it runs). */
  final case class Job(id: Int, description: String, start: Long, end: Long)

  /** One completed stage: its job (-1 if that job started outside the
    * window), the RDD-scope names of the physical operators it ran, and its
    * task metrics summed over tasks. */
  final case class Stage(id: Int, job: Int, scopes: Seq[String], tasks: Int,
      runMs: Long, shuffleRead: Long, shuffleWrite: Long, spilled: Long)

  /** One window: when its body started (epoch milliseconds), how long it
    * ran (seconds), and the jobs (in start order) and completed stages it
    * launched. */
  final case class Record(start: Long, sec: Double, jobs: Seq[Job], stages: Seq[Stage]) {
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    /** Bytes spilled to disk. */
    def spilled: Long = stages.map(_.spilled).sum
  }

  /** A listener attached to `spark`'s context; it lives as long as the
    * context does. */
  def attach(spark: SparkSession): Telemetry = {
    val t = new Telemetry(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }
}
