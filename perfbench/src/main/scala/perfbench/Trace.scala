package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Span and Spark-event recorder. Every time is epoch microseconds on one
  * clock, so spans (driver thread), jobs (listener bus) and query
  * executions (planning tracker) can be matched by interval.
  *
  * Spans are always recorded: they are how ops are timed. The listeners
  * are attached only while `tracing` is on, so an untraced run pays
  * nothing for them. The arithmetic over these records (self time, driver
  * gap, percentiles) lives in `perfbench/stats.py`. */
final class Trace {
  import Trace._

  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  @volatile var tracing = false

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time the listeners' callbacks took: what tracing costs. */
  private var listenerNs = 0L
  private def charged(body: => Unit): Unit = {
    val c0 = threads.getCurrentThreadCpuTime
    try body
    finally {
      val d = threads.getCurrentThreadCpuTime - c0
      Trace.this.synchronized { listenerNs += d }
    }
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT compiler threads' /proc stat files. HotSpot hides these
    * threads from ThreadMXBean; the JVM must run with
    * -XX:-UseDynamicNumberOfCompilerThreads, so they are all there from
    * the start and none exits taking its CPU time with it. */
  private val jitStats: Seq[Path] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator.asScala.toSeq
      .filter(t => Files.readString(t.resolve("comm")).matches("(?s)C[12] CompilerThre.*"))
      .map(_.resolve("stat"))
    finally tasks.close()
  }
  require(jitStats.nonEmpty, "no JIT compiler threads found under /proc/self/task")

  /** CPU time of the JIT compiler threads, in microseconds (utime + stime
    * in 10 ms clock ticks). */
  def jitUs: Long = jitStats.map { p =>
    val f = Files.readString(p).split("\\) ", 2)(1).split(' ')
    (f(11).toLong + f(12).toLong) * 10000L
  }.sum

  /** CPU time of the whole JVM (all threads, GC included) minus the JIT
    * compiler's, in microseconds: the program's own work. */
  def cpuUs: Long = os.getProcessCpuTime / 1000L - jitUs

  /** Time `body` as a span named `name`, nested under the open span. A
    * throwing body still closes its span (marked failed) and rethrows. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), nowUs, 0L,
      gcMs, 0L, cpuUs, 0L, jitUs, 0L, tracing, mutable.LinkedHashMap(attrs: _*))
    spans += s
    open.push(s)
    try body
    catch { case e: Throwable => s.attrs("failed") = true; throw e }
    finally {
      s.t1 = nowUs; s.gcMs = gcMs - s.gc0; s.cpuUs = cpuUs - s.cpu0; s.jitUs = jitUs - s.jit0
      open.pop()
    }
  }

  private object sparkSide extends SparkListener {
    private def onBus(body: => Unit): Unit = charged(Trace.this.synchronized(body))
    override def onJobStart(e: SparkListenerJobStart): Unit = onBus {
      jobs(e.jobId) = Job(e.jobId, e.time * 1000L, 0L, 0, 0L, 0L, 0L, 0L, 0L, 0L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = onBus {
      jobs.get(e.jobId).foreach(_.t1 = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = onBus {
      val info = e.stageInfo
      for (jid <- stageJob.get(info.stageId); j <- jobs.get(jid)) {
        j.stages += 1
        j.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def filesWritten(p: SparkPlan): Long = p match {
    case d: DataWritingCommandExec =>
      d.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L) + p.children.map(filesWritten).sum
    case c: CommandResultExec => filesWritten(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
    case q: QueryStageExec => filesWritten(q.plan)
    case other => other.children.map(filesWritten).sum
  }

  private object planSide extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = charged {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val files = try filesWritten(qe.executedPlan) catch { case _: Throwable => 0L }
        Trace.this.synchronized {
          plans += Plan(phases.map(_.startTimeMs).min * 1000L, phases.map(_.durationMs).sum, files)
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Attach (or detach) the listeners; spans opened while attached are
    * marked traced. Detaching drains the bus first so no event is lost. */
  def setTracing(spark: SparkSession, on: Boolean): Unit = if (on != tracing) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkSide)
      spark.listenerManager.register(planSide)
    } else {
      drain(spark)
      spark.sparkContext.removeSparkListener(sparkSide)
      spark.listenerManager.unregister(planSide)
    }
    tracing = on
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)

  def toJson: Any = Trace.this.synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "t0" -> s.t0, "t1" -> s.t1, "gc_ms" -> s.gcMs, "cpu_us" -> s.cpuUs, "jit_us" -> s.jitUs, "traced" -> s.traced,
        "attrs" -> s.attrs.toMap)),
      "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id, "t0" -> j.t0, "t1" -> j.t1,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "bytes_written" -> j.bytesWritten)),
      "plans" -> plans.toSeq.map(p => Map("t0" -> p.t0, "plan_ms" -> p.planMs, "files" -> p.files)),
      "listener_cpu_us" -> listenerNs / 1000L)
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, t0: Long, var t1: Long,
      gc0: Long, var gcMs: Long, cpu0: Long, var cpuUs: Long, jit0: Long, var jitUs: Long,
      traced: Boolean,
      attrs: mutable.Map[String, Any])
  final case class Job(id: Int, t0: Long, var t1: Long, var stages: Int, var tasks: Long,
      var taskMs: Long, var shuffleRead: Long, var shuffleWrite: Long, var spill: Long,
      var bytesWritten: Long)
  final case class Plan(t0: Long, planMs: Long, files: Long)
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
