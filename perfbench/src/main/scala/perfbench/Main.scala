package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM:
  *
  *   1. set up `graft.Sessions.local(nproc)` several times (start + a tiny
  *      scan/shuffle/aggregate warm-up each), keeping the last session;
  *   2. `prepare` the workload (untimed: output-check pass, warm-up);
  *   3. time its one `cold` op (first pipeline pass / index build / cold
  *      query pass) as a span;
  *   4. run a closed loop of `op` spans, in whole cycles, until
  *      `--seconds` have passed, with a full GC before each op;
  *   5. `finish` (untimed: results the output checks read) and write every
  *      record as one JSON file for `run.py`.
  *
  * With `--trace 1` the Spark listeners are attached for the cold op and
  * the loop, and the CPU time their callbacks take is recorded.
  *
  * CPU times are the JVM's minus its JIT compiler threads' (see
  * `Trace.cpuUs`); the compiler's own is recorded beside them.
  *
  * Usage: perfbench.Main --workload <name> --data <dir> --work <dir>
  *          --seconds <s> --trace <0|1> --seed <n> --out <file> */
object Main {

  final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long, trace: Trace,
      traced: Boolean)

  trait Workload {
    /** Small input table the session warm-up scans. */
    def warmTable: String
    def prepare(c: Ctx): Unit = ()
    def cold(c: Ctx): Unit
    /** One steady op; returns span attributes (e.g. the query name). */
    def op(c: Ctx, i: Int): Unit
    /** Ops per loop cycle; the loop only stops between cycles. */
    def cycle: Int = 1
    def opAttrs(i: Int): Seq[(String, Any)] = Nil
    def finish(c: Ctx): Map[String, Any] = Map.empty
  }

  /** Live heap after a full collection: called between ops (outside the
    * timers, as graft.Bench does), so every op starts on a clean heap and
    * the largest value is the most memory an op boundary retains. */
  private def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val seed = opt("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors().toString
    val workload: Workload = opt("workload") match {
      case "propensity-ref" => new Propensity
      case "query-mix" => new QueryMix
      case other => sys.error(s"unknown workload '$other'")
    }
    val trace = new Trace
    val extra = Map(
      "spark.checkpoint.dir" -> s"$work/checkpoint",
      "spark.local.dir" -> s"$work/local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")

    // 1. setup, five times; the last session serves the workload
    var spark: SparkSession = null
    val setupRecs = (1 to 5).map { _ =>
      if (spark != null) spark.stop()
      val cpu0 = trace.cpuUs
      val jit0 = trace.jitUs
      val t0 = System.nanoTime()
      spark = graft.Sessions.local(cores, extra)
      val t1 = System.nanoTime()
      val warm = spark.read.parquet(s"$data/${workload.warmTable}.parquet")
      warm.groupBy(warm.columns.head).count().write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Map("start_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "cpu_s" -> (trace.cpuUs - cpu0) / 1e6, "jit_s" -> (trace.jitUs - jit0) / 1e6)
    }
    val c = Ctx(spark, data, work, seed, trace, traceOn)

    // 2-4. prepare, cold op, closed loop
    workload.prepare(c)
    trace.setTracing(spark, traceOn)
    runOp(c, "cold")(workload.cold(c))
    val loopEnd = System.nanoTime() + (seconds * 1e9).toLong
    // whole cycles only, so every op of a cycle has the same number of
    // samples whatever the order; at least one cycle
    var i = 0
    var peakHeap = 0L
    while (i == 0 || System.nanoTime() < loopEnd) {
      (0 until workload.cycle).foreach { _ =>
        clearState(spark)
        peakHeap = math.max(peakHeap, liveHeapBytes())
        runOp(c, "op", workload.opAttrs(i): _*)(workload.op(c, i))
        i += 1
      }
    }
    trace.setTracing(spark, on = false)

    peakHeap = math.max(peakHeap, liveHeapBytes())

    // 5. untimed outputs for the checks
    val facts = try workload.finish(c) catch {
      case e: Throwable => Map("finish_error" -> String.valueOf(e.getMessage))
    }
    val out = Map(
      "workload" -> opt("workload"),
      "cores" -> cores.toInt,
      "setups" -> setupRecs,
      "peak_heap_mb" -> peakHeap / 1048576.0,
      "facts" -> facts,
      "trace" -> trace.toJson)
    Files.writeString(Paths.get(opt("out")), Json(out))
    spark.stop()
  }

  /** A failing op is recorded (span attribute `failed`) and the run goes on. */
  private def runOp(c: Ctx, name: String, attrs: (String, Any)*)(body: => Unit): Unit =
    try c.trace.span(name, attrs: _*)(body)
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name ${attrs.mkString(" ")} failed: ${e.getMessage}")
    }

  /** No op may reuse another op's cached state (same rule as graft.Bench). */
  private def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
