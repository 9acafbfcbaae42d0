package graft

import graft.obs.Json
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Honest accounting:
  *   - a warm-up query runs first so JVM/codegen/session init is not
  *     charged to the alphabetically-first query;
  *   - before each query, spark.catalog.clearCache() and an unpersist of
  *     any leftover persistent RDDs — no query's time includes (or
  *     benefits from) another query's cached state. BENCH_r02 inflated
  *     mid-run queries up to ~95x through accumulated cache + heap
  *     pressure in a shared long-lived session;
  *   - each query runs four times against a cold cache: two cold
  *     attempts and two warm ones (both sides min-of-two, so warm and
  *     cold_min share a noise floor). The headline per-query number is
  *     cold_min = min of the two cold attempts — a single hypervisor
  *     spike or first-use-of-this-plan codegen/JIT stall can inflate one
  *     attempt but not both (the r4→r5 `ngram_jaccard` 4.5× "regression"
  *     was exactly this: the first execution of the new plan pays ~1 s of
  *     codegen+JIT that no steady-state run repeats — measured in
  *     SCALE.md). The first attempt is kept as "cold" in the detail file
  *     for comparability with BENCH_r05 and earlier; "warm" (OS page
  *     cache + JIT steady state, still no Spark cache) rides along as
  *     before;
  *   - a query that throws is recorded with time -1 (never confused with
  *     a fast success), and the error count + names are in the output;
  *   - transient ambient load (e.g. a prior `sbt test` Spark JVM still
  *     shutting down when build steps are chained) is guarded per query: a cold run measuring implausibly slower than its warm twin
  *     is re-measured once (still against a cold cache) and the faster
  *     attempt reported.
  */
object Bench {

  private def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One query's measurement. cold is the first cold attempt, coldMin
    * the headline min of two, warm the min of two; all three and rows are
    * -1 for a query that threw. io is (shuffle read, shuffle write,
    * spilled) bytes of the headline run. */
  final case class Result(
      name: String,
      cold: Double,
      coldMin: Double,
      warm: Double,
      rows: Long,
      io: (Long, Long, Long),
      err: Option[String])

  /** `BENCH_DETAIL.json`: every query's times, rows and IO. */
  def detailJson(sfDir: String, results: Seq[Result]): String = Json.render(Json.obj(
    "sf" -> sfDir, "n_queries" -> results.size, "n_failed" -> results.count(_.cold < 0),
    "total" -> total(results, _.coldMin), "total_first_cold" -> total(results, _.cold),
    "total_warm" -> total(results, _.warm),
    "queries" -> Json.obj(results.map(r => r.name -> Json.obj(
      "cold" -> Json.sec(r.cold), "cold_min" -> Json.sec(r.coldMin), "warm" -> Json.sec(r.warm),
      "rows" -> r.rows, "shuffle_read" -> r.io._1, "shuffle_write" -> r.io._2, "spilled" -> r.io._3)): _*),
    "errors" -> errors(results)))

  /** The stdout line. It carries only the headline queries' cold_min: a
    * harness that keeps a bounded tail of the build output recorded
    * `parsed: null` in BENCH_r01..r03, because the full 76-query line
    * (~4.5 KB) overflowed that window. The headline line is ~1 KB and
    * survives; BENCH_DETAIL.json keeps the rest reviewable. */
  def headlineJson(sfDir: String, results: Seq[Result]): String = Json.render(Json.obj(
    "metric" -> "total", "value" -> total(results, _.coldMin), "unit" -> "sec",
    "queries" -> Json.obj(results.filter(r => headline(r.name)).map(r => r.name -> Json.sec(r.coldMin)): _*),
    "total_first_cold" -> total(results, _.cold), "total_warm" -> total(results, _.warm),
    "sf" -> sfDir, "n_queries" -> results.size, "n_failed" -> results.count(_.cold < 0),
    "errors" -> errors(results), "detail" -> "BENCH_DETAIL.json"))

  /** Every op BASELINE.md times, plus the heavy LLM-pipeline ops. */
  private val headline = Set(
    "check_consistency", "missing_counts", "join_chain", "e1_feature_pipeline",
    "impute_mean", "impute_mode", "stratified_split", "correlation_matrix",
    "outlier_bounds", "onehot_encoding", "target_encoding", "binary_metrics",
    "set_analysis", "dedup_exact", "dedup_minhash", "dedup_cluster_survivors",
    "lang_id", "cosine_topk", "ann_lsh_topk", "iv_table", "ngram_jaccard",
    "sequence_packing", "line_dedup", "curation_e2e", "ann_ivf_search",
    "ann_ivf_filtered")

  private def total(results: Seq[Result], time: Result => Double) =
    Json.sec(results.filter(_.cold >= 0).map(time).sum)
  private def errors(results: Seq[Result]) =
    Json.obj(results.filter(_.cold < 0).map(r => r.name -> r.err.getOrElse("").take(120)): _*)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // stage-level IO accounting: shuffle read/write + disk spill bytes per
    // query (the "did this plan shuffle more than it had to" number the
    // scale notes argue from — measured, not guessed)
    // SPARK_GRAFT_IO_METRICS=0 opts out of IO accounting entirely (no
    // listener registered, no bus drain) — the control arm for verifying
    // the accounting itself never distorts the timings it annotates
    val ioMetrics = sys.env.getOrElse("SPARK_GRAFT_IO_METRICS", "1") != "0"
    var telemetry: Option[graft.obs.Telemetry] = None

    // Session lifecycle: the r11 run proved that one long-lived session
    // over 178 queries contaminates measurement — plans with byte-identical
    // shuffle volumes ran 3-14x slower late in the suite (accumulated heap
    // garbage, codegen-cache churn, listener-bus backlog). Each session now
    // serves a bounded slice of queries and is then stopped, the heap
    // GC'd, and a fresh session warmed up. Codegen/JIT steady state lives
    // in JVM-static caches and survives the recycle, so per-query numbers
    // stay comparable with earlier rounds' cold/warm definitions.
    def newSession(): SparkSession = {
      // Sessions.local's reliable checkpoint dir keeps localCheckpoint
      // blocks (and their unpersist warnings) from accumulating mid-bench
      val spark = Sessions.local(cpus)
      telemetry = if (ioMetrics) Some(graft.obs.Telemetry.attach(spark)) else None
      // session warm-up: one tiny end-to-end job (scan, shuffle, agg)
      // absorbs class-loading / codegen / scheduler start-up costs.
      try spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
      catch { case _: Throwable => () }
      spark
    }
    def recycle(old: SparkSession): SparkSession = {
      old.stop()
      System.gc()
      newSession()
    }
    val recycleEvery =
      sys.env.getOrElse("SPARK_GRAFT_RECYCLE_EVERY", "40").toInt

    var spark = newSession()

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run to a comma-separated
    // subset — a seconds-long loop when chasing one query's number. A name
    // matching nothing is a loud error: a typo would otherwise bench zero
    // queries successfully and clobber BENCH_DETAIL.json with an empty run.
    val allQueries = SparkEntry.queries ++ SparkEntry.benchQueries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- allQueries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names no registered query: ${unknown.mkString(", ")}")
    }
    // Model-training audits run in a SEPARATE LANE at the end of the
    // suite, each behind a session recycle: an iterative spark.ml fit
    // heats the heap and GC for everything measured after it, so it must
    // never sit mid-alphabet inside the lane every other query shares.
    val heavyLane = Set("quality_classifier_audit")
    val selected = allQueries.toSeq
      .filter(q => only.forall(_.contains(q._1)))
      .sortBy(_._1)
    val ordered = selected.filterNot(q => heavyLane(q._1)) ++
      selected.filter(q => heavyLane(q._1))
    var sinceRecycle = 0
    val results: Seq[Result] =
      ordered.map { case (name, fn) =>
        if (sinceRecycle >= recycleEvery ||
            (heavyLane(name) && sinceRecycle > 0)) {
          System.err.println(s"[bench] recycling session before $name")
          spark = recycle(spark)
          sinceRecycle = 0
        }
        sinceRecycle += 1
        clearState(spark)
        System.gc() // drop the previous query's garbage outside the timers
        try {
          var lastIO = (0L, 0L, 0L)
          def measure(): (Double, Long) = telemetry match {
            case Some(t) =>
              val (rows, rec) = t.measure(fn(spark, sfDir).count())
              lastIO = (rec.shuffleRead, rec.shuffleWrite, rec.spilled)
              (rec.sec, rows)
            case None =>
              val t0 = System.nanoTime()
              val rows = fn(spark, sfDir).count()
              ((System.nanoTime() - t0) / 1e9, rows)
          }
          val (cold0, n) = measure()
          val io0 = lastIO
          clearState(spark)
          // second independent cold attempt: cold_min = min of the two is
          // the noise-suppressed headline (one spike can't pollute both)
          val (cold1, _) = measure()
          var io = if (cold1 < cold0) lastIO else io0
          var coldMin = math.min(cold0, cold1)
          clearState(spark)
          // min-of-two warm, matching the cold_min convention: a single
          // ambient spike in the one warm attempt used to read as a
          // warm-slower-than-cold "regression" (r13 ann_ivfpq_search)
          val warm0 = measure()._1
          clearState(spark)
          var warm = math.min(warm0, measure()._1)
          // cold_min >> warm on an identical cold-cache plan = BOTH cold
          // attempts stalled (ambient load / background JIT), not the
          // query: re-measure once against a cold cache and keep the
          // faster honest attempt. The absolute 15 s tripwire catches
          // stalls on queries whose honest cold/warm ratio is already near
          // the 5x bar (no sf0.1 query legitimately takes 15 s; a legit
          // slow query just re-measures once and keeps its slow number).
          if (coldMin > math.max(5 * warm, 2.0) || coldMin > 15.0) {
            clearState(spark)
            val (retry, _) = measure()
            if (retry < coldMin) {
              System.err.println(f"[bench] $name cold_min $coldMin%.2fs looked stalled (warm $warm%.2fs); retry $retry%.2fs")
              coldMin = retry
              // publish the io of the run whose time is the headline, not
              // the stalled attempt's
              io = lastIO
            }
          }
          // warm meaningfully slower than cold is equally impossible without
          // an external stall — same one-shot re-measure
          if (warm > math.max(1.5 * coldMin, 2.0)) {
            clearState(spark)
            val (retry, _) = measure()
            if (retry < warm) {
              System.err.println(f"[bench] $name warm $warm%.2fs exceeded cold_min $coldMin%.2fs; retry $retry%.2fs")
              warm = retry
            }
          }
          clearState(spark)
          Result(name, cold0, coldMin, warm, n, io, None)
        } catch {
          case e: Throwable =>
            Result(name, -1.0, -1.0, -1.0, -1L, (0L, 0L, 0L), Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
        }
      }

    val failed = results.filter(_.cold < 0)
    failed.foreach(r => System.err.println(s"[bench] FAILED ${r.name}: ${r.err.getOrElse("")}"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detailJson(sfDir, results).getBytes("UTF-8"))
    println(headlineJson(sfDir, results))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
