package graft.pipeline

import graft.config.Context

/** Processor registry + declarative job planner + sequential fail-safe
  * runner (reference: src/ta_lib/pyspark/processors.py:32-47 decorator
  * registry, job_planner.py:8-47, job_runner.py:51-78 — the reference's
  * "joblib" docstring notwithstanding, execution is sequential there too).
  *
  * A processor has two phases. Its parse phase sees only the task's
  * [[Params]] — no Context, no SparkSession — reads every key it
  * understands, and returns its run phase, `Context => Unit`. [[plan]]
  * runs the parse phase of every selected task before anything executes,
  * so a config mistake (an unknown task, a key nobody reads, a value that
  * does not coerce, a choice outside its set, a missing required key)
  * fails the run before any data is touched.
  */
object Jobs {

  type Processor = Params => Context => Unit

  private val registry = scala.collection.mutable.LinkedHashMap[(String, String), Processor]()

  /** Register a processor for (job, task) — the @register_processor
    * equivalent. The body is the parse phase: it reads each key once
    * through `p` (`p.int("min_words", 50)`, ...) and returns the run
    * phase; a param key the parse phase never reads is rejected at plan
    * time with the stage's known keys. */
  def register(job: String, task: String)(p: Processor): Unit =
    registry.put((job, task), p)

  /** Every registered (job, task), in registration order. */
  def registered: Seq[(String, String)] = registry.keys.toSeq

  /** The parse phase of (job, task) over `params`: its run phase, or an
    * IllegalArgumentException whose message names the stage. */
  def parse(job: String, task: String, params: Map[String, Any]): Context => Unit =
    try {
      val proc = registry.getOrElse((job, task), throw new IllegalArgumentException(
        s"no processor; known: ${registry.keys.map { case (j, t) => s"$j/$t" }.mkString(", ")}"))
      val p = new Params(params)
      val run = proc(p)
      p.check()
      run
    } catch {
      case e: Exception => throw new IllegalArgumentException(s"$job/$task: ${e.getMessage}", e)
    }

  final case class TaskPlan(name: String, params: Map[String, Any], run: Context => Unit)
  final case class StagePlan(name: String, tasks: List[TaskPlan])
  final case class JobPlan(name: String, stages: List[StagePlan], failFast: Boolean = false)

  /** A task whose parse phase failed, with its raw params and error. */
  final case class PlanError(
      job: String, stage: String, task: String, params: Map[String, Any], message: String)
  final class PlanException(val errors: Seq[PlanError])
      extends IllegalArgumentException(errors.map(_.message).mkString("\n"))

  /** job_catalog tree → ordered plans (reference: job_planner.py:8-47),
    * every task parsed; throws a [[PlanException]] listing every task
    * that does not parse. */
  def plan(ctx: Context, jobName: String): List[JobPlan] = {
    val jobs = Context
      .dig(ctx.config, "job_catalog.jobs")
      .map(_.asInstanceOf[List[Map[String, Any]]])
      .getOrElse(Nil)
    val selected = if (jobName == "all") jobs else jobs.filter(_.get("name").contains(jobName))
    if (selected.isEmpty)
      throw new IllegalArgumentException(s"no job '$jobName' in job_catalog")
    val errors = scala.collection.mutable.ListBuffer[PlanError]()
    val plans = selected.map { j =>
      val job = j("name").toString
      val stages = j.getOrElse("stages", Nil).asInstanceOf[List[Map[String, Any]]].map { s =>
        val stage = s("name").toString
        val tasks = s.getOrElse("tasks", Nil).asInstanceOf[List[Map[String, Any]]].map { t =>
          val task = t("name").toString
          val params = t.getOrElse("params", Map.empty[String, Any]).asInstanceOf[Map[String, Any]]
          val run =
            try parse(job, task, params)
            catch {
              case e: IllegalArgumentException =>
                errors += PlanError(job, stage, task, params, e.getMessage)
                (_: Context) => ()
            }
          TaskPlan(task, params, run)
        }
        StagePlan(stage, tasks)
      }
      // fail_fast: a job whose tasks pass data through zones should abort
      // on the first failure — continuing would let later tasks silently
      // consume a STALE zone written by a previous run
      JobPlan(job, stages, j.get("fail_fast").exists(_.toString.toBoolean))
    }
    if (errors.nonEmpty) throw new PlanException(errors.toList)
    plans
  }

  /** [[plan]], with a plan failure reported the way a failed task is (log
    * line + tracking record) and returned as Left of the failed tasks. */
  def planned(ctx: Context, jobName: String): Either[Seq[(String, String, String)], List[JobPlan]] =
    try Right(plan(ctx, jobName))
    catch {
      case e: PlanException =>
        e.errors.foreach { err =>
          record(ctx, Tracking.RunRecord(
            err.job, err.stage, err.task, "failed", 0.0, err.params, Some(err.message)))
          System.err.println(s"[graft] ${err.job}/${err.stage}/${err.task} FAILED at plan: ${err.message}")
        }
        System.err.println(s"[graft] ${e.errors.size} task(s) failed to plan; no task ran")
        Left(e.errors.map(err => (err.job, err.stage, err.task)))
    }

  private def record(ctx: Context, r: Tracking.RunRecord): Unit =
    ctx.trackingPath.foreach { p =>
      try Tracking.append(p, r)
      catch {
        case e: Throwable =>
          System.err.println(s"[graft] tracking append failed: ${e.getMessage}")
      }
    }

  /** Plan, then execute: a catalog with any task that does not parse runs
    * no task and returns every such task as a failure. */
  def run(ctx: Context, jobName: String, failFast: Boolean = false): Seq[(String, String, String)] =
    planned(ctx, jobName).fold(identity, execute(ctx, _, failFast))

  /** Sequential execution; a failing task is reported and does not abort
    * the run (reference _safe_runner, job_runner.py:51-61) unless
    * failFast. Returns the failed (job, stage, task) triples.
    *
    * When the log_catalog names a tracking path, every executed task
    * appends a run record (job/stage/task, params, wall time, status) —
    * the reference's mlflow wrapping (tracking.py, task_runner.py:92-128)
    * as an append-only JSONL log. */
  def execute(ctx: Context, plans: List[JobPlan], failFast: Boolean = false): Seq[(String, String, String)] = {
    val failures = scala.collection.mutable.ListBuffer[(String, String, String)]()
    plans.foreach { job =>
      // a failed task in a fail-fast job skips the REST OF THAT JOB (its
      // later tasks would read stale zone outputs from a previous run) but
      // not other jobs in an `all` run
      var jobAborted = false
      job.stages.foreach { stage =>
        stage.tasks.foreach { task =>
          if (!jobAborted) {
            val t0 = System.nanoTime()
            def done(status: String, err: Option[String]): Unit =
              record(ctx, Tracking.RunRecord(
                job.name, stage.name, task.name, status,
                (System.nanoTime() - t0) / 1e9, task.params, err))
            try {
              task.run(ctx)
              done("ok", None)
              println(f"[graft] ${job.name}/${stage.name}/${task.name} ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
            } catch {
              case e: Throwable =>
                failures += ((job.name, stage.name, task.name))
                done("failed", Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
                System.err.println(s"[graft] ${job.name}/${stage.name}/${task.name} FAILED: ${e.getMessage}")
                if (failFast) throw e
                if (job.failFast) {
                  jobAborted = true
                  System.err.println(s"[graft] ${job.name}: fail_fast — skipping the job's remaining tasks")
                }
            }
          }
        }
      }
    }
    failures.toSeq
  }
}
