package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.obs.Json

/** Minimal experiment tracking: one JSON line per executed task appended to
  * a run log (reference: src/ta_lib/pyspark/tracking.py wraps every task in
  * an mlflow run with params/metrics/wall time; the mlflow server is
  * replaced by an append-only JSONL file named in the log_catalog — the
  * same queryable record, no tracking-server dependency).
  */
object Tracking {

  final case class RunRecord(
      job: String,
      stage: String,
      task: String,
      status: String, // "ok" | "failed"
      wallSec: Double,
      params: Map[String, Any],
      error: Option[String] = None)

  /** The record as one JSON line. Params are sorted by key; YAML list
    * and map params are JSON arrays and objects; `error` is present only
    * on a failed task. */
  def toJson(r: RunRecord, tsMillis: Long): String = {
    val fields = Seq(
      "ts_ms" -> tsMillis, "job" -> r.job, "stage" -> r.stage, "task" -> r.task,
      "status" -> r.status, "wall_sec" -> r.wallSec,
      "params" -> Json.obj(r.params.toSeq.sortBy(_._1): _*))
    Json.render(Json.obj(fields ++ r.error.map("error" -> _): _*))
  }

  /** Append the record to the JSONL run log, creating parent dirs. */
  def append(path: String, r: RunRecord, tsMillis: Long = System.currentTimeMillis()): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(
      p,
      (toJson(r, tsMillis) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
