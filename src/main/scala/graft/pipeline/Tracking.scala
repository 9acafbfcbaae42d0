package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

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

  /** JSON string-body escape: quote, backslash, and every control char
    * below 0x20. Bench and Verify use it for their JSON output too. */
  private[graft] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => n.toString
    case n: Double => n.toString
    case n: java.math.BigDecimal => n.toString
    case other => "\"" + esc(other.toString) + "\""
  }

  def toJson(r: RunRecord, tsMillis: Long): String = {
    val params = r.params.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":" + jsonValue(v) }
      .mkString("{", ",", "}")
    val err = r.error.map(e => ",\"error\":\"" + esc(e) + "\"").getOrElse("")
    s"""{"ts_ms":$tsMillis,"job":"${esc(r.job)}","stage":"${esc(r.stage)}","task":"${esc(r.task)}","status":"${esc(r.status)}","wall_sec":${r.wallSec},"params":$params$err}"""
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
