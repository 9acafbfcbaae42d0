package graft.config

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** YAML config catalogs + `${dotted.key}` interpolation + safe session
  * construction (reference: src/ta_lib/pyspark/context.py:148-203; the
  * reference builds its SparkSession by string-concatenating Python code
  * into eval(), context.py:79-92 — here it is a pure fold of config pairs
  * over the builder).
  *
  * Config model: `config.yml` selects catalog layers; `data_catalog` maps
  * dataset name → path per zone; `job_catalog` declares jobs → stages →
  * tasks; `core` carries seed + spark conf. `${a.b.c}` references resolve
  * against the merged tree, recursively, to a fixpoint.
  */
final case class Context(
    config: Map[String, Any],
    spark: SparkSession) {

  def seed: Long =
    Context.dig(config, "core.random_seed").map(_.toString.toLong).getOrElse(0L)

  /** Dataset path from the data catalog: zone.name (e.g. "raw.customer"). */
  def dataPath(zoneAndName: String): String =
    Context
      .dig(config, s"data_catalog.$zoneAndName")
      .map(_.toString)
      .getOrElse(throw new IllegalArgumentException(s"no data_catalog entry '$zoneAndName'"))

  def string(path: String, default: String = null): String =
    Context.dig(config, path).map(_.toString)
      .getOrElse(Option(default).getOrElse(
        throw new IllegalArgumentException(s"no config entry '$path'")))

  /** Run-log path from the log catalog; None = tracking disabled. */
  def trackingPath: Option[String] =
    Context.dig(config, "log_catalog.tracking.path").map(_.toString)
}

object Context {

  private val mapper = new ObjectMapper(new YAMLFactory())

  /** YAML file → nested Scala Map. */
  def loadYaml(path: String): Map[String, Any] =
    toScala(mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => k.toString -> toScala(vv) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case other => other
  }

  /** Dotted-path lookup in a nested Map tree. */
  def dig(tree: Map[String, Any], path: String): Option[Any] =
    path.split('.').foldLeft(Option(tree: Any)) {
      case (Some(m: Map[_, _]), key) => m.asInstanceOf[Map[String, Any]].get(key)
      case _                         => None
    }

  private val ref = """\$\{([A-Za-z0-9_.]+)\}""".r

  /** Resolve `${a.b}` references against the tree, to a fixpoint
    * (reference: context.py:162-199). */
  def interpolate(tree: Map[String, Any]): Map[String, Any] = {
    def resolveStr(s: String, root: Map[String, Any]): String =
      ref.replaceAllIn(s, m =>
        java.util.regex.Matcher.quoteReplacement(
          dig(root, m.group(1)).map(_.toString).getOrElse(m.matched)))
    def walk(v: Any, root: Map[String, Any]): Any = v match {
      case s: String => resolveStr(s, root)
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].map { case (k, vv) => k -> walk(vv, root) }
      case l: List[_] => l.map(walk(_, root))
      case other => other
    }
    var cur = tree
    var prev: Map[String, Any] = null
    var i = 0
    while (cur != prev && i < 10) { // fixpoint, bounded against cycles
      prev = cur
      cur = walk(cur, cur).asInstanceOf[Map[String, Any]]
      i += 1
    }
    cur
  }

  /** Load config.yml + the catalog files it names (relative to its dir),
    * merge, interpolate, and build the session with `Sessions.local`, folding
    * `core.app_name` and then `core.spark_conf` over its defaults — so a
    * `spark.master` entry there overrides the local master. */
  def fromConfigFile(configPath: String): Context = {
    val confDir = new java.io.File(configPath).getAbsoluteFile.getParent
    val base = loadYaml(configPath)
    def layer(name: String): Map[String, Any] =
      dig(base, s"catalogs.$name")
        .map(p => loadYaml(s"$confDir/${p.toString}"))
        .getOrElse(Map.empty)
    val merged = interpolate(
      base ++ Map(
        "data_catalog" -> layer("data_catalog"),
        "job_catalog" -> layer("job_catalog"),
        "log_catalog" -> layer("log_catalog"),
        "core" -> (dig(base, "core").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty) ++ layer("core"))))
    val sparkConf = dig(merged, "core.spark_conf")
      .map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(Map.empty)
      .map { case (k, v) => k -> v.toString }
    val appName = dig(merged, "core.app_name").map(n => "spark.app.name" -> n.toString)
    Context(merged, graft.Sessions.local(extra = appName.toMap ++ sparkConf))
  }
}
