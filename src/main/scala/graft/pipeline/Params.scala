package graft.pipeline

import scala.util.control.NonFatal

/** One task's `params` map as a stage's parse phase reads it (see
  * [[Jobs.register]]): every key once, typed, with coercion, defaults and
  * error text owned here rather than at each call site.
  *
  *  - Scalars (`int`, `long`, `double`, `bool`, `str`) parse the value's
  *    string form, so `min_words: 50` and `min_words: "50"` read alike; a
  *    YAML list or mapping is not a scalar.
  *  - `choice` rejects a value outside its set.
  *  - Lists (`strs`, `ints`, `doubles`) take a YAML list or one
  *    comma-separated string; items are trimmed and empty items dropped.
  *  - `opt*` readers leave an absent key as None, for defaults the run
  *    phase resolves from the context; `required` fails when the key is
  *    absent.
  *
  * A bad value does not stop the parse: its reader returns the default
  * and [[check]] reports every bad value together with every key nobody
  * read. The stage's known keys are therefore exactly the keys its parse
  * phase reads — there is no second declaration of them.
  */
final class Params(raw: Map[String, Any]) {

  // key -> its default as the error text shows it, in read order
  private val known = scala.collection.mutable.LinkedHashMap[String, String]()
  private val errors = scala.collection.mutable.ListBuffer[String]()

  /** The one reader the others are built on: `coerce` maps the raw YAML
    * value; a value it does not accept (undefined or throwing) is recorded
    * as not being `expected` and reads as absent. */
  def opt[T](key: String, expected: String, default: String = "unset")(
      coerce: PartialFunction[Any, T]): Option[T] = {
    known.getOrElseUpdate(key, default)
    raw.get(key).flatMap { v =>
      val out = try coerce.lift(v) catch { case NonFatal(_) => None }
      if (out.isEmpty) errors += s"$key: expected $expected, got '$v'"
      out
    }
  }

  private def isScalar(v: Any) = !v.isInstanceOf[Iterable[_]]

  private def scalar[T](key: String, expected: String, default: Option[T])(
      parse: String => T): Option[T] =
    opt(key, expected, default.fold("unset")(_.toString)) {
      case v if isScalar(v) => parse(v.toString)
    }.orElse(default)

  def int(key: String, default: Int): Int = scalar(key, "an int", Some(default))(_.toInt).get
  def long(key: String, default: Long): Long = scalar(key, "a long", Some(default))(_.toLong).get
  def double(key: String, default: Double): Double =
    scalar(key, "a number", Some(default))(_.toDouble).get
  def bool(key: String, default: Boolean): Boolean =
    scalar(key, "true or false", Some(default))(_.toBoolean).get
  def str(key: String, default: String): String = scalar(key, "a string", Some(default))(identity).get

  def optInt(key: String): Option[Int] = scalar(key, "an int", None)(_.toInt)
  def optLong(key: String): Option[Long] = scalar(key, "a long", None)(_.toLong)
  def optStr(key: String): Option[String] = scalar(key, "a string", None)(identity)

  /** One of `options`; anything else is a plan-time error naming the set. */
  def choice(key: String, default: String, options: Seq[String]): String =
    choiceOf(key, Some(default), options).get
  def optChoice(key: String, options: Seq[String]): Option[String] = choiceOf(key, None, options)
  private def choiceOf(key: String, default: Option[String], options: Seq[String]) =
    scalar(key, options.mkString("one of ", " | ", ""), default) { v =>
      require(options.contains(v)); v
    }

  private def list[T](key: String, expected: String, default: Option[Seq[T]])(
      parse: String => T): Option[Seq[T]] =
    opt(key, expected, default.fold("unset")(_.mkString(","))) {
      case xs: Seq[_] => items(xs.map(_.toString), parse)
      case v if isScalar(v) => items(v.toString.split(",").toSeq, parse)
    }.orElse(default)
  private def items[T](xs: Seq[String], parse: String => T) =
    xs.map(_.trim).filter(_.nonEmpty).map(parse)

  def strs(key: String, default: Seq[String]): Seq[String] =
    list(key, "a list of strings", Some(default))(identity).get
  def ints(key: String, default: Seq[Int]): Seq[Int] =
    list(key, "a list of ints", Some(default))(_.toInt).get
  def doubles(key: String, default: Seq[Double]): Seq[Double] =
    list(key, "a list of numbers", Some(default))(_.toDouble).get
  def optStrs(key: String): Option[Seq[String]] = list(key, "a list of strings", None)(identity)
  def optInts(key: String): Option[Seq[Int]] = list(key, "a list of ints", None)(_.toInt)

  /** The value `read` gives `key`; an absent key stops the parse here. */
  def required[T](key: String)(read: String => Option[T]): T = {
    val v = read(key)
    known(key) = "required"
    v.getOrElse {
      if (!raw.contains(key)) errors += s"$key: required"
      throw new IllegalArgumentException(errors.mkString("; "))
    }
  }

  private def problems: Seq[String] =
    errors.toSeq ++ raw.keys.filterNot(known.contains).toSeq.sorted.map(k => s"$k: unknown param")

  /** Throws unless every value coerced and every given key was read; the
    * message lists the stage's known keys with their defaults. */
  def check(): Unit = {
    val all = problems
    if (all.nonEmpty)
      throw new IllegalArgumentException(all.mkString("; ") + "; known params: " +
        (if (known.isEmpty) "none" else known.map { case (k, d) => s"$k ($d)" }.mkString(", ")))
  }
}
