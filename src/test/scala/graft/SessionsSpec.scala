package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session policy (`Sessions.local`) is what the specs run on. */
class SessionsSpec extends AnyFunSuite {

  test("the test session carries the Sessions.local policy and a reliable checkpoint dir") {
    val sc = SparkSpec.session.sparkContext
    val conf = sc.getConf
    Seq(
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true"
    ).foreach { case (k, v) => assert(conf.getOption(k).contains(v), s"$k = ${conf.getOption(k)}") }
    assert(sc.getCheckpointDir.isDefined, "iterative operators would take the localCheckpoint fallback")
  }
}
