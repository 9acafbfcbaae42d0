package graft

import graft.config.Context
import graft.pipeline.{Jobs, Production}

/** CLI entry (reference: production/cli.py — `cli.py -c conf/config.yml
  * job run -j all`). Usage:
  *
  *   runMain graft.Cli -c conf/config.yml job run -j all
  *   runMain graft.Cli -c conf/config.yml job run -j feature-engineering
  */
object Cli {
  def main(args: Array[String]): Unit = {
    def argAfter(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val configPath = argAfter("-c").getOrElse {
      System.err.println("usage: graft.Cli -c <config.yml> job run -j <job|all>")
      sys.exit(2)
    }
    val jobName = argAfter("-j").getOrElse("all")
    require(args.contains("job") && args.contains("run"), "expected subcommand: job run")

    Production.registerAll()
    // plan against the config alone: a catalog mistake exits before any
    // SparkSession starts
    val conf = Context(Context.loadConfig(configPath), null)
    val failures = Jobs.planned(conf, jobName).fold(identity, { plans =>
      val ctx = conf.copy(spark = Context.session(conf.config))
      try Jobs.execute(ctx, plans) finally ctx.spark.stop()
    })
    if (failures.nonEmpty) {
      System.err.println(s"[graft] ${failures.size} task(s) failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}
