package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a raw Catalyst Expression into a Column. Spark 4 made the
  * Expression→Column constructor private[sql]; this one-liner lives under
  * the org.apache.spark.sql package solely to re-export it for graft's
  * custom expressions (graft.expressions.*). No Spark internals are
  * modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the listener bus so SparkListener-accumulated metrics are
    * complete before they are read (`listenerBus` is private[spark]; this
    * re-export exists for graft.obs.Telemetry and perfbench's trace). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The internal RDD backing a checkpointed Dataset (its analyzed plan is
    * a single `LogicalRDD` node after `checkpoint`/`localCheckpoint`).
    * Iterative algorithms use this to release a superseded iteration's
    * storage deterministically — `Dataset.unpersist` only consults the
    * CacheManager and never sees these blocks. None for non-checkpointed
    * frames. */
  def backingRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Test-only: unset the context's checkpoint dir (`checkpointDir` is
    * `private[spark]` and SparkContext offers set-but-not-unset), so specs
    * sharing one session can exercise BOTH the reliable-checkpoint path and
    * the localCheckpoint fallback of iterative operators. */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None
}
