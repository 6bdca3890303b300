package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ⇄ Column bridge. Spark 4 made the converters
  * `private[sql]` (Column wraps a ColumnNode, not an Expression), so
  * custom Catalyst expressions need this one-hop package-escalation —
  * the same pattern Spark extension libraries use. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** More `private[spark]` one-hop escalations the measurement, serving
  * and test code needs:
  *
  *  - [[Internals.drainListenerBus]]: the listener bus is async, so
  *    snapshot-based accounting (shuffle-record deltas, executed-plan
  *    metric reads) must drain in-flight events instead of sleeping a
  *    fixed interval and hoping — `LiveListenerBus.waitUntilEmpty` is
  *    the exact primitive Spark's own test harness uses for this.
  *  - [[Internals.checkpointRdd]]: `Dataset.localCheckpoint` persists
  *    an internal RDD behind a `LogicalRDD` leaf with no public handle
  *    back to it, so pinned query-scale intermediates can't be
  *    released without digging the RDD out of the analyzed plan.
  *  - [[Internals.broadcastBlocks]]: a broadcast's storage is visible
  *    only in the driver's block manager, so a leaked broadcast can be
  *    seen only there. */
object Internals {
  import org.apache.spark.SparkContext
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.LogicalRDD

  /** Wait for all queued listener events to be delivered (bounded by
    * the bus's own 10 s default); a timeout degrades to the old
    * fixed-sleep behavior rather than failing the measurement. */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The persisted RDD backing a `localCheckpoint`ed frame, if the
    * frame is one (its analyzed plan is a bare `LogicalRDD` leaf). */
  def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }

  /** Names of the broadcast blocks (values and pieces) the driver's
    * block manager holds now. */
  def broadcastBlocks(sc: SparkContext): Set[String] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).map(_.name).toSet
}
