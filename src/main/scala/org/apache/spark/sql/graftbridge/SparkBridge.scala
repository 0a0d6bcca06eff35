package org.apache.spark.sql.graftbridge

import java.io.File

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one shim into Spark's `private[spark]` and `private[sql]`
  * members. Only the package placement is ours; every accessor is one
  * Spark's own code or tests use:
  *   - Column↔Expression conversions, to expose custom Catalyst
  *     expressions (e.g. `graft.functions.Float32Dot`) as `Column`s;
  *   - session cloning and rebinding a frame's plan into another
  *     session, which give a query its own conf and listeners while it
  *     shares the SparkContext, the cache and the registered functions
  *     ([[graft.operators.TightLoop]], [[graft.plans.ScanLedger]]);
  *   - the listener-bus flush, and what is ON DISK in the
  *     block-manager local dirs (leftover shuffle/spill files), which
  *     `graft.BenchKernel.settleScratch` waits on between timings.
  */
object SparkBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session with a copy of `spark`'s conf, temp views, functions
    * and `QueryExecutionListener`s; writes to either conf stay in it.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s plan as a frame of `spark`: planned and run under that
    * session's conf and listeners. A cached subtree stays cached, since
    * the cache belongs to the shared state.
    */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** The block-manager scratch dirs (shuffle data/index files, spills,
    * temp blocks live under these).
    */
  def localDirs(sc: SparkContext): Seq[File] =
    sc.env.blockManager.diskBlockManager.localDirs.toSeq

  /** Block until the async listener bus has delivered everything
    * posted so far; throws `TimeoutException` after `timeoutMs`.
    * Listeners otherwise race their reader: a census read right after
    * the last action can precede that action's
    * `SparkListenerSQLExecutionEnd` ([[graft.plans.ScanLedger]]), and
    * the last tasks' metrics can leak into the next query's bench
    * regime row. Spark's own test suites use this same flush.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** (file count, total bytes) under the scratch dirs. */
  def diskUsage(sc: SparkContext): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit = {
      val children = f.listFiles()
      if (children != null) children.foreach { c =>
        if (c.isDirectory) walk(c)
        else { files += 1; bytes += c.length() }
      }
    }
    localDirs(sc).foreach(walk)
    (files, bytes)
  }
}
