package org.apache.spark.sql.graftbridge

import java.io.File
import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** The one shim into Spark's `private[spark]` and `private[sql]`
  * members. Only the package placement is ours; every accessor is one
  * Spark's own code or tests use:
  *   - Column↔Expression conversions, to expose custom Catalyst
  *     expressions (e.g. `graft.functions.Float32Dot`) as `Column`s;
  *   - session cloning and binding a logical plan to a session, which
  *     give a query its own conf while it shares the SparkContext, the
  *     cache and the registered functions
  *     ([[graft.operators.TightLoop.scoped]]'s loop session);
  *   - a frame over an executed child's RDD and a frame's rows as an
  *     RDD ([[graft.plans.Deferred]]);
  *   - running a body on a pool thread with the caller's active
  *     session and local properties, as Spark's broadcast futures do
  *     ([[graft.flight.FlightPipeline]]'s concurrent layer writes);
  *   - the listener-bus flush, the per-stage task totals Spark's own
  *     status store keeps, and what is ON DISK in the block-manager
  *     local dirs (leftover shuffle/spill files): `graft.BenchKernel`
  *     reads a timing window's task totals from the first two and
  *     waits on the third between timings.
  */
object SparkBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session with a copy of `spark`'s conf, temp views, functions
    * and `QueryExecutionListener`s; writes to either conf stay in it.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** `plan` as a frame of `spark`: planned and run under that
    * session's conf and listeners. A cached subtree stays cached, since
    * the cache belongs to the shared state.
    */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over `rdd`'s `output` rows whose plan reports `stats`. */
  def ofRDD(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
      stats: Statistics): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(output, rdd)(s, Some(stats)))
  }

  /** `df`'s rows, prepared under an SQL execution of its own, so the
    * adaptive stages it runs first report there, not to the caller's.
    */
  def toRdd(df: DataFrame): RDD[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("deferred"))(qe.toRdd)
  }

  /** `body` submitted to `exec` under the caller's active session and
    * a copy of its local properties (job group, description, scheduler
    * pool), so cancelling the caller's job group also cancels the jobs
    * `body` starts. The pool thread's own session and properties are
    * restored after a body that returns.
    */
  def submitCaptured[T](spark: SparkSession, exec: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], exec)(body)

  /** The block-manager scratch dirs (shuffle data/index files, spills,
    * temp blocks live under these).
    */
  def localDirs(sc: SparkContext): Seq[File] =
    sc.env.blockManager.diskBlockManager.localDirs.toSeq

  /** Block until the async listener bus has delivered everything
    * posted so far; throws `TimeoutException` after `timeoutMs`.
    * Listeners otherwise race their reader: the status store can still
    * lack a window's last task ends, which would then count toward the
    * next query's bench regime row. Spark's own test suites use this
    * same flush.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Task totals over every attempt of the stages numbered above
    * `after`, as Spark's `AppStatusListener` summed them per stage:
    * shuffle bytes written, memory + disk bytes spilled, input bytes,
    * executor run time (ms) and CPU time (ns), and failed + killed
    * tasks. `lastStageId` is the highest stage id the store holds
    * (`after` when it holds none above it), the watermark for the
    * next window. Complete only once the listener bus is flushed, and
    * only while the window's stages fit the store's retention
    * (`spark.ui.retainedStages`, 1000 by default).
    */
  def stageTotals(sc: SparkContext, after: Int): StageTotals =
    sc.statusStore.stageList(null).filter(_.stageId > after)
      .foldLeft(StageTotals(after)) { (t, s) =>
        StageTotals(math.max(t.lastStageId, s.stageId),
          t.shuffleWriteBytes + s.shuffleWriteBytes,
          t.spillBytes + s.memoryBytesSpilled + s.diskBytesSpilled,
          t.inputBytes + s.inputBytes,
          t.runMs + s.executorRunTime,
          t.cpuNs + s.executorCpuTime,
          t.failedTasks + s.numFailedTasks + s.numKilledTasks)
      }

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

/** [[SparkBridge.stageTotals]]' sums; see there. */
final case class StageTotals(
    lastStageId: Int,
    shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0,
    inputBytes: Long = 0,
    runMs: Long = 0,
    cpuNs: Long = 0,
    failedTasks: Long = 0)
