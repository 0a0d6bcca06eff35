package org.apache.spark.graft

import java.io.File

import org.apache.spark.SparkContext
import org.apache.spark.storage.BlockId

/** The one shim into `private[spark]` state. Besides the listener-bus
  * flush, three numbers the public API does not expose for the
  * suite-state-tax diagnosis (r10 task 1): what is ON DISK in the
  * block-manager local dirs (leftover shuffle/spill files), what is IN
  * the memory store (unreleased broadcast / RDD blocks), and how many
  * of each block family survive between queries. Only the package
  * placement is ours; every accessor is one Spark's own tests use.
  */
object SparkStateProbe {

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

  /** Bytes of storage memory in use (cached RDDs, broadcast values,
    * unrolled blocks) as the unified memory manager accounts them.
    */
  def memoryStoreBytes(sc: SparkContext): Long =
    sc.env.memoryManager.storageMemoryUsed

  /** Bytes of EXECUTION memory the unified manager still counts as
    * acquired (r16 suite-tax hunt). Between queries this must read
    * zero — every task releases its consumers on completion. A
    * non-zero reading at a slot boundary means leaked task-memory
    * bookkeeping, which silently shrinks every later task's fair
    * share (pool / 2·activeTasks floor) until hash aggregates fail
    * to grow and drop to the sort-based + interpreted-projection
    * fallback — the q128 suite-tax signature (same input, same
    * shuffle, 2.4× task-CPU, sort frames hot in the JFR profile).
    */
  def executionMemoryBytes(sc: SparkContext): Long =
    sc.env.memoryManager.executionMemoryUsed

  /** Live block counts by family: (rdd, broadcast, other). */
  def blockCounts(sc: SparkContext): (Int, Int, Int) = {
    val ids = sc.env.blockManager.getMatchingBlockIds((_: BlockId) => true)
    val rdd = ids.count(_.isRDD)
    val bc = ids.count(_.isBroadcast)
    (rdd, bc, ids.size - rdd - bc)
  }
}
