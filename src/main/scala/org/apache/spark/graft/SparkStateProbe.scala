package org.apache.spark.graft

import java.io.File

import org.apache.spark.SparkContext

/** The one shim into `private[spark]` state: the listener-bus flush,
  * and what is ON DISK in the block-manager local dirs (leftover
  * shuffle/spill files), which the public API does not expose and
  * `graft.BenchKernel.settleScratch` waits on between timings. Only
  * the package placement is ours; every accessor is one Spark's own
  * tests use.
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
}
