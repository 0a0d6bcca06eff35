package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftbridge.{SparkBridge, StageTotals}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's task totals come from Spark's status store
  * ([[SparkBridge.stageTotals]]), not from a listener of its own: over
  * a window, the store's per-stage sums equal what a task-end listener
  * adds up over the same tasks, and stages at or below the window's
  * watermark stay out.
  */
class StageTotalsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Task-end sums per stage id, the reference the store must match. */
  private final class TaskEndSums extends SparkListener {
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      byStage.merge(t.stageId, StageTotals(t.stageId,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead,
        m.executorRunTime,
        m.executorCpuTime,
        if (t.taskInfo.successful) 0 else 1), (a, b) =>
        StageTotals(a.lastStageId, a.shuffleWriteBytes + b.shuffleWriteBytes,
          a.spillBytes + b.spillBytes, a.inputBytes + b.inputBytes,
          a.runMs + b.runMs, a.cpuNs + b.cpuNs, a.failedTasks + b.failedTasks)): Unit
    }

    /** The sums over stages numbered above `after`. */
    def above(after: Int): StageTotals = {
      var acc = StageTotals(after)
      byStage.forEach { (id, s) =>
        if (id > after) acc = StageTotals(math.max(acc.lastStageId, id),
          acc.shuffleWriteBytes + s.shuffleWriteBytes, acc.spillBytes + s.spillBytes,
          acc.inputBytes + s.inputBytes, acc.runMs + s.runMs, acc.cpuNs + s.cpuNs,
          acc.failedTasks + s.failedTasks)
      }
      acc
    }
  }

  /** A parquet file of `rows` (id, k) rows. */
  private def table(rows: Long): String = {
    val path = java.nio.file.Files.createTempDirectory("stage-totals")
      .resolve("t.parquet").toString
    spark.range(rows).selectExpr("id", "id % 97 AS k").write.parquet(path)
    path
  }

  /** A Bench-shaped window: a parquet scan grouped through a shuffle,
    * materialized by a noop write.
    */
  private def window(path: String): Unit =
    spark.read.parquet(path)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()

  test("a window's status-store totals equal a task-end listener's, and earlier stages stay out") {
    val sc = spark.sparkContext
    val (small, large) = (table(2000), table(20000))
    val ref = new TaskEndSums
    SparkBridge.waitUntilEmpty(sc)
    val mark0 = SparkBridge.stageTotals(sc, -1).lastStageId
    sc.addSparkListener(ref)
    try {
      window(small)
      SparkBridge.waitUntilEmpty(sc)
      val mark1 = SparkBridge.stageTotals(sc, -1).lastStageId
      assert(mark1 > mark0)
      window(large)
      SparkBridge.waitUntilEmpty(sc)
      // the second window alone, then both windows
      for (mark <- Seq(mark1, mark0)) {
        // lastStageId aside: the store also holds stages that ran no task
        val store = SparkBridge.stageTotals(sc, mark).copy(lastStageId = mark)
        val tasks = ref.above(mark).copy(lastStageId = mark)
        assert(store == tasks, s"above stage $mark: store $store, task ends $tasks")
        assert(store.shuffleWriteBytes > 0 && store.inputBytes > 0 && store.cpuNs > 0,
          s"the window ran no shuffle, scan or CPU: $store")
        assert(store.failedTasks == 0)
      }
      // the first window's scan sits at or below mark1
      assert(ref.above(mark0).inputBytes > ref.above(mark1).inputBytes)
      // nothing runs above the last stage
      val last = SparkBridge.stageTotals(sc, -1).lastStageId
      assert(SparkBridge.stageTotals(sc, last) == StageTotals(last))
    } finally sc.removeSparkListener(ref)
  }
}
