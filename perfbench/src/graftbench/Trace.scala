package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the enclosing span (-1 for an operation's root) and `op` numbers
  * the operation the span belongs to.
  */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int)

/** The benchmark's own instrumentation: one [[SparkListener]] for jobs,
  * stages, tasks, cache blocks and SQL executions (whose end events
  * carry the query execution, for planning phases, scans and write
  * targets), and timers the harness wraps around its calls into the
  * program. Everything stays in memory
  * until the run writes it out. Operations run one at a time, so every
  * event delivered between [[begin]] and [[finish]] belongs to the
  * current operation.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  /** Now, in epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = ArrayBuffer.empty[Span]
  def span(name: String, start: Double, end: Double, parent: Int, op: Int): Int = synchronized {
    spans += Span(spans.size, name, start, end, parent, op)
    spans.size - 1
  }

  @volatile private var cur = new Trace.OpEvents

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    attached = true
  }
  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(this)
    attached = false
  }

  /** Write every span kept so far to `out`. */
  def write(out: Out): Unit = spans.foreach(sp => out("k" -> "span", "id" -> sp.id,
    "name" -> sp.name, "start" -> sp.start, "end" -> sp.end, "parent" -> sp.parent, "op" -> sp.op))

  def begin(): Unit = synchronized { cur = new Trace.OpEvents }

  /** Flush the listener bus and hand back the finished operation's events. */
  def finish(): Trace.OpEvents = {
    org.apache.spark.graftbench.Bus.flush(spark.sparkContext)
    synchronized { val e = cur; cur = new Trace.OpEvents; e }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobStart(e.jobId) = e.time.toDouble
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobStart.remove(e.jobId).foreach(s => cur.jobs += ((s, e.time.toDouble)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cur
    c.tasks += 1
    c.taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) cur.cacheBytes += i.memSize + i.diskSize
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      cur.sqlExec(s.executionId) = (s.time.toDouble, Double.NaN)
    }
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      val query = org.apache.spark.sql.graftbench.SqlEnd.queryExecution(s).map { qe =>
        val phases = qe.tracker.phases.map { case (k, v) =>
          k -> ((v.startTimeMs.toDouble, v.endTimeMs.toDouble))
        }
        (s.executionId, phases, Trace.outputPath(qe), Trace.scanNodes(qe.executedPlan))
      }
      synchronized {
        cur.sqlExec.get(s.executionId).foreach { case (st, _) =>
          cur.sqlExec(s.executionId) = (st, s.time.toDouble)
        }
        query.foreach(cur.queries += _)
      }
    case _ => ()
  }
}

object Trace {
  /** Counters and event intervals of the operation in flight. */
  final class OpEvents {
    val jobs = ArrayBuffer.empty[(Double, Double)]
    private[graftbench] val jobStart = scala.collection.mutable.Map.empty[Int, Double]
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var taskCpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var cacheBytes = 0L
    val taskIntervals = ArrayBuffer.empty[(Double, Double)]
    val sqlExec = scala.collection.mutable.Map.empty[Long, (Double, Double)]
    /** (executionId, phase -> (start, end), output path or "", scan nodes) */
    val queries = ArrayBuffer.empty[(Long, Map[String, (Double, Double)], String, Int)]
  }


  /** File-source and V2 batch scans that run in `plan`, following
    * adaptive stages and subqueries; reused exchanges add none.
    */
  def scanNodes(plan: SparkPlan): Int = plan match {
    case _: FileSourceScanExec | _: BatchScanExec => 1
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => 0
    case p => p.children.map(scanNodes).sum + p.subqueries.map(scanNodes).sum
  }

  /** Output directory of a file-writing command, or "" for other queries. */
  def outputPath(qe: QueryExecution): String = qe.logical.collectFirst {
    case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
  }.getOrElse("")

  /** Total length of the union of `intervals`. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of the union of `intervals` clipped to [from, to]. */
  def coveredWithin(intervals: Seq[(Double, Double)], from: Double, to: Double): Double =
    unionLength(intervals.flatMap { case (s, e) =>
      val a = math.max(s, from); val b = math.min(e, to)
      if (b > a) Some((a, b)) else None
    })
}
