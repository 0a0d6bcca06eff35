package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Job-level file-scan ledger — closes the [[ScanCensus]] build-time
  * blind spot (r8 verdict item 4 / r9 task): a `QueryExecutionListener`
  * that accumulates the structural census over EVERY driver action a
  * query runs while the ledger is open, not just the one execution of
  * the returned frame. Actions a query fires while BUILDING its result
  * — q116's `count()` pre-pass and `valuesAtRanks` rank job,
  * `DistributedRank`'s offset jobs, the iterative loops' per-round
  * `localCheckpoint` materializations — finish before the returned
  * plan exists, so the plan census alone proves nothing about them
  * (q116's plan budget passes trivially: the returned frame is a
  * driver-local table). The ledger sees each of those actions as its
  * own `QueryExecution` and sums their scans.
  *
  * Cached relations are deduplicated ACROSS actions with one shared
  * identity set: a persisted subtree's file scan runs once, at first
  * materialization — every later action reads the cache's blocks, and
  * counting its `InMemoryTableScan`s again would charge the query for
  * IO it never does. `localCheckpoint` needs no such handling: it
  * truncates lineage to materialized RDD blocks, so round N's plan
  * contains no file scan of round N−1 at all.
  *
  * One ledger measures one query: [[ScanLedger.measure]] registers
  * it on a clone of the session that only that query builds on, so
  * queries on other threads of the same session are never counted.
  * Listener callbacks themselves arrive on the bus thread and are
  * synchronized.
  */
final class ScanLedger extends QueryExecutionListener {
  private val seenCaches = mutable.Set[AnyRef]()
  private val acc = mutable.Map[String, Int]().withDefaultValue(0)
  private var actionCount = 0

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  // a failed action may still have scanned before dying; for a budget
  // GUARD the conservative ledger charges it (failures in specs fail
  // the test anyway, so this only matters for ad-hoc tool use)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    actionCount += 1
    ScanCensus.tableScans(qe.executedPlan, seenCaches).foreach {
      case (t, c) => acc(t) = acc(t) + c
    }
  }

  /** table -> file scans actually run across all recorded actions. */
  def counts: Map[String, Int] = synchronized { acc.toMap }

  /** Number of driver actions the ledger observed. */
  def actions: Int = synchronized { actionCount }
}

object ScanLedger {

  /** Run `body` on a clone of `spark` that carries a registered
    * ledger; returns (body result, table -> scans run across every
    * action body fired). The body must build its query on the session
    * it is handed. Loops it opens ([[graft.operators.TightLoop]]) clone
    * that session in turn and so inherit the ledger. Flushes the
    * listener bus before reading — `QueryExecutionListener` events are
    * asynchronous, and without the flush a fast query's census races
    * its own delivery.
    */
  def measure[A](spark: SparkSession)(body: SparkSession => A): (A, Map[String, Int]) = {
    val ledger = new ScanLedger
    val session = SparkBridge.cloneSession(spark)
    session.listenerManager.register(ledger)
    val out = body(session)
    SparkBridge.waitUntilEmpty(spark.sparkContext)
    (out, ledger.counts)
  }
}
