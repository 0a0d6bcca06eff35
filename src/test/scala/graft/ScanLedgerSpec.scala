package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Verify's scan ledger (`scan_ledger.json`) is the plan census of the
  * frame it writes ([[plans.ScanCensus]]). That holds only if the one
  * action of that frame runs every file scan the query fires: none at
  * build, none in a kernel's own jobs. This spec checks it against the
  * actions themselves: each query is EXECUTED (noop write) on a clone
  * of the session carrying [[ActionScans]], which sums the file scans
  * of every action run on that clone or on the loop sessions cloned
  * from it, and the sum must equal the census and stay in budget.
  */
class ScanLedgerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Sums the file scans of every action it hears, walking each
    * executed plan the way [[plans.ScanCensus.foreachNode]] does, but
    * with one cached-relation set across actions: a persisted subtree
    * scans once, when first materialized, and later actions read its
    * blocks.
    */
  private final class ActionScans extends QueryExecutionListener {
    private val seenCaches = mutable.Set[AnyRef]()
    private val acc = mutable.Map[String, Int]().withDefaultValue(0)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe.executedPlan)

    // a failed action may have scanned before it died
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe.executedPlan)

    private def record(root: SparkPlan): Unit = synchronized {
      val seenSubqueries = mutable.Set[SparkPlan]()
      def walk(n: SparkPlan): Unit = {
        n match {
          case f: FileSourceScanExec =>
            plans.ScanCensus.tablesOf(f).foreach(t => acc(t) = acc(t) + 1)
          case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
          case im: InMemoryTableScanExec =>
            val cb = im.relation.cacheBuilder
            if (seenCaches.add(cb)) walk(cb.cachedPlan)
          case _ => ()
        }
        n.children.foreach(walk)
        n.subqueries.foreach(q => if (seenSubqueries.add(q.canonicalized)) walk(q))
      }
      walk(root)
    }

    def counts: Map[String, Int] = synchronized { acc.toMap }
  }

  /** `body`'s result and the file scans of every action it fired. The
    * body builds on the session it is handed, a clone of the shared one,
    * so actions of other suites on the shared session are not counted;
    * the bus is flushed before the counts are read.
    */
  private def measure[A](body: SparkSession => A): (A, Map[String, Int]) = {
    val scans = new ActionScans
    val session = SparkBridge.cloneSession(spark)
    session.listenerManager.register(scans)
    val out = body(session)
    SparkBridge.waitUntilEmpty(spark.sparkContext)
    (out, scans.counts)
  }

  private def ledgerCounts(name: String): Map[String, Int] = {
    val d = SparkEntry.defs.find(_.name == name).get
    spark.catalog.clearCache()
    try measure { s =>
      d.run(s, dir).write.format("noop").mode("overwrite").save()
    }._2
    finally CacheScope.drain()
  }

  test("suite-wide: every query's ledger equals its plan census") {
    val failures = SparkEntry.defs.flatMap { d =>
      spark.catalog.clearCache()
      val (census, counts) =
        try measure { s =>
          val df = d.run(s, dir)
          val census = plans.ScanCensus.tableScans(df)
          df.write.format("noop").mode("overwrite").save()
          census
        }
        finally CacheScope.drain()
      val unequal =
        if (counts == census) Nil
        else Seq(s"${d.name}: $counts scanned across all actions, plan census $census")
      unequal ++ counts.collect {
        case (t, c) if c > d.scanBudget(t) =>
          s"${d.name}: $t scanned ${c}x, budget ${d.scanBudget(t)}"
      }
    }
    assert(failures.isEmpty,
      s"scans outside the plan or over budget (fix the plan or justify in ScanBudgets):\n${failures.mkString("\n")}")
  }

  test("q116: ONE lineitem scan across all jobs — no pre-count, no build-time rank pass") {
    val counts = ledgerCounts("q116_equidepth_hist")
    assert(counts.getOrElse("lineitem", 0) == 1,
      s"q116 should run exactly 1 lineitem scan (the rank pass), saw $counts")
  }

  test("q69: the pair self-join's two scans are in the plan") {
    val counts = ledgerCounts("q69_neardup_components")
    assert(counts.getOrElse("documents", 0) == 2,
      s"q69 should scan documents exactly twice (the pair self-join), saw $counts")
    // the closure reads the executed pairs: the returned plan holds both
    val d = SparkEntry.defs.find(_.name == "q69_neardup_components").get
    val plan =
      try plans.ScanCensus.tableScans(d.run(spark, dir))
      finally CacheScope.drain()
    assert(plan == counts, s"plan census $plan, scans across all actions $counts")
  }
}
