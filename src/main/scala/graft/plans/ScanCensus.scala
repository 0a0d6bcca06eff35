package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import scala.collection.mutable

/** Structural per-table FileScan census of a query plan — the r7
  * ScanAudit promoted from a text-grep dev tool to a library (that
  * tool, a dev main last present at commit fba91a5, is gone; the
  * suite-wide PlanQualitySpec budget guard is its consumer).
  *
  * Counts every `FileSourceScanExec` one *execution* of the frame
  * would run: walks the executed plan tree, descends through the AQE
  * wrapper (a leaf node hiding the real plan) and subquery plans, and
  * counts each distinct cached relation's build plan exactly ONCE —
  * its scan happens at materialization, no matter how many
  * `InMemoryTableScan`s consume it. This is exactly the count plan
  * *text* cannot give (an `InMemoryTableScan` line prints its cached
  * plan's FileScan too, double-counting every shared subtree).
  *
  * Kernels that run when the frame runs ([[Deferred]]) read their
  * input's executed rows, so that input's scans are in this plan too.
  * [[ScanLedger]] sums this census over every action a query runs.
  */
object ScanCensus {

  private val TableRe = "([a-z_0-9]+)\\.parquet".r

  /** table name -> number of file scans one execution would run. */
  def tableScans(df: DataFrame): Map[String, Int] =
    tableScans(df.queryExecution.executedPlan, mutable.Set[AnyRef]())

  /** Plan-level census with a CALLER-OWNED cached-relation dedup set:
    * [[ScanLedger]] accumulates one census per driver action and a
    * cached build plan's scan must count once per ledger scope (the
    * cache materializes once), not once per action that reads it.
    */
  def tableScans(
      root: SparkPlan,
      seenCaches: mutable.Set[AnyRef]): Map[String, Int] = {
    val hits = mutable.Buffer[String]()
    foreachNode(root, seenCaches) {
      case f: FileSourceScanExec =>
        // one hit per scan node per distinct table under its roots;
        // catalog tables (`saveAsTable` output, read through
        // `spark.table`) have plain directory roots with no .parquet
        // component — name those by their table identifier so they
        // stay ledger-visible
        val byPath = f.relation.location.rootPaths
          .flatMap(p => TableRe.findFirstMatchIn(p.toString).map(_.group(1)))
          .distinct
        hits ++= (if (byPath.nonEmpty) byPath
                  else f.tableIdentifier.map(_.table).toSeq)
      case _ => ()
    }
    hits.groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Visits every node one execution of `root` would run: descends
    * through the AQE wrapper and subquery plans, and into each
    * distinct cached relation's build plan once (`seenCaches`
    * remembers the ones already walked). Subqueries that compute the
    * same plan (an inferred copy of a filter carries its subquery
    * along) are walked once: Spark reuses a repeated subquery, so it
    * runs once.
    */
  def foreachNode(root: SparkPlan, seenCaches: mutable.Set[AnyRef])(
      visit: SparkPlan => Unit): Unit = {
    val seenSubqueries = mutable.Set[SparkPlan]()
    def walk(n: SparkPlan): Unit = {
      visit(n)
      n match {
        case a: AdaptiveSparkPlanExec =>
          walk(a.inputPlan)
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
}
