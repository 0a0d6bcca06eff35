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
  * This census is the scan ledger `graft.Verify` writes: no query
  * reads a file while it is built, except q46 above its size gate
  * (`DistributedRank.ntileByCuts`, see [[graft.ScanBudgets]]), whose
  * build-time reads it does not see.
  */
object ScanCensus {

  private val TableRe = "([a-z_0-9]+)\\.parquet".r

  /** table name -> number of file scans one execution would run. */
  def tableScans(df: DataFrame): Map[String, Int] = {
    val hits = mutable.Buffer[String]()
    foreachNode(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => hits ++= tablesOf(f)
      case _ => ()
    }
    hits.groupBy(identity).view.mapValues(_.size).toMap
  }

  /** The distinct tables under one scan node's roots: one hit each.
    * Catalog tables (`saveAsTable` output, read through `spark.table`)
    * have plain directory roots with no .parquet component — they are
    * named by their table identifier so they stay census-visible.
    */
  def tablesOf(f: FileSourceScanExec): Seq[String] = {
    val byPath = f.relation.location.rootPaths
      .flatMap(p => TableRe.findFirstMatchIn(p.toString).map(_.group(1)))
      .distinct
    if (byPath.nonEmpty) byPath else f.tableIdentifier.map(_.table).toSeq
  }

  /** Visits every node one execution of `root` would run: descends
    * through the AQE wrapper and subquery plans, and into each
    * distinct cached relation's build plan once. Subqueries that
    * compute the same plan (an inferred copy of a filter carries its
    * subquery along) are walked once: Spark reuses a repeated
    * subquery, so it runs once.
    */
  def foreachNode(root: SparkPlan)(visit: SparkPlan => Unit): Unit = {
    val seenCaches = mutable.Set[AnyRef]()
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
