package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: sweep every registered query and report per-table
  * file-scan counts from [[graft.plans.ScanCensus]] — the structural
  * census PlanQualitySpec's suite-wide budget guard enforces (r8;
  * previously this tool grepped plan text, which double-counts every
  * cached subtree because InMemoryTableScan prints its cached plan's
  * FileScan too). A table scanned more than its QueryDef budget fails
  * the spec; this tool is the human-readable sweep for finding and
  * sizing those budgets.
  *
  * Usage: runMain graft.tools.ScanAudit [sfDir] [minScans=2]
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val minScans = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.defs.sortBy(_.name).foreach { d =>
      try {
        val counts = graft.plans.ScanCensus.tableScans(d.run(spark, sfDir))
        val hot = counts.filter { case (t, c) => c >= math.max(minScans, 1) }
        val over = counts.filter { case (t, c) => c > d.scanBudget(t) }
        if (hot.nonEmpty || over.nonEmpty) {
          val mark =
            if (over.nonEmpty)
              over.toSeq.sorted
                .map { case (t, c) => s"$t=$c>budget${d.scanBudget(t)}" }
                .mkString("OVER-BUDGET[", ", ", "]")
            else ""
          println(f"${d.name}%-28s ${hot.map { case (t, c) => s"$t x$c" }.mkString(", ")}%-36s $mark")
        }
      } catch {
        case e: Throwable =>
          println(f"${d.name}%-28s BUILD-ERROR ${String.valueOf(e.getMessage).take(80)}")
      } finally graft.CacheScope.drain()
    }
    spark.stop()
  }
}
