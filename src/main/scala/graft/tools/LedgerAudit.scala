package graft.tools

import org.apache.spark.sql.SparkSession

import graft.plans.ScanLedger

/** Dev utility: sweep every registered query, EXECUTE it (noop write),
  * and report the job-level [[graft.plans.ScanLedger]] scan counts —
  * build-time actions included — next to the plan-census budget. This
  * is the sweep that sized the build-action budgets in
  * [[graft.ScanBudgets.buildActionScans]]; PlanQualitySpec enforces
  * them suite-wide.
  *
  * Usage: runMain graft.tools.LedgerAudit [sfDir] [onlyOverBudget=true]
  *    or: runMain graft.tools.LedgerAudit path/to/scan_ledger.json
  * (the second form re-reads a committed Verify artifact — which is
  * self-describing since r10, carrying counts AND over_budget per
  * query — and reports any flagged entries without running Spark)
  */
object LedgerAudit {
  def main(args: Array[String]): Unit = {
    if (args.headOption.exists(_.endsWith(".json"))) { auditArtifact(args.head); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val onlyOver = args.lift(1).forall(_.toBoolean)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.defs.sortBy(_.name).foreach { d =>
      try {
        spark.catalog.clearCache()
        val (_, counts) = ScanLedger.measure(spark) {
          d.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val over = counts.filter { case (t, c) => c > d.ledgerBudget(t) }
        if (over.nonEmpty || !onlyOver) {
          val mark = if (over.nonEmpty) "OVER-BUDGET" else ""
          println(f"${d.name}%-28s ${counts.toSeq.sorted
            .map { case (t, c) => s"$t x$c(≤${d.ledgerBudget(t)})" }
            .mkString(", ")} $mark")
        }
      } catch {
        case e: Throwable =>
          println(f"${d.name}%-28s RUN-ERROR ${String.valueOf(e.getMessage).take(80)}")
      } finally graft.CacheScope.drain()
    }
    spark.stop()
  }

  /** Offline re-check of a committed `scan_ledger.json`: print every
    * query whose `over_budget` object is non-empty. The parse is
    * deliberately structural (the artifact is machine-written, flat,
    * two levels) — no JSON library in the unmanaged classpath.
    */
  private def auditArtifact(path: String): Unit = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    // entries look like: "name": {"counts": {...}, "over_budget": {...}}
    val entry = """"([^"]+)": \{"counts": \{[^}]*\}, "over_budget": \{([^}]*)\}\}""".r
    var flagged = 0
    for (m <- entry.findAllMatchIn(text)) {
      val (name, over) = (m.group(1), m.group(2).trim)
      if (over.nonEmpty) { flagged += 1; println(f"$name%-28s OVER-BUDGET $over") }
    }
    println(s"$flagged over-budget quer${if (flagged == 1) "y" else "ies"} in $path")
  }
}
