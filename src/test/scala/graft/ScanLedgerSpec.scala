package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ScanLedger

/** Job-level scan-budget guard (r9) — closes the plan census's
  * build-time blind spot: every registered query is EXECUTED (noop
  * write) under a [[graft.plans.ScanLedger]], which sums the file
  * scans of every driver action the query fires — rank/offset jobs,
  * pre-counts, adjacency materializations, model-building aggregates
  * — against the declared plan budget plus the per-query
  * build-action allowances in [[ScanBudgets.buildActionScans]]. The
  * plan census alone passes trivially for queries whose returned
  * frame is driver-local (q116) or checkpoint-fed (q69); this guard
  * counts what those queries actually read.
  */
class ScanLedgerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def ledgerCounts(name: String): Map[String, Int] = {
    val d = SparkEntry.defs.find(_.name == name).get
    spark.catalog.clearCache()
    try ScanLedger.measure(spark) { s =>
      d.run(s, dir).write.format("noop").mode("overwrite").save()
    }._2
    finally CacheScope.drain()
  }

  test("suite-wide: no query's actions file-scan any table beyond plan budget + declared build actions") {
    val failures = SparkEntry.defs.flatMap { d =>
      spark.catalog.clearCache()
      val counts =
        try ScanLedger.measure(spark) { s =>
          d.run(s, dir).write.format("noop").mode("overwrite").save()
        }._2
        finally CacheScope.drain()
      counts.collect {
        case (t, c) if c > d.ledgerBudget(t) =>
          s"${d.name}: $t scanned ${c}x across all jobs, ledger budget ${d.ledgerBudget(t)}"
      }
    }
    assert(failures.isEmpty,
      s"over-budget job-level scans (fix the plan or justify in ScanBudgets.buildActionScans):\n${failures.mkString("\n")}")
  }

  test("q116: the real scan count is pre-count + ONE data pass — not the trivially-zero plan census") {
    val counts = ledgerCounts("q116_equidepth_hist")
    assert(counts.getOrElse("lineitem", 0) == 2,
      s"q116 should run exactly 2 lineitem scans (count pre-pass + rank pass), saw $counts")
  }

  test("q69: both scans happen at adjacency materialization; the returned plan reads checkpoints only") {
    val counts = ledgerCounts("q69_neardup_components")
    assert(counts.getOrElse("documents", 0) == 2,
      s"q69 should scan documents exactly twice (pair self-join, cached once), saw $counts")
    // and the plan census of a fresh build agrees it sees none of them
    val d = SparkEntry.defs.find(_.name == "q69_neardup_components").get
    val plan =
      try plans.ScanCensus.tableScans(d.run(spark, dir))
      finally CacheScope.drain()
    assert(plan.getOrElse("documents", 0) == 0, s"returned plan should be scan-free, saw $plan")
  }

  test("the ledger dedups a cached relation across the actions that read it") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val (_, counts) = ScanLedger.measure(spark) { s =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), length(col("text")).as("len")).persist()
      docs.count() // materializes: ONE real file scan
      docs.agg(sum(col("len"))).collect() // cache read, no scan
      docs.filter(col("len") > 10).count() // cache read, no scan
      docs.unpersist(blocking = false)
    }
    assert(counts.getOrElse("documents", 0) == 1,
      s"three actions over one cached scan must ledger as 1, saw $counts")
  }

  test("a ledger open around a loop counts the loop's actions") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val (rounds, counts) = ScanLedger.measure(spark) { s =>
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      // the loop session is a clone of the ledger's: its checkpoint
      // job (the documents scan) must land in this ledger
      val (out, n) = operators.TightLoop.scoped(docs, 2) { in =>
        (in.distinct().localCheckpoint(), 1)
      }
      assert(out.count() > 0)
      n
    }
    assert(rounds == 1)
    assert(counts.getOrElse("documents", 0) == 1,
      s"the loop's checkpoint scan should ledger as 1, saw $counts")
  }

  test("a ledger counts only its own session's actions") {
    val (_, counts) = ScanLedger.measure(spark) { _ =>
      // an action on the shared session is another query's, not this one's
      spark.read.parquet(s"$dir/part.parquet").count()
    }
    assert(counts.isEmpty, s"the shared session's scan leaked into the ledger: $counts")
  }
}
