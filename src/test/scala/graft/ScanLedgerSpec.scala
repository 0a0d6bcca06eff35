package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ScanLedger

/** Job-level scan-budget guard (r9): every registered query is
  * EXECUTED (noop write) under a [[graft.plans.ScanLedger]], which
  * sums the file scans of every driver action the query fires —
  * including the jobs its kernels run while the frame runs — against
  * the declared budget in [[ScanBudgets]]. No query scans while it is
  * built, so the ledger must equal the plan census of the frame's one
  * action: a ledger above the census is a build-time scan.
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

  test("suite-wide: every query's ledger equals its plan census") {
    val failures = SparkEntry.defs.flatMap { d =>
      spark.catalog.clearCache()
      val (census, counts) =
        try ScanLedger.measure(spark) { s =>
          val df = d.run(s, dir)
          val census = plans.ScanCensus.tableScans(df)
          df.write.format("noop").mode("overwrite").save()
          census
        }
        finally CacheScope.drain()
      val unequal =
        if (counts == census) Nil
        else Seq(s"${d.name}: ledger $counts across all jobs, plan census $census")
      unequal ++ counts.collect {
        case (t, c) if c > d.scanBudget(t) =>
          s"${d.name}: $t scanned ${c}x across all jobs, budget ${d.scanBudget(t)}"
      }
    }
    assert(failures.isEmpty,
      s"build-time or over-budget scans (fix the plan or justify in ScanBudgets):\n${failures.mkString("\n")}")
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
    assert(plan == counts, s"plan census $plan, ledger $counts")
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
