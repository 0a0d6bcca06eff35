package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ScanCensus

/** Two queries on two threads of one session: each gets the rows,
  * the hash and the plan census of its serial run, and their drains
  * leave no scoped cache behind. q27 and q103 persist the same
  * `TextQueries.lshCandidates` plans; q101 runs its PageRank rounds in
  * a `TightLoop` scope while q55 persists its (rf, ls) aggregate beside it.
  */
class ConcurrentQueriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** (rows, xxhash64 sum) of one action over the query's output. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toSeq: _*).cast(DecimalType(38, 0))),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** The library-caller contract: build, one action, drain; with the
    * frame's plan census.
    */
  private def runOne(name: String): ((Long, java.math.BigDecimal), Map[String, Int]) = {
    val d = SparkEntry.defs.find(_.name == name).get
    try {
      val df = d.build(spark, dir)
      (fingerprint(df), ScanCensus.tableScans(df))
    } finally CacheScope.drain()
  }

  private def concurrently(a: String, b: String): Unit = {
    spark.catalog.clearCache()
    val serial = Seq(a, b).map(n => n -> runOne(n)).toMap
    assert(spark.sharedState.cacheManager.isEmpty, "a serial run left a cache entry")
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(a, b).map { n =>
      val t = new Thread(() => {
        start.await()
        results.put(n, try runOne(n) catch { case e: Throwable => e })
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    Seq(a, b).foreach { n =>
      results.get(n) match {
        case e: Throwable => fail(s"$n failed on its thread", e)
        case (fp, counts) =>
          assert(fp == serial(n)._1, s"$n: concurrent rows/hash differ from the serial run")
          assert(counts == serial(n)._2, s"$n: concurrent plan census differs from the serial run")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "scoped cache entries remain after both threads drained")
  }

  test("q27 and q103 share lshCandidates' persisted plans across two threads") {
    concurrently("q27_lsh_candidates", "q103_retention_lsh")
  }

  test("a TightLoop query (q101) and an adaptive query (q55) run side by side") {
    concurrently("q101_pagerank_orders", "q55_grouping_sets")
  }
}
