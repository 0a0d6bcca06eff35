package graft

import graft.operators.DistributedRank
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Building a frame runs no Spark job: `Tables` reads each table with
  * its declared schema, the rank kernels compute their offsets and rank
  * targets in the plan, q55 rolls its grouping sets up in the plan, the
  * graph loops run when their frame runs ([[graft.plans.Deferred]]) and
  * q99's bloom model is a subquery, so the caller's one action is the
  * only one.
  */
class LazyFrameSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs started while `build` runs. */
  private def jobsWhile(build: => DataFrame): Int = TestSpark.jobSitesWhile(build)._2.size

  test("both tiers of the adaptive rank kernels and the distributed kernels build without a job") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val df = Seq.tabulate(500) { i =>
      (s"g${rng.nextInt(3)}", rng.nextInt(40).toLong, i.toLong, rng.nextInt(9).toLong)
    }.toDF("g", "ord", "id", "v")
    val order = Seq("ord", "id")
    def ranks(n: Column): Column = array(lit(1L), n)
    val builds = Seq[(String, () => DataFrame)](
      "rowNumberAdaptive" -> (() => DistributedRank.rowNumberAdaptive(df, Seq("g"), order)),
      "rowNumberWindow" -> (() => DistributedRank.rowNumberWindow(df, Seq("g"), order)),
      "rowNumber" -> (() => DistributedRank.rowNumber(df, Seq("g"), order)),
      "runningSumAdaptive" -> (() => DistributedRank.runningSumAdaptive(
        df, Seq("g"), order, "v", outTotal = "t", outRank = "k")),
      "runningSumWindow" -> (() => DistributedRank.runningSumWindow(
        df, Seq("g"), order, "v", outTotal = "t", outRank = "k")),
      "runningSum" -> (() => DistributedRank.runningSum(
        df, Seq("g"), order, "v", outTotal = "t", outRank = "k")),
      "runningMax" -> (() => DistributedRank.runningMax(df, Nil, order, "v")),
      "valuesAtRanksWindow" -> (() => DistributedRank.valuesAtRanksWindow(
        df, Seq("g"), order, ranks, outTotal = "n")),
      "valuesAtRanksByValue" -> (() => DistributedRank.valuesAtRanksByValue(
        df, Seq("g"), "v", ranks, outTotal = "n")),
      "valuesAtRanksAdaptive" -> (() => DistributedRank.valuesAtRanksAdaptive(
        df, Seq("g"), "v", order, ranks, outTotal = "n")),
      "valuesAtRanksFromCounts" -> (() => DistributedRank.valuesAtRanksFromCounts(
        df.groupBy(col("g"), col("v")).count(), Seq("g"), "v", "count", ranks,
        outTotal = "n")),
      "medianMad" -> (() => DistributedRank.medianMad(
        df.withColumn("v", col("v").cast("double")), "g", "v")))
    val started =
      try builds.map { case (name, build) => name -> jobsWhile(build()) }
      finally CacheScope.drain()
    assert(started.forall(_._2 == 0), s"jobs started while building: $started")
  }

  // Each of these queries builds with no job at all, as
  // PlanQualitySpec's suite-wide build guard asserts for every query.
  // The titles predate declared table schemas, when opening a table ran
  // Spark's parquet schema job.
  for ((title, names) <- Seq(
      "builds without a job beyond reading its table" -> Seq("q41_exact_median",
        "q55_grouping_sets", "q84_percentiles", "q89_percentile_sketch", "q95_mad_robust",
        "q116_equidepth_hist"),
      "builds with no job but its tables' schema reads" -> Seq("q69_neardup_components",
        "q77_cluster_retention", "q91_order_chain_components", "q99_bloom_decontam",
        "q101_pagerank_orders", "q103_retention_lsh"));
      name <- names) {
    val q = name.takeWhile(_ != '_')
    test(s"$q $title") {
      val built =
        try jobsWhile(SparkEntry.queries(name)(spark, dir))
        finally CacheScope.drain()
      assert(built == 0, s"$q started $built jobs while building")
    }
  }
}
