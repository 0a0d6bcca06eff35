package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.DistributedRank
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.SparkBridge
import org.scalatest.funsuite.AnyFunSuite

/** Building a frame runs no Spark job: the rank kernels compute their
  * offsets in the plan and q55 rolls its grouping sets up in the plan,
  * so the caller's one action is the only one.
  */
class LazyFrameSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs started while `build` runs. */
  private def jobsWhile(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SparkBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      build
      SparkBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("both tiers of the adaptive rank kernels and the distributed kernels build without a job") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val df = Seq.tabulate(500) { i =>
      (s"g${rng.nextInt(3)}", rng.nextInt(40).toLong, i.toLong, rng.nextInt(9).toLong)
    }.toDF("g", "ord", "id", "v")
    val order = Seq("ord", "id")
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
      "runningMax" -> (() => DistributedRank.runningMax(df, Nil, order, "v")))
    val started =
      try builds.map { case (name, build) => name -> jobsWhile(build()) }
      finally CacheScope.drain()
    assert(started.forall(_._2 == 0), s"jobs started while building: $started")
  }

  test("q55 builds without a job beyond reading its table") {
    // Tables reads parquet without a declared schema, so opening
    // lineitem runs Spark's schema job; q55 itself must add none
    val read = jobsWhile(Tables(spark, dir).lineitem)
    val q55 =
      try jobsWhile(SparkEntry.queries("q55_grouping_sets")(spark, dir))
      finally CacheScope.drain()
    assert(q55 == read, s"q55 started $q55 jobs while building; reading lineitem starts $read")
  }
}
