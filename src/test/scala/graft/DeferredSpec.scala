package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{ConnectedComponents, PageRank}
import graft.plans.Deferred
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The deferred operator: a kernel runs when its frame executes, once
  * per execution, under any legal configuration, and its planning
  * strategy is installed once per session.
  */
class DeferredSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def edges(s: SparkSession): DataFrame = {
    import s.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L), (21L, 20L))
    (pairs ++ pairs.map(_.swap)).toDF("a", "b")
  }

  private def jobsWhile(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SparkBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      SparkBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def rows(df: DataFrame): Seq[Row] =
    try df.collect().toSeq.sortBy(_.toString) finally CacheScope.drain()

  test("building a Deferred frame starts no job") {
    val e = edges(spark)
    val started = jobsWhile {
      Deferred.frame(e, e.schema)(in => in)
      ConnectedComponents.run(e)
      PageRank.fixedPoint(e, 3, symmetric = true)
    }
    assert(started == 0, s"$started jobs started while building")
  }

  test("each execution of one frame runs the kernel again") {
    val runs = new AtomicInteger
    val out = new StructType().add("a", LongType)
    val f = Deferred.frame(spark.range(5).toDF("a"), out) { in =>
      runs.incrementAndGet()
      in.select((col("a") * 2).as("a"))
    }
    assert(runs.get == 0)
    assert(f.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    // a second action plans the frame again (repeating the same action
    // on one Dataset reuses its physical plan's RDD, for any operator)
    assert(f.count() == 5L)
    assert(runs.get == 2, s"kernel ran ${runs.get} times for two executions")
  }

  test("a kernel emitting other types than declared fails at execution") {
    val f = Deferred.frame(spark.range(3).toDF("a"), new StructType().add("a", LongType)) { in =>
      in.select(col("a").cast("string").as("a"))
    }
    val ex = intercept[Exception](f.collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("declared bigint"))), ex.toString)
  }

  test("CC labels and PageRank ranks are identical with AQE off and with codegen off") {
    def results(s: SparkSession): (Seq[Row], Seq[Row]) =
      (rows(ConnectedComponents.run(edges(s))),
        rows(PageRank.fixedPoint(edges(s), 5, symmetric = true)))
    val base = results(spark)
    assert(base._1.nonEmpty && base._2.nonEmpty)
    Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.codegen.wholeStage" -> "false")
      .foreach { case (k, v) =>
        val s = SparkBridge.cloneSession(spark)
        s.conf.set(k, v)
        assert(results(s) == base, s"$k=$v changed the results")
      }
  }

  test("setup is idempotent and a cloned session inherits one strategy") {
    def installed(s: SparkSession): Int =
      s.experimental.extraStrategies.count(_.getClass.getName.startsWith(classOf[Deferred].getName))
    Deferred.setup(spark)
    Deferred.setup(spark)
    assert(installed(spark) == 1)
    val clone = SparkBridge.cloneSession(spark)
    Deferred.setup(clone)
    assert(installed(clone) == 1)
  }

  test("after a q101 action and drain the cache manager holds no entry") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q101_pagerank_orders")(spark, dir)
    try assert(df.count() > 0) finally CacheScope.drain()
    assert(spark.sharedState.cacheManager.isEmpty, "a cache entry outlived the action")
  }
}
