package graft.flight

import graft.TestSpark
import graft.flight.FlightModel._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.time.{ZoneOffset, ZonedDateTime}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The hourly tick's concurrent layer writes: the per-layer failure
  * contract, the caller's job group on every job, and a gold lookup
  * that fires no Spark job.
  */
class FlightPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val now = ZonedDateTime.of(2024, 4, 18, 20, 0, 0, 0, ZoneOffset.UTC)

  private object Src extends FlightSource {
    def zones: Seq[Zone] = Seq(Zone(90, -180, -90, 180))
    def flightsInZone(zone: Zone, limit: Int): Seq[Flight] = Seq(
      Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "SIN", "JFK", "SQ24", Some(0), "SIA"),
      Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "SIN", "JFK", "SQ24", Some(0), "SIA"),
      Flight("f2", "B738", Some(1713453442), Some(3f), Some(4f), "JFK", "SIN", "DL9", Some(0), "DAL"))
    def airlines: Seq[Airline] = Seq(Airline("Singapore Airlines", "SIA"), Airline("Delta", "DAL"))
    def airports: Seq[Airport] = Seq(
      Airport("Singapore Changi Airport", "SIN", Some(1.350189f), Some(103.9944f), "Singapore"),
      Airport("John F. Kennedy International Airport", "JFK", Some(40.639751f), Some(-73.7789f), "United States"))
  }

  /** Job-group ids of the jobs `body` starts (`<none>` for none). */
  private def jobGroups(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        groups.add(Option(job.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    SparkBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      SparkBridge.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    groups.asScala.toSeq
  }

  /** Whether `e` or one of its causes names the `layer` dir of `base`. */
  private def names(e: Throwable, base: String, layer: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(s"$base/$layer"))

  /** A regular file where a layer's directory must go. */
  private def block(base: String, layer: String): Unit =
    Files.write(Paths.get(base, layer), Array[Byte](1)): Unit

  test("a failed layer fails run after the other layers commit; its hour alone is missing") {
    val base = Files.createTempDirectory("graft-pipe-fail").toString
    block(base, "silver")
    val pipe = new FlightPipeline(spark, Src, base)
    val e = intercept[Exception](pipe.run(now))
    assert(names(e, base, "silver"), e)

    val bronzeDir = FlightIo.timestampedPath(s"$base/bronze", now)
    val goldDir = FlightIo.timestampedPath(s"$base/gold", now)
    assert(FlightIo.successExists(spark, bronzeDir))
    assert(FlightIo.successExists(spark, goldDir))
    assert(FlightIo.newestSnapshotDir(spark, s"$base/gold").exists(_.endsWith(goldDir)))
    assert(Files.isRegularFile(Paths.get(base, "silver")))
    assert(FlightIo.newestSnapshotDir(spark, s"$base/silver").isEmpty)
    assert(pipe.latestGold().get.count() == 2)
  }

  test("two failed layers: the first in layer order is thrown, the later one suppressed") {
    val base = Files.createTempDirectory("graft-pipe-fail2").toString
    block(base, "silver")
    block(base, "gold")
    val e = intercept[Exception](new FlightPipeline(spark, Src, base).run(now))
    assert(names(e, base, "silver") && !names(e, base, "gold"), e)
    assert(e.getSuppressed.exists(names(_, base, "gold")), e.getSuppressed.toSeq)
    assert(FlightIo.successExists(spark, FlightIo.timestampedPath(s"$base/bronze", now)))
  }

  test("every job of a tick carries the caller's job group") {
    val base = Files.createTempDirectory("graft-pipe-group").toString
    val pipe = new FlightPipeline(spark, Src, base)
    val sc = spark.sparkContext
    val groups = jobGroups {
      sc.setJobGroup("flight-tick", "hourly tick")
      try pipe.run(now) finally sc.clearJobGroup()
    }
    // bronze, silver, gold and the two dims write at least one job each
    assert(groups.size >= 5, groups)
    assert(groups.forall(_ == "flight-tick"), groups)
  }

  test("latestGold fires no Spark job and reads the declared gold schema, the fixture's") {
    val base = Files.createTempDirectory("graft-pipe-lookup").toString
    val pipe = new FlightPipeline(spark, Src, base)
    val goldDir = pipe.run(now)
    var gold: org.apache.spark.sql.DataFrame = null
    assert(jobGroups { gold = pipe.latestGold().get }.isEmpty)
    assert(gold.schema == FlightModel.goldSchema)
    // inferred from the files: what the pipeline writes and the fixture holds
    assert(spark.read.parquet(goldDir).schema == FlightModel.goldSchema)
    assert(spark.read.parquet(TestSpark.fixturePath("flight_gold_fixture.parquet")).schema
      == FlightModel.goldSchema)
  }
}
