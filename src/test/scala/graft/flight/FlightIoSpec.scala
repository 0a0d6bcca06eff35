package graft.flight

import graft.TestSpark
import graft.flight.FlightModel._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.{ZoneOffset, ZonedDateTime}

/** Sinks, timestamped path layout, newest-snapshot resolution and the
  * end-to-end pipeline run on a temp dir with a fake source.
  */
class FlightIoSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("timestampedPath renders Europe/Paris wall time") {
    // 2024-04-18 22:30:00 UTC = 2024-04-19 00:30 Paris (CEST)
    val utc = ZonedDateTime.of(2024, 4, 18, 22, 30, 0, 0, ZoneOffset.UTC)
    val p = FlightIo.timestampedPath("/base", utc)
    assert(p == "/base/year=2024/month=04/day=19/flights20240419003000")
  }

  test("newestSnapshotDir picks the lexicographic max leaf with parquet") {
    val tmp = Files.createTempDirectory("graft-io").toString
    import spark.implicits._
    val df = Seq((1, "a")).toDF("k", "v")
    df.write.parquet(s"$tmp/gold/year=2024/month=04/day=18/flights20240418110000")
    df.write.parquet(s"$tmp/gold/year=2024/month=04/day=19/flights20240419090000")
    df.write.parquet(s"$tmp/gold/year=2024/month=04/day=19/flights20240419100000")
    val got = FlightIo.newestSnapshotDir(spark, s"$tmp/gold")
    assert(got.exists(_.endsWith("year=2024/month=04/day=19/flights20240419100000")))
    assert(FlightIo.newestSnapshotDir(spark, s"$tmp/nothing").isEmpty)
  }

  test("newestSnapshotDir skips a newer killed write: no _SUCCESS, parts under _temporary") {
    val tmp = Files.createTempDirectory("graft-io-killed").toString
    import spark.implicits._
    val day = s"$tmp/gold/year=2024/month=04/day=19"
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$day/flights20240419100000")
    // what a writer killed before job commit leaves behind: a task's
    // part file under the committer's scratch dir, and no marker
    def part(dir: String): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.write(java.nio.file.Paths.get(dir, "part-00000-x.snappy.parquet"),
        Array[Byte](1, 2, 3))
    }
    part(s"$day/flights20240419110000/_temporary/0/task_202404191100_0001_m_000000")
    // and a newer leaf whose parts landed but whose commit never did
    part(s"$day/flights20240419120000")
    val got = FlightIo.newestSnapshotDir(spark, s"$tmp/gold")
    assert(got.exists(_.endsWith("day=19/flights20240419100000")),
      s"expected the committed snapshot, got $got")
  }

  test("ensureBucketExists is mkdir-p: creates parents, idempotent") {
    val tmp = Files.createTempDirectory("graft-bucket").toString
    val base = s"$tmp/lake/flights/bronze"
    assert(FlightIo.ensureBucketExists(spark, base))
    assert(Files.isDirectory(java.nio.file.Paths.get(base)))
    assert(FlightIo.ensureBucketExists(spark, base)) // already there
  }

  test("pipeline run: bronze→silver→gold on a fake source, queryable gold") {
    val tmp = Files.createTempDirectory("graft-pipe").toString
    val src = new FlightSource {
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
    val pipe = new FlightPipeline(spark, src, tmp)
    val goldPath = pipe.run(ZonedDateTime.of(2024, 4, 18, 20, 0, 0, 0, ZoneOffset.UTC))
    assert(goldPath.contains("year=2024/month=04"))

    val gold = pipe.latestGold().get
    assert(gold.count() == 2) // f1 deduped, both flights enrich fully
    assert(gold.columns.toSeq == FlightModel.goldColumns)
    val r = FlightAnswers.flightWithLongestTrajectory(gold)
    assert(r.getAs[Float]("distance") == 15340.56640625f)

    // dims were cached: second read path (CSV + _SUCCESS) round-trips
    assert(FlightIo.successExists(spark, s"$tmp/airlines"))
    assert(pipe.airlinesDf.count() == 2)
  }
}
