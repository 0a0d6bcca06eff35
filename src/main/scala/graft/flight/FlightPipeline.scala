package graft.flight

import graft.flight.FlightModel._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SparkBridge

import java.time.ZonedDateTime
import java.util.concurrent.{ExecutionException, ExecutorService, Executors}

/** Bronze→silver→gold pipeline driver (reference
  * `/root/reference/src/main.py:105-153`), batch-first: one run = one
  * timestamped snapshot of each layer. Scheduling (the reference's
  * hourly Prefect deployment, `main.py:156`) is out of engine scope —
  * call [[run]] from cron/Airflow/etc. or [[FlightScheduler]].
  *
  * Concurrency: after extraction, the three layer writes run as three
  * concurrent Spark actions on the one session, each planned from the
  * same in-memory bronze frame. Gold re-plans silver's transform
  * instead of reading silver's snapshot back, and gets or creates the
  * dims inside its own action. At hourly volumes fixed per-job overhead
  * bounds a tick, so overlapping the writes shortens it where running
  * them in turn left executors idle. The writes run on a shared pool of
  * three daemon threads, one per layer (concurrent runs queue on it),
  * through [[SparkBridge.submitCaptured]]: each write carries the
  * caller's active session and local properties, so its jobs belong to
  * the caller's job group and cancelling that group reaches them.
  *
  * Failure contract: each layer commits on its own. A failed layer
  * leaves only that layer's hour missing; the others still commit.
  * [[run]] waits for all three writes, then rethrows the first failure
  * in layer order (bronze, silver, gold) with the later ones attached
  * as suppressed. [[FlightIo.newestSnapshotDir]] counts only committed
  * snapshots, so [[latestGold]] never returns a gold write that failed.
  */
final class FlightPipeline(
    spark: SparkSession,
    source: FlightSource,
    basePath: String,
    apiLimit: Int = FlightExtract.DefaultApiLimit) {

  import spark.implicits._

  private val bronzeBase = s"$basePath/bronze"
  private val silverBase = s"$basePath/silver"
  private val goldBase   = s"$basePath/gold"

  def airlinesDf: DataFrame = FlightIo.getOrCreateDimCsv(
    spark, s"$basePath/airlines", FlightModel.airlineSchema,
    () => source.airlines.toDF())

  /** Airports dim; when re-read from CSV the lat/lon arrive as the
    * written strings — gold re-casts to float, preserving the
    * reference's behavior (`main.py:53`, `transform.py:217-234`).
    */
  def airportsDf: DataFrame = FlightIo.getOrCreateDimCsv(
    spark, s"$basePath/airports", FlightModel.airportSchema,
    () => source.airports.toDF())

  /** One pipeline run; returns the gold snapshot path. */
  def run(now: ZonedDateTime = ZonedDateTime.now(FlightIo.ParisZone)): String = {
    val raw: Seq[Flight] = FlightExtract.allFlights(source, apiLimit)
    // to(schema) reconciles the encoder schema's nullability with the
    // declared silver schema inside the plan — no drop to the RDD
    // path. Driver-side rows are reference parity (hourly page
    // volumes).
    val bronze = raw.toDF().to(FlightModel.flightSilverSchema)
    val writes = Seq[() => String](
      () => FlightIo.writeBronzeCsv(bronze, bronzeBase, now),
      () => FlightIo.writeParquetSnapshot(FlightEtl.silver(bronze), silverBase, now),
      () => FlightIo.writeParquetSnapshot(
        FlightEtl.gold(FlightEtl.silver(bronze), airportsDf, airlinesDf), goldBase, now))
      .map(write => SparkBridge.submitCaptured(spark, FlightPipeline.writers)(write()))
    val failures = writes.flatMap { w =>
      try { w.get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
    }
    failures match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => writes.last.get()
    }
  }

  /** Newest gold snapshot as a DataFrame (reference
    * `answers.py:197-207`).
    */
  def latestGold(): Option[DataFrame] =
    FlightIo.newestSnapshotDir(spark, goldBase).map(FlightIo.readGold(spark, _))
}

object FlightPipeline {

  /** One thread per layer write; daemon, so an idle pool never keeps
    * the JVM alive.
    */
  private lazy val writers: ExecutorService = Executors.newFixedThreadPool(3, { r =>
    val t = new Thread(r, "flight-layer-write")
    t.setDaemon(true)
    t
  })
}
