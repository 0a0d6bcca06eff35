package graft.flight

import graft.flight.FlightModel.{Airline, Airport, Flight, Zone}

/** Extraction layer (reference `/root/reference/src/extract.py`),
  * abstracted behind a source trait so the live-API implementation and
  * fixture-backed fakes are interchangeable (the HTTP client itself is
  * out of engine scope — zero-egress environment).
  */
trait FlightSource extends Serializable {
  /** Coarse zones to scan (reference `api.get_zones()`). */
  def zones: Seq[Zone]
  /** Flights currently inside a zone, truncated at `limit` by the
    * upstream API (reference `get_flights`, `extract.py:54-70`).
    */
  def flightsInZone(zone: Zone, limit: Int): Seq[Flight]
  def airlines: Seq[Airline]
  def airports: Seq[Airport]
}

object FlightExtract {

  /** Reference default page limit (`config.ini.template:16`). */
  val DefaultApiLimit = 1500

  /** Split a bounding box into 4 equal quadrants at the midpoint
    * (`extract.py:11-51`).
    */
  def divideZone(z: Zone): Seq[Zone] = {
    val midY = (z.tlY + z.brY) / 2
    val midX = (z.tlX + z.brX) / 2
    Seq(
      Zone(z.tlY, z.tlX, midY, midX), // top-left
      Zone(z.tlY, midX, midY, z.brX), // top-right
      Zone(midY, z.tlX, z.brY, midX), // bottom-left
      Zone(midY, midX, z.brY, z.brX)) // bottom-right
  }

  /** Recursive quadtree fetch: when a zone's result hits the API page
    * limit (truncation sentinel), subdivide and recurse
    * (`extract.py:54-70`). The reference compares `len(...)` against a
    * configparser *string* — the faithful capability is
    * split-on-truncation, implemented here with a correct Int
    * comparison.
    */
  def flightsForZone(src: FlightSource, zone: Zone, limit: Int = DefaultApiLimit): Seq[Flight] = {
    val flights = src.flightsInZone(zone, limit)
    if (flights.size == limit)
      divideZone(zone).flatMap(sub => flightsForZone(src, sub, limit))
    else flights
  }

  /** All flights across every zone (`get_all_flights`,
    * `extract.py:73-83`).
    */
  def allFlights(src: FlightSource, limit: Int = DefaultApiLimit): Seq[Flight] =
    src.zones.flatMap(z => flightsForZone(src, z, limit))

  /** EXECUTOR-SIDE quadtree extraction — the scale path. The
    * reference pages every zone through the driver ([[allFlights]],
    * `extract.py:73-83`), which at 3M rows costs ~18 s just shipping
    * driver-resident rows into tasks (single-threaded encode + slice
    * serialization, measured by ProbeBronze, a probe main last
    * present at commit 9aaeeb6 — the write layout was
    * innocent); at 1000× the driver is THE bottleneck. Here the
    * recursion runs level-synchronous on the cluster: each round
    * fetches the current zone frontier inside tasks (pages never
    * touch the driver), collects only the truncated ZONES (a few
    * bytes each) to build the next frontier, and the fetched pages
    * stay executor-resident — bronze then writes straight from the
    * cluster. One fetch per zone, identical to the recursion's page
    * economics; per-level frames are eagerly localCheckpointed (the
    * frontier collect and the final consumer must see the same
    * fetch — a lost block fails loudly rather than silently
    * re-fetching a live source). Output is the same flight MULTISET
    * as [[allFlights]]
    * (spec-pinned); only the row ORDER differs (level-grouped vs
    * depth-first) — downstream medallion stages are order-insensitive.
    * Sources must be serializable ([[FlightSource]] extends it); a
    * live HTTP impl keeps its client `@transient lazy`, one per task.
    */
  def allFlightsDistributed(
      spark: org.apache.spark.sql.SparkSession,
      src: FlightSource,
      limit: Int = DefaultApiLimit,
      maxDepth: Int = 16): org.apache.spark.sql.Dataset[Flight] = {
    import spark.implicits._
    val para = spark.sparkContext.defaultParallelism
    var frontier: Seq[Zone] = src.zones
    var done: Option[org.apache.spark.sql.Dataset[Flight]] = None
    var depth = 0
    while (frontier.nonEmpty && depth <= maxDepth) {
      val lim = limit // avoid capturing the outer closure state
      // eager localCheckpoint, NOT a best-effort persist (r13,
      // ADVICE): the frontier collect and the final consumer must
      // observe the SAME fetch, but cache eviction or task retry
      // would re-invoke flightsInZone inside tasks — a LIVE source
      // can then return a page that disagrees with the truncation
      // decision already taken (silently dropping or double-counting
      // flights). Checkpointing truncates lineage, so a lost block
      // fails the job LOUDLY instead of silently refetching; the
      // level frames are page-sized, and the checkpoint job IS the
      // one fetch per zone the economics already budget.
      val fetched = spark.createDataset(frontier)
        .repartition(math.min(frontier.size, para * 4))
        .mapPartitions(_.map { z =>
          val fl = src.flightsInZone(z, lim)
          (z, fl.size == lim, fl)
        })
        .toDF("zone", "truncated", "flights")
        .localCheckpoint(true)
      val truncated = fetched.filter(org.apache.spark.sql.functions.col("truncated"))
        .select("zone.*").as[Zone].collect().toSeq
      val pages = fetched
        .filter(!org.apache.spark.sql.functions.col("truncated"))
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.col("flights")).as("f"))
        .select("f.*").as[Flight]
      done = done match {
        case None => Some(pages)
        case Some(d) => Some(d.unionAll(pages))
      }
      frontier = truncated.flatMap(divideZone)
      depth += 1
    }
    require(frontier.isEmpty,
      s"allFlightsDistributed: zones still truncated at depth $maxDepth — " +
        "raise maxDepth or the page limit")
    done.getOrElse(spark.emptyDataset[Flight])
  }
}
