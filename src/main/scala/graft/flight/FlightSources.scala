package graft.flight

import graft.flight.FlightModel.{Airline, Airport, Flight, Zone}

/** Extraction layer (reference `/root/reference/src/extract.py`),
  * abstracted behind a source trait so the live-API implementation and
  * fixture-backed fakes are interchangeable (the HTTP client itself is
  * out of engine scope — zero-egress environment).
  */
trait FlightSource {
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
}
