package graft.flight

import graft.flight.FlightModel._
import org.scalatest.funsuite.AnyFunSuite

/** Quadtree splitter + recursive truncation-split fetch
  * (`/root/reference/src/extract.py:11-83`), against a fake source.
  */
class FlightExtractSpec extends AnyFunSuite {

  private def mkFlight(i: Int) =
    Flight(s"f$i", "A320", Some(0), Some(0f), Some(0f), "AAA", "BBB", s"N$i", Some(0), "AL1")

  test("divideZone: four quadrants tile the parent exactly") {
    val z = Zone(50, -10, 40, 10)
    val subs = FlightExtract.divideZone(z)
    assert(subs.size == 4)
    assert(subs.head == Zone(50, -10, 45, 0))
    assert(subs(3) == Zone(45, 0, 40, 10))
    // Union of child extents equals parent extent
    assert(subs.map(_.tlY).max == z.tlY && subs.map(_.brY).min == z.brY)
    assert(subs.map(_.tlX).min == z.tlX && subs.map(_.brX).max == z.brX)
  }

  test("recursive fetch splits exactly on the truncation sentinel") {
    // Source that returns `limit` flights for the root zone (truncated)
    // and small counts for subzones → expect one level of subdivision.
    val root = Zone(90, -180, -90, 180)
    var calls = List.empty[Zone]
    val src = new FlightSource {
      def zones: Seq[Zone] = Seq(root)
      def flightsInZone(zone: Zone, limit: Int): Seq[Flight] = {
        calls = zone :: calls
        if (zone == root) (1 to limit).map(mkFlight)
        else (1 to 3).map(mkFlight)
      }
      def airlines: Seq[Airline] = Seq.empty
      def airports: Seq[Airport] = Seq.empty
    }
    val out = FlightExtract.allFlights(src, limit = 10)
    assert(out.size == 12)            // 4 subzones × 3
    assert(calls.size == 5)           // root + 4 children
  }

  test("fetch below the limit does not split") {
    val root = Zone(90, -180, -90, 180)
    val src = new FlightSource {
      def zones: Seq[Zone] = Seq(root)
      def flightsInZone(zone: Zone, limit: Int): Seq[Flight] = (1 to 9).map(mkFlight)
      def airlines: Seq[Airline] = Seq.empty
      def airports: Seq[Airport] = Seq.empty
    }
    assert(FlightExtract.allFlights(src, limit = 10).size == 9)
  }
}
