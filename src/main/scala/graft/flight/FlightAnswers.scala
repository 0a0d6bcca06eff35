package graft.flight

import graft.operators.FlightQueries
import org.apache.spark.sql.{DataFrame, Row}

/** The six analytical queries over the gold table
  * (reference `/root/reference/src/answers.py`), in the reference's
  * collect-to-driver result shapes. The DataFrame-level plans live in
  * [[graft.operators.FlightQueries]]; this wrapper only collects. The
  * answers that end as a `Map` collect the unordered forms: a `Map`
  * drops row order, so the final global sort would be pure cost.
  *
  * Determinism: the reference's order-dependent `first`-after-sort and
  * unordered `collect_list` idioms (SURVEY.md §2.11.2/5) are replaced
  * by window rank-1 / rank-sorted-array forms with explicit tiebreaks
  * (count desc, then name asc). Where the golden fixture has a unique
  * winner the output matches it exactly; among exact ties the
  * reference itself was partition-order-nondeterministic.
  */
object FlightAnswers {

  /** Q1 (`answers.py:10-25`): airline with the most flights. */
  def airlineWithMostFlights(gold: DataFrame): Row =
    FlightQueries.airlineFlightCounts(gold).first()

  /** Q2 (`answers.py:28-50`): most active airline per continent,
    * counting only intra-continent flights.
    */
  def mostActiveAirlinePerContinent(gold: DataFrame): Map[String, String] =
    FlightQueries.mostActivePerContinentUnordered(gold)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Q3 (`answers.py:53-64`): flight with the longest trajectory. */
  def flightWithLongestTrajectory(gold: DataFrame): Row =
    FlightQueries.longestTrajectories(gold, 1).first()

  /** Q4 (`answers.py:67-83`): average intra-continent flight length,
    * rounded to 2 dp half-even (the reference's driver-side Python
    * `round`, `answers.py:84` — `bround` in the plan).
    */
  def averageFlightLengthPerContinent(gold: DataFrame): Map[String, Double] =
    FlightQueries.avgFlightLengthPerContinentUnordered(gold)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** Q5 (`answers.py:86-105`): top-3 aircraft models per origin
    * country, comma-joined in descending-count order.
    */
  def topThreeAircraftPerCountry(gold: DataFrame): Map[String, String] =
    FlightQueries.topThreeAircraftPerCountryUnordered(gold)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Q6 (`answers.py:110-130`, untested in the reference): airport
    * with the largest |outgoing − incoming| flight count, among
    * airports with both outgoing and incoming flights (the reference's
    * inner join of the two aggregate sides).
    */
  def airportWithMostDiffInOutFlight(gold: DataFrame): Row =
    FlightQueries.inOutImbalance(gold).first()
}
