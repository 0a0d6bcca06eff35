package graft.operators

import graft.QueryDef
import graft.flight.FlightIo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DataFrame-level forms of the six reference queries
  * (`/root/reference/src/answers.py`), exposed through the driver
  * contract as fully-oracled checks: the gold flights table is not part
  * of the TPC-H-ish oracle schema, but the fixture is plain parquet, so
  * each oracle SQL reads it directly via a `gold` CTE over the absolute
  * fixture path. Value-level reference parity is additionally pinned by
  * the golden-fixture suite (`FlightGoldenSpec`).
  * [[graft.flight.FlightAnswers]] wraps these with the reference's
  * collect-to-driver result shapes.
  */
object FlightQueries {

  /** The reference's own golden gold-layer fixture (copied from
    * `/root/reference/tests/test.parquet`; see FIXTURES.md §1).
    */
  val FixturePath = "/root/repo/src/test/resources/flight_gold_fixture.parquet"

  /** Resolve the gold table: `dir/gold.parquet` when present (any
    * Hadoop filesystem — local, s3a, …), otherwise the bundled fixture.
    * The driver's sf dirs carry no gold table, so the fixture is the
    * effective source there; a user pointing the engine at their own
    * lakehouse layout gets their data. Read with the declared
    * [[graft.flight.FlightModel.goldSchema]] ([[FlightIo.readGold]],
    * the one gold reader), so resolving it runs no schema-inference
    * job.
    */
  private def gold(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val candidate = new Path(dir, "gold.parquet")
    val fs = candidate.getFileSystem(s.sparkContext.hadoopConfiguration)
    val path = if (fs.exists(candidate)) candidate.toString else FixturePath
    FlightIo.readGold(s, path)
  }

  /** DuckDB-side mirror of [[gold]]: the fixture path inlined as a CTE
    * (the driver registers only the TPC-H-ish views).
    */
  private val GoldCte = s"WITH gold AS (SELECT * FROM '$FixturePath')"

  def airlineFlightCounts(gold: DataFrame): DataFrame =
    gold.groupBy("airline_name").count()
      .orderBy(col("count").desc, col("airline_name"))

  /** Q2 without its final sort: [[graft.flight.FlightAnswers]]
    * collects it into a `Map`, where row order is lost anyway, and the
    * global sort would cost a range-sampling job and an exchange.
    */
  def mostActivePerContinentUnordered(gold: DataFrame): DataFrame = {
    val counted = gold
      .filter(col("origin_continent") === col("destination_continent"))
      .groupBy("airline_name", "origin_continent").count()
    val w = Window.partitionBy(col("origin_continent"))
      .orderBy(col("count").desc, col("airline_name"))
    counted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("origin_continent"), col("airline_name").as("most_active_airline"), col("count"))
  }

  def mostActivePerContinent(gold: DataFrame): DataFrame =
    mostActivePerContinentUnordered(gold).orderBy(col("origin_continent"))

  def longestTrajectories(gold: DataFrame, k: Int = 1): DataFrame =
    gold.orderBy(col("distance").desc_nulls_last, col("id")).limit(k)

  /** 2-dp half-even rounding via `bround` (matches the reference's
    * driver-side Python `round`, `answers.py:84`). The mean follows the
    * oracle determinism contract (QueryDef scaladoc): exact DECIMAL sum,
    * one IEEE double division — bit-identical in any partition order and
    * in DuckDB.
    */
  def avgFlightLengthPerContinentUnordered(gold: DataFrame): DataFrame =
    gold.filter(col("origin_continent") === col("destination_continent"))
      .groupBy("origin_continent")
      .agg(bround(
        sum(col("distance").cast("decimal(20,7)")).cast("double") / count(lit(1)),
        2).as("average_distance"))

  def avgFlightLengthPerContinent(gold: DataFrame): DataFrame =
    avgFlightLengthPerContinentUnordered(gold).orderBy(col("origin_continent"))

  def topThreeAircraftPerCountryUnordered(gold: DataFrame): DataFrame = {
    val counted = gold.groupBy("aircraft_code", "origin_country").count()
    val w = Window.partitionBy(col("origin_country"))
      .orderBy(col("count").desc, col("aircraft_code"))
    counted.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .groupBy("origin_country")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rank"), col("aircraft_code")))),
          x => x.getField("aircraft_code")),
        ", ").as("top_three_aircraft_model"))
  }

  def topThreeAircraftPerCountry(gold: DataFrame): DataFrame =
    topThreeAircraftPerCountryUnordered(gold).orderBy(col("origin_country"))

  /** Q6 in one scan and one aggregate: each gold row counts once at
    * its origin end (outgoing) and once at its destination end
    * (incoming). Null names are dropped, and a name is kept only when
    * both of its counts are positive: exactly the reference's inner
    * join of the outgoing and incoming aggregates (the oracle SQL keeps
    * that join form). `count` of a `when` keeps both counts non-null
    * longs, as `count()` made them.
    */
  def inOutImbalance(gold: DataFrame): DataFrame =
    gold.select(posexplode(array(col("origin_airport_name"), col("destination_airport_name")))
        .as(Seq("side", "origin_airport_name")))
      .filter(col("origin_airport_name").isNotNull)
      .groupBy("origin_airport_name")
      .agg(count(when(col("side") === 0, 1)).as("outgoing_count"),
        count(when(col("side") === 1, 1)).as("incoming_count"))
      .filter(col("outgoing_count") > 0 && col("incoming_count") > 0)
      .withColumn("diff", abs(col("outgoing_count") - col("incoming_count")))
      .orderBy(col("diff").desc, col("origin_airport_name"))

  val all: Seq[QueryDef] = Seq(
    QueryDef.sql("flight_q1_airline_counts",
      s"""$GoldCte
         |SELECT airline_name, count(*) AS count FROM gold
         |GROUP BY airline_name ORDER BY count DESC, airline_name""".stripMargin)(
      (s, d) => airlineFlightCounts(gold(s, d))),
    QueryDef.sql("flight_q2_active_per_continent",
      s"""$GoldCte, counted AS (
         |  SELECT airline_name, origin_continent, count(*) AS count FROM gold
         |  WHERE origin_continent = destination_continent
         |  GROUP BY airline_name, origin_continent),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY origin_continent
         |    ORDER BY count DESC, airline_name) AS rn FROM counted)
         |SELECT origin_continent, airline_name AS most_active_airline, count
         |FROM ranked WHERE rn = 1 ORDER BY origin_continent""".stripMargin)(
      (s, d) => mostActivePerContinent(gold(s, d))),
    QueryDef.sql("flight_q3_longest_trajectory",
      s"""$GoldCte
         |SELECT * FROM gold ORDER BY distance DESC NULLS LAST, id LIMIT 1""".stripMargin)(
      (s, d) => longestTrajectories(gold(s, d))),
    QueryDef.sql("flight_q4_avg_length_per_continent",
      s"""$GoldCte
         |SELECT origin_continent,
         |  round(CAST(sum(CAST(distance AS DECIMAL(20,7))) AS DOUBLE)/count(*), 2)
         |    AS average_distance
         |FROM gold WHERE origin_continent = destination_continent
         |GROUP BY origin_continent ORDER BY origin_continent""".stripMargin)(
      (s, d) => avgFlightLengthPerContinent(gold(s, d))),
    QueryDef.sql("flight_q5_top3_aircraft",
      s"""$GoldCte, counted AS (
         |  SELECT aircraft_code, origin_country, count(*) AS count FROM gold
         |  GROUP BY aircraft_code, origin_country),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY origin_country
         |    ORDER BY count DESC, aircraft_code) AS rank FROM counted)
         |SELECT origin_country,
         |  string_agg(aircraft_code, ', ' ORDER BY rank) AS top_three_aircraft_model
         |FROM ranked WHERE rank <= 3
         |GROUP BY origin_country ORDER BY origin_country""".stripMargin)(
      (s, d) => topThreeAircraftPerCountry(gold(s, d))),
    QueryDef.sql("flight_q6_inout_imbalance",
      s"""$GoldCte, outc AS (
         |  SELECT origin_airport_name, count(*) AS outgoing_count FROM gold GROUP BY 1),
         |inc AS (
         |  SELECT destination_airport_name, count(*) AS incoming_count FROM gold GROUP BY 1)
         |SELECT origin_airport_name, outgoing_count, incoming_count,
         |  abs(outgoing_count - incoming_count) AS diff
         |FROM outc JOIN inc ON origin_airport_name = destination_airport_name
         |ORDER BY diff DESC, origin_airport_name""".stripMargin)(
      (s, d) => inOutImbalance(gold(s, d))))
}
