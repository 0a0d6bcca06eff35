package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan shapes and semantics of the flight answers' DataFrame forms
  * that the golden fixture alone does not pin.
  */
class FlightQueriesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixture =
    spark.read.parquet(TestSpark.fixturePath("flight_gold_fixture.parquet"))

  /** Q6 as the reference wrote it: the outgoing and incoming
    * aggregates inner-joined on the airport name.
    */
  private def inOutImbalanceModel(gold: DataFrame): DataFrame = {
    val out = gold.groupBy("origin_airport_name").count()
      .withColumnRenamed("count", "outgoing_count")
    val in = gold.groupBy("destination_airport_name").count()
      .withColumnRenamed("count", "incoming_count")
    out.join(in, col("origin_airport_name") === col("destination_airport_name"))
      .withColumn("diff", abs(col("outgoing_count") - col("incoming_count")))
      .select("origin_airport_name", "outgoing_count", "incoming_count", "diff")
      .orderBy(col("diff").desc, col("origin_airport_name"))
  }

  test("Q6 in one aggregate equals the join of two aggregates: nulls, one-sided names, tied diffs") {
    // out/in: A 4/4, B 2/2, C 3/2, D 1/2, E 1/1 (a self-loop);
    // OnlyOut and OnlyIn are one-sided, null ends count for no name
    val gold = Seq[(String, String)](
      ("A", "B"), ("A", "B"), ("A", "C"), ("A", null), ("B", "A"), ("C", "A"),
      ("C", "D"), ("C", "D"), ("D", "C"), ("OnlyOut", "A"), ("B", "OnlyIn"),
      (null, "A"), (null, null), ("E", "E"))
      .toDF("origin_airport_name", "destination_airport_name")
    val got = FlightQueries.inOutImbalance(gold)
    val model = inOutImbalanceModel(gold)
    assert(got.schema == model.schema)
    assert(got.collect().toSeq == model.collect().toSeq)
    // diff desc, ties by name
    assert(got.collect().map(_.getString(0)).toSeq == Seq("C", "D", "A", "B", "E"))

    val onFixture = FlightQueries.inOutImbalance(fixture)
    assert(onFixture.collect().toSeq == inOutImbalanceModel(fixture).collect().toSeq)
    assert(graft.plans.ScanCensus.tableScans(onFixture).values.toSeq == Seq(1))
  }

  private def globalSorts(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case s: SortExec if s.global => s }

  private def rangeExchanges(df: DataFrame) =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  test("the unordered Q2, Q4 and Q5 forms plan no global sort and no range exchange") {
    val forms = Seq(
      "Q2" -> (FlightQueries.mostActivePerContinentUnordered _, FlightQueries.mostActivePerContinent _),
      "Q4" -> (FlightQueries.avgFlightLengthPerContinentUnordered _,
        FlightQueries.avgFlightLengthPerContinent _),
      "Q5" -> (FlightQueries.topThreeAircraftPerCountryUnordered _,
        FlightQueries.topThreeAircraftPerCountry _))
    forms.foreach { case (q, (unordered, ordered)) =>
      val u = unordered(fixture)
      assert(globalSorts(u).isEmpty, s"$q: ${u.queryExecution.executedPlan}")
      assert(rangeExchanges(u).isEmpty, s"$q: ${u.queryExecution.executedPlan}")
      // the ordered QueryDef form sorts the same rows
      val o = ordered(fixture)
      assert(globalSorts(o).nonEmpty, q)
      assert(u.collect().sortBy(_.getString(0)).toSeq == o.collect().toSeq, q)
    }
  }
}
