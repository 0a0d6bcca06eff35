package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A TightLoop scope is the loop's own session: a clone of the input's
  * session with AQE off and a partition count sized from the loop's
  * row count. The caller's conf is never written, so a concurrent
  * query, a second thread's loop and a nested loop each plan with
  * their own settings.
  */
class TightLoopSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def aqe = spark.conf.get("spark.sql.adaptive.enabled")
  private def parts = spark.conf.get("spark.sql.shuffle.partitions")
  private def input: DataFrame = spark.range(100).toDF("a")

  /** A row count the loop sizes to `n` partitions (the test
    * session's shuffle parallelism, 4, caps it).
    */
  private def rows(n: Int): Long = n * TightLoop.RowsPerPartition

  private def confOf(df: DataFrame): (String, String) =
    (df.sparkSession.conf.get("spark.sql.adaptive.enabled"),
      df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

  test("scoped sets loop conf inside, restores session conf after") {
    val (aqe0, parts0) = (aqe, parts)
    assert(aqe0 == "true")
    TightLoop.scoped(input, rows(3)) { in =>
      assert(confOf(in) == ("false", "3"))
      // the caller's session reads its own settings while the loop is open
      assert(aqe == aqe0 && parts == parts0)
      (in, ())
    }
    assert(aqe == aqe0 && parts == parts0)
  }

  test("partitions grow with the row count, capped at the session's shuffle parallelism") {
    def partsFor(n: Long): String = TightLoop.scoped(input, n) { in => (in, confOf(in)._2) }._2
    assert(partsFor(0L) == "1")
    assert(partsFor(rows(2) + 1) == "3")
    assert(partsFor(rows(100)) == parts)
  }

  test("the loop's internal plans are not adaptive and run at the loop's partitions") {
    TightLoop.scoped(input, rows(3)) { in =>
      val plan = in.groupBy((col("a") % 7).as("k")).count().queryExecution.executedPlan
      assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e.numPartitions }
      assert(exchanges == Seq(3), plan.toString)
      (in, ())
    }
  }

  test("the returned frame belongs to the caller's session and plans adaptively") {
    val (out, rounds) = TightLoop.scoped(input, rows(2)) { in => (in.filter(col("a") < 10), 4) }
    assert(rounds == 4)
    assert(out.sparkSession eq spark)
    val plan = out.groupBy((col("a") % 3).as("k")).count().queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
    assert(out.count() == 10)
  }

  test("restore runs even when the loop body throws") {
    val (aqe0, parts0) = (aqe, parts)
    intercept[RuntimeException] {
      TightLoop.scoped(input, rows(2)) { _ => throw new RuntimeException("loop body died") }
    }
    assert(aqe == aqe0 && parts == parts0)
  }

  test("a second thread's loop runs inside an open scope under its own conf") {
    @volatile var inner: (String, String) = null
    TightLoop.scoped(input, rows(2)) { in =>
      val t = new Thread(() => TightLoop.scoped(input, rows(1)) { in2 =>
        inner = confOf(in2)
        (in2, ())
      })
      t.start(); t.join()
      assert(confOf(in) == ("false", "2"), "the second loop changed this loop's conf")
      (in, ())
    }
    assert(inner == ("false", "1"))
    assert(parts != "2" && parts != "1")
  }

  test("a nested loop runs on a clone of the loop's session") {
    TightLoop.scoped(input, rows(3)) { in =>
      val (back, _) = TightLoop.scoped(in, rows(1)) { in2 =>
        assert(confOf(in2) == ("false", "1"))
        (in2, ())
      }
      assert(back.sparkSession eq in.sparkSession)
      assert(confOf(in) == ("false", "3"))
      (in, ())
    }
    assert(aqe == "true")
  }

  test("sequential scopes hand ownership over cleanly across threads") {
    TightLoop.scoped(input, rows(2)) { in => (in, ()) }
    @volatile var ok = false
    val t = new Thread(() => TightLoop.scoped(input, rows(3)) { in => ok = true; (in, ()) })
    t.start(); t.join()
    assert(ok)
    TightLoop.scoped(input, rows(4)) { in => (in, ()) } // and back to this thread
  }
}
