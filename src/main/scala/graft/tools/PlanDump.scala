package graft.tools

import graft.GraftSession

/** Dev utility: print the executed plan of one registered query.
  * Usage: runMain graft.tools.PlanDump <queryName> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    // "formatted" explain (r16): the judged plan artifacts under
    // plans/ must carry the numbered operator list with PushedFilters
    // / ReadSchema / join build sides, which executedPlan.toString
    // omits — guide §7.2 / §1 item "capture .explain(formatted)"
    val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
    println(qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
