package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark-first implementation plus an equivalent
  * ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables.
  *
  * Determinism contract (so Spark output hash-matches the oracle):
  *   - every output is fully ordered with explicit tiebreaks;
  *   - aggregates over doubles go through exact DECIMAL arithmetic and
  *     are cast to DOUBLE only at the end (identical bits both engines);
  *   - trig/float math is cast to FLOAT (32-bit) at the end so 1-ulp
  *     libm-vs-JVM differences vanish;
  *   - column names are aliased identically on both sides.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String) {

  /** Build this query: the one entry point Bench, Verify and
    * SparkEntry.queries go through.
    */
  def build(spark: SparkSession, dir: String): DataFrame = run(spark, dir)

  /** File scans of `table` one execution may run: 1, or the justified
    * exception in [[ScanBudgets.budgets]].
    */
  def scanBudget(table: String): Int =
    ScanBudgets.budgets.get(name).flatMap(_.get(table)).getOrElse(1)
}

object QueryDef {
  def sql(name: String, oracleSql: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, oracleSql)
}
