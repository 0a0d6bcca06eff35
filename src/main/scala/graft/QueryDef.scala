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
    oracle: String,
    scanBudgets: Map[String, Int] = Map.empty,
    buildActionScans: Map[String, Int] = Map.empty) {

  /** Build this query: the one entry point Bench, Verify and
    * SparkEntry.queries go through.
    */
  def build(spark: SparkSession, dir: String): DataFrame = run(spark, dir)

  /** Declare this query's per-table file-scan budget where it
    * legitimately exceeds the suite default of 1 (PlanQualitySpec's
    * ScanCensus guard fails any plan over budget). Every call site
    * carries a comment justifying WHY the extra scan is the designed
    * plan rather than the q128 defect class (a shared subtree whose
    * persist was dropped).
    */
  def withScanBudget(budgets: (String, Int)*): QueryDef =
    copy(scanBudgets = scanBudgets ++ budgets)

  /** Default: every table is scanned at most once per execution. */
  def scanBudget(table: String): Int = scanBudgets.getOrElse(table, 1)

  /** Declare file scans this query runs at BUILD time via its own
    * driver actions (rank/offset jobs, pre-counts) — on top of the
    * per-execution [[scanBudget]]. Enforced by the job-level
    * [[graft.plans.ScanLedger]] guard, which sees every action; each
    * call site carries a justification comment like [[withScanBudget]].
    */
  def withBuildActionScans(extra: (String, Int)*): QueryDef =
    copy(buildActionScans = buildActionScans ++ extra)

  /** Total scans one build-and-execute of this query may run,
    * job-level: the plan budget plus declared build-time actions.
    */
  def ledgerBudget(table: String): Int =
    scanBudget(table) + buildActionScans.getOrElse(table, 0)
}

object QueryDef {
  def sql(name: String, oracleSql: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, oracleSql)
}
