package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from per-domain modules; each [[QueryDef]]
  * pairs the Spark-first implementation with its DuckDB oracle SQL
  * (column names aliased identically on both sides — the driver's
  * compare sorts columns by name before hashing values).
  */
object SparkEntry {

  /** Full registry incl. scan budgets — PlanQualitySpec's suite-wide
    * ScanCensus guard iterates this, not just the name->run map. */
  lazy val defs: Seq[QueryDef] = ScanBudgets.annotate(
    operators.RelationalQueries.all ++
      operators.EventQueries.all ++
      operators.TextQueries.all ++
      operators.SimilarityQueries.all ++
      operators.ExtendedQueries.all ++
      operators.AnalyticsQueries.all ++
      operators.AdvancedQueries.all ++
      operators.CurationQueries.all ++
      operators.FlightQueries.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, built
    * through [[QueryDef.build]].
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> ((s: SparkSession, dir: String) => d.build(s, dir))).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(sql => d.name -> sql)).toMap
}
