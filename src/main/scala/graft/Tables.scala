package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (`/root/repo/TESTDATA.md`). One parquet file per table under a
  * scale-factor directory.
  *
  * Scale notes: at 100 TB the fact tables (`lineitem`, `orders`,
  * `events`) are huge while `region`/`nation` are tiny and
  * `customer`/`supplier`/`part` are mid-size. Readers here stay plain
  * parquet scans so Catalyst can push filters/column pruning into the
  * scan; join-side broadcast decisions are made per-query (explicit
  * `broadcast()` on the dims that are guaranteed small at any scale).
  */
final class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")     // 5 rows, fixed
  def nation: DataFrame     = t("nation")     // 25 rows, fixed
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** The driver's `events.parquet` carries TIMESTAMP(NANOS), which
    * Spark 4 rejects outright; read nanos as long and rebuild a micros
    * TimestampType (integer `div` keeps it exact — the data is
    * micro-precision). Files already written with micro timestamps
    * (e.g. re-exported snapshots) come back as TimestampType and pass
    * through untouched — the branch keys off the actual read schema.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // NTZ-written files (isAdjustedToUTC=false): value-preserving
      // under the engine's pinned UTC session timezone
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")

  /** `documents` spread across the cluster for compute-heavy per-row
    * work (shingling, hashing, n-gram explosion). The corpus files are
    * small enough that a scan can land in one input split, serializing
    * everything downstream on a single task; a hash repartition on the
    * key costs one tiny shuffle of raw text and buys full parallelism.
    * At real scale the scan already has many splits and this becomes a
    * cheap no-op-shaped exchange — still correct, never harmful.
    */
  def documentsSpread: DataFrame = {
    import org.apache.spark.sql.functions.col
    val n = spark.sparkContext.defaultParallelism
    documents.repartition(n, col("doc_id"))
  }

  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}
