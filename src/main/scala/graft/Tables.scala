package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Loaders for the TPC-H-ish parquet test tables (`TESTDATA.md`): one
  * file per table under a scale-factor directory, read with its declared
  * schema ([[Tables.schemas]]), so opening a table runs no Spark job.
  *
  * Scale notes: at 100 TB the fact tables (`lineitem`, `orders`,
  * `events`) are huge while `region`/`nation` are tiny and
  * `customer`/`supplier`/`part` are mid-size. Readers here stay plain
  * parquet scans so Catalyst can push filters/column pruning into the
  * scan; join-side broadcast decisions are made per-query (explicit
  * `broadcast()` on the dims that are guaranteed small at any scale).
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.schema(Tables.schemas(name)).parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")     // 5 rows, fixed
  def nation: DataFrame     = t("nation")     // 25 rows, fixed
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `events.ts`, stored as INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * and declared TimestampNTZ, cast to TimestampType: the same instants
    * under the pinned UTC session zone, and unlike a TIMESTAMP read the
    * cast keeps `hour(ts)` the stored wall-clock hour under any zone. */
  def events: DataFrame = t("events").withColumn("ts", col("ts").cast(TimestampType))
  def documents: DataFrame  = t("documents")

  /** `documents` spread across the cluster for compute-heavy per-row
    * work (shingling, hashing, n-gram explosion). The corpus files are
    * small enough that a scan can land in one input split, serializing
    * everything downstream on a single task; a hash repartition on the
    * key costs one tiny shuffle of raw text and buys full parallelism.
    * At real scale the scan already has many splits and this becomes a
    * cheap no-op-shaped exchange — still correct, never harmful.
    */
  def documentsSpread: DataFrame =
    documents.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Each table's parquet schema as Spark infers it from every corpus,
    * all columns nullable. `TablesSpec` compares the two, so a drifted
    * file fails a test instead of reading a missing column as nulls. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }
}
