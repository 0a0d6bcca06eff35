package graft.plans

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Table naming in the plan census: a file read through its
  * `<table>.parquet` path is named by that path, and a catalog table,
  * whose root is a plain warehouse directory, by its table identifier.
  */
class ScanCensusSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("a catalog table's scan is counted under the table's name") {
    import spark.implicits._
    val file = java.nio.file.Files.createTempDirectory("census").resolve("tiny.parquet").toString
    try {
      val rows = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      rows.write.parquet(file)
      rows.write.format("parquet").mode("overwrite").saveAsTable("census_tiny")
      val df = spark.table("census_tiny").crossJoin(spark.read.parquet(file))
      assert(ScanCensus.tableScans(df) == Map("census_tiny" -> 1, "tiny" -> 1))
    } finally spark.sql("DROP TABLE IF EXISTS census_tiny")
  }
}
