package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AdvancedOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("scaled-long pattern: round(x*100) picks exactly the DECIMAL(.,2) cast's integer") {
    // the q01/q44/q33 fast path rests on this equivalence; exercise
    // the whole 2-dp representable range density around tricky
    // binary-fraction values (x.x5 boundaries, large magnitudes)
    val rng = new scala.util.Random(11)
    val cents = Seq.tabulate(20000)(i =>
      if (i < 10000) i.toLong - 5000 // dense small range incl. negatives
      else rng.nextLong() % 1000000000L) // up to ±1e7 dollars
    val df = cents.map(c => c / 100.0).toDF("v")
    val mismatches = df.select(
      round(col("v") * 100).cast("long").as("fast"),
      (col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long").as("exact"))
      .filter(col("fast") =!= col("exact")).count()
    assert(mismatches == 0L)
  }

  test("asOf join picks the latest right row at-or-before each left time") {
    val right = Seq(
      (1L, 10L, "s10"), (1L, 20L, "s20"), (2L, 15L, "s15")
    ).toDF("k", "t", "state")
    val left = Seq(
      (100L, 1L, 5L),   // before any state → null
      (101L, 1L, 10L),  // exactly at t=10 → s10 (<= semantics)
      (102L, 1L, 25L),  // after both → s20
      (103L, 2L, 14L),  // before s15 → null
      (104L, 3L, 99L)   // key with no right rows → null
    ).toDF("event_id", "k", "t")

    val got = AsOfJoin.leftAsOf(left, right, "k", "k", "t", "t", Seq("state"))
      .orderBy("event_id")
      .select("event_id", "asof_state")
      .collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    assert(got.toSeq == Seq(
      100L -> None, 101L -> Some("s10"), 102L -> Some("s20"),
      103L -> None, 104L -> None))
  }

  test("saltedJoin equals the plain join result") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val plain = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_name"))
    val salted = SkewOps.saltedJoin(
      t.orders.withColumnRenamed("o_custkey", "ckey"),
      t.customer.withColumnRenamed("c_custkey", "ckey"),
      key = "ckey", discriminator = "o_orderkey", salts = 8)
      .select(col("o_orderkey"), col("c_name"))
    assert(plain.except(salted).count() == 0)
    assert(salted.except(plain).count() == 0)
    assert(plain.count() == salted.count())
  }

  test("approx_count_distinct within 5% of exact at rsd=0.01") {
    val t = Tables(spark, "/root/testdata/sf0.01")
    val joined = t.lineitem.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    joined.foreach { r =>
      val a = r.getAs[Long]("approx").toDouble
      val e = r.getAs[Long]("exact").toDouble
      assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
    }
  }

  test("q55: the rolled-up sets equal GROUPING SETS, and the () set keeps its row on empty lineitem") {
    val q55 = graft.SparkEntry.queries("q55_grouping_sets")
    val dir = "/root/testdata/sf0.001"
    def groupingSets(table: String) = spark.sql(
      s"""SELECT COALESCE(l_returnflag,'ALL') AS rf, COALESCE(l_linestatus,'ALL') AS ls,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         |FROM parquet.`$table`
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    try {
      val got = q55(spark, dir).collect().toSeq
      assert(got.size == 6 && got.toSet == groupingSets(s"$dir/lineitem.parquet").collect().toSet)
    } finally graft.CacheScope.drain()
    val empty = java.nio.file.Files.createTempDirectory("q55-empty").toFile
    try {
      val table = s"$empty/lineitem.parquet"
      spark.read.parquet(s"$dir/lineitem.parquet").limit(0).write.parquet(table)
      // Spark's grouped GROUPING SETS drops the () row SQL keeps
      assert(groupingSets(table).isEmpty)
      val got = try q55(spark, empty.toString).collect().toSeq finally graft.CacheScope.drain()
      assert(got == Seq(org.apache.spark.sql.Row("ALL", "ALL", 0L, null)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(empty)
  }
}
