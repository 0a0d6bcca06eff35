package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed range join must return EXACTLY the naive inequality
  * join's rows — bucketing is a physical rewrite, not an
  * approximation. Verified against the real events table.
  */
class RangeJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def pairs(
      gapMicros: Long,
      bucketMicros: Long = 0L): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val e = Tables(spark, "/root/testdata/sf0.001").events
      .select(col("event_id"), col("user_id"), col("ts"))
    val a = e.select(col("event_id").as("ea"), col("user_id"), col("ts").as("ta"))
    val b = e.select(col("event_id").as("eb"), col("user_id"), col("ts").as("tb"))

    val bucketed = RangeJoin.withinGap(a, b, Seq("user_id"), "ta", "tb",
        gapMicros, bucketMicros)
      .filter(col("ea") < col("eb"))
      .select("ea", "eb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val truth = a.join(b.withColumnRenamed("user_id", "uid_b"),
        col("user_id") === col("uid_b") &&
          abs(unix_micros(col("ta")) - unix_micros(col("tb"))) <= gapMicros &&
          col("ea") < col("eb"))
      .select("ea", "eb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (bucketed, truth)
  }

  test("bucketed range join == naive inequality join on real events (two gap widths)") {
    Seq(60L * 1000000, 900L * 1000000).foreach { gap =>
      val (got, want) = pairs(gap)
      assert(got == want, s"gap=$gap: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("non-default bucket widths stay complete (±k replication band)") {
    // narrower (k = 4), non-dividing (k = 2), and wider (k = 1)
    // widths must all return exactly the naive join's rows
    val gap = 900L * 1000000
    for (width <- Seq(gap / 4, gap * 2 / 3, 2 * gap)) {
      val (got, want) = pairs(gap, width)
      assert(got == want,
        s"width=$width: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("broadcast tier == shuffled tier == naive join, and preserves left partitioning") {
    val gap = 900L * 1000000
    val e = Tables(spark, "/root/testdata/sf0.001").events
      .select(col("event_id"), col("user_id"), col("ts"))
    val a = e.select(col("event_id").as("ea"), col("user_id"), col("ts").as("ta"))
    val b = e.select(col("event_id").as("eb"), col("user_id"), col("ts").as("tb"))
    for (width <- Seq(0L, gap / 3)) {
      val viaB = RangeJoin.withinGapBroadcast(a, b, Seq("user_id"), "ta", "tb",
          gap, width)
        .filter(col("ea") < col("eb"))
        .select("ea", "eb").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val (viaS, want) = pairs(gap)
      // set-equal AND duplicate-free (each qualifying pair exactly once)
      assert(viaB.length == viaB.toSet.size, "broadcast tier emitted duplicates")
      assert(viaB.toSet == want, s"width=$width broadcast tier mismatch")
      assert(viaS == want)
    }
    // the ordered-output contract: range-partition the streamed side
    // on the output prefix, sort within partitions, and the collected
    // row order must equal the global ORDER BY
    val ordered = RangeJoin.withinGapBroadcast(
        a.repartitionByRange(4, col("ea")), b, Seq("user_id"), "ta", "tb", gap)
      .filter(col("ea") < col("eb"))
      .select("ea", "eb")
      .sortWithinPartitions(col("ea"), col("eb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ordered == ordered.sorted,
      "partition concatenation + local sort must equal the global order")
  }

  test("broadcast ceiling is a quarter of maxResultSize: 256 MiB under the default 1g") {
    // q67 dispatches between the broadcast and shuffled tiers on this
    assert(RangeJoin.broadcastStatsMaxBytes(spark) == 256L * 1024 * 1024)
    assert(RangeJoin.broadcastStatsMaxBytes(spark) < RangeJoin.BroadcastStatsMaxBytes)
  }

  test("boundary exactness: a pair exactly gap apart is included") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = new java.sql.Timestamp(ts0.getTime + 60000) // exactly 60s later
    val df = Seq((1L, 7L, ts0), (2L, 7L, ts1)).toDF("event_id", "user_id", "ts")
    val a = df.select(col("event_id").as("ea"), col("user_id"), col("ts").as("ta"))
    val b = df.select(col("event_id").as("eb"), col("user_id"), col("ts").as("tb"))
    val got = RangeJoin.withinGap(a, b, Seq("user_id"), "ta", "tb", 60L * 1000000)
      .filter(col("ea") < col("eb")).count()
    assert(got == 1L)
    // and one microsecond tighter excludes it
    val excluded = RangeJoin.withinGap(a, b, Seq("user_id"), "ta", "tb", 60L * 1000000 - 1)
      .filter(col("ea") < col("eb")).count()
    assert(excluded == 0L)
  }
}
