package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-range (interval) join — the join Spark has no native operator
  * for: pair rows whose timestamps fall within `gapMicros` of each
  * other, optionally under equi-keys. The naive formulation
  * (`a.join(b, keys && abs(ta - tb) <= gap)`) plans the time predicate
  * as a join *filter*; without any equi-key it degenerates to a
  * BroadcastNestedLoopJoin/CartesianProduct, and even with keys every
  * same-key pair is enumerated — O(per-key²) regardless of how few
  * pairs are temporally close.
  *
  * Scale path (standard interval bucketing, as in Databricks'
  * range-join optimization and the literature on band joins): quantize
  * time into `gap`-sized buckets; replicate ONE side to its bucket ±1;
  * equi-join on (keys, bucket); re-check the exact predicate. A
  * qualifying pair's buckets differ by at most 1, so the bucket of the
  * un-replicated row always coincides with exactly one replica —
  * complete, duplicate-free, and the join is a plain shuffled
  * equi-join on a well-distributed compound key. Candidate volume is
  * O(pairs within ~3 gap windows), not O(per-key pairs).
  */
object RangeJoin {

  /** Rows of `left` × `right` with equal `keys` and
    * |leftTime − rightTime| ≤ gapMicros. Time columns must be
    * timestamps; all columns of both sides survive (disambiguate
    * before calling if names collide).
    *
    * `bucketMicros` is the quantization width (default = the gap):
    * the replicated side gets one copy per bucket within
    * ⌊gap/width⌋ + 1 of its own, which is exactly the band a
    * qualifying pair can span, so any width is complete — width only
    * trades replication volume (2K+1 copies) against false-candidate
    * volume (pairs within gap + width survive to the exact filter).
    * Width = gap is the MEASURED optimum on the q67 shape at 100×
    * density (ProbeQ67 sweep — a probe main last present at commit
    * 9aaeeb6 — 10M events / 1500 users / 517.5M true
    * pairs — join+filter wall and pre-filter candidates per width:
    * gap/4 17.2 s / 1.051e9 (×9 replication); gap/2 7.8 s / 1.057e9
    * (×5); gap 3.7 s / 1.068e9 (×3); 2·gap 3.7 s / 1.138e9 (×3)).
    * At this density the candidate set is ≈2× the true pairs at EVERY
    * width — the pairs themselves dominate the band — so narrower
    * buckets buy ~1% fewer candidates while multiplying the
    * replicated shuffle; the same sweep puts q67's 100× floor in the
    * OUTPUT (the 517M-row semantic ORDER BY is ~91 s of the 95 s
    * query; the bucketed join is 3.7 s). The knob exists for shapes
    * whose density × gap product is far from q67's.
    */
  def withinGap(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      gapMicros: Long,
      bucketMicros: Long = 0L): DataFrame = {
    require(gapMicros > 0, "gapMicros must be positive")
    val width = if (bucketMicros > 0) bucketMicros else gapMicros
    // exact band: max bucket span of a qualifying pair is
    // ceil(gap/width) (integer micros), so ±k replication is complete
    // and minimal; width = gap keeps the original ±1 plan
    val k = ((gapMicros + width - 1) / width).toInt
    val lb = floor(unix_micros(col(leftTime)) / width)
    val rb = floor(unix_micros(col(rightTime)) / width)
    val l = left.withColumn("__bucket", lb)
    // the replicated side: one copy per bucket within ±k
    val r = right.withColumn("__bucket",
      explode(sequence(rb - k, rb + k)))
    l.join(r, keys :+ "__bucket")
      .filter(
        abs(unix_micros(col(leftTime)) - unix_micros(col(rightTime))) <= gapMicros)
      .drop("__bucket")
  }

  /** Absolute plan-stats ceiling for [[withinGapBroadcast]]'s build
    * side — the deployment-aware bound is [[broadcastStatsMaxBytes]];
    * this constant only caps it on very large drivers.
    */
  val BroadcastStatsMaxBytes: Long = 1L << 30

  /** Plan-stats ceiling for [[withinGapBroadcast]]'s build side: under
    * it the un-replicated right side is broadcast-sized (the 100×
    * events table reads ~211 MB of parquet → a ~10M-row compact
    * hashed relation); above it the caller must take the shuffled
    * [[withinGap]] plan. DERIVED from the session, not a constant
    * (r13, ADVICE): plan stats measure COMPRESSED parquet while the
    * broadcast collects rows to the driver under
    * `spark.driver.maxResultSize` and expands several-fold in the
    * hashed relation — so the ceiling is maxResultSize/4 (a 4×
    * decompression allowance keeps the collect itself under the
    * driver's own limit; default 1g/4 = 256 MB, still above the
    * shipped 100× events stats), capped at 1 GB however large the
    * driver. `graft.rangeJoin.broadcastStatsMaxBytes` overrides for
    * deployments that know their data. Misdispatch is performance,
    * not correctness — both tiers are exact — but the conservative
    * bound keeps the chosen plan RUNNABLE, never one that dies on
    * the driver mid-collect.
    */
  def broadcastStatsMaxBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.rangeJoin.broadcastStatsMaxBytes")
      .map(_.toLong)
      .getOrElse {
        val maxResult = spark.sparkContext.getConf
          .getSizeAsBytes("spark.driver.maxResultSize", "1g")
        // maxResultSize = 0 means "unlimited" — fall back to the cap
        if (maxResult <= 0) BroadcastStatsMaxBytes
        else math.min(BroadcastStatsMaxBytes, maxResult / 4)
      }

  /** [[withinGap]] with the sides FLIPPED onto a broadcast hash join:
    * the right side is broadcast compact (one row, exact bucket), and
    * the STREAMED left side probes every bucket a qualifying partner
    * could live in (explode to ±k — the fan-out rides the cheap
    * streamed side instead of the shuffled build). Same completeness
    * argument as [[withinGap]]: a qualifying pair's buckets differ by
    * at most k, so exactly one probe replica hits the partner's
    * bucket — complete and duplicate-free.
    *
    * THE POINT is plan shape, not the join itself: a broadcast join
    * preserves the streamed side's partitioning, so a caller that
    * range-partitions `left` on its output-order prefix BEFORE this
    * join gets join output whose partition concatenation already
    * respects that prefix — a `sortWithinPartitions` on the full key
    * then equals the global ORDER BY with NO post-expansion range
    * exchange (the q48 exchange-before-expansion pattern applied to a
    * join: q67's 517M-row output sort was ~91 s of its 95 s at 100×,
    * all of it the exchange of expanded rows). Dispatch on
    * [[broadcastStatsMaxBytes]]; the shuffled plan stays the
    * unbounded-scale tier.
    */
  def withinGapBroadcast(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      gapMicros: Long,
      bucketMicros: Long = 0L): DataFrame = {
    require(gapMicros > 0, "gapMicros must be positive")
    val width = if (bucketMicros > 0) bucketMicros else gapMicros
    val k = ((gapMicros + width - 1) / width).toInt
    val lb = floor(unix_micros(col(leftTime)) / width)
    val rb = floor(unix_micros(col(rightTime)) / width)
    val r = right.withColumn("__bucket", rb)
    val l = left.withColumn("__bucket", explode(sequence(lb - k, lb + k)))
    l.join(broadcast(r), keys :+ "__bucket")
      .filter(
        abs(unix_micros(col(leftTime)) - unix_micros(col(rightTime))) <= gapMicros)
      .drop("__bucket")
  }
}
