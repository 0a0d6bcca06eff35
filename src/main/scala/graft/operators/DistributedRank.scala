package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed exact ranking for LOW-CARDINALITY groups.
  *
  * `row_number() OVER (PARTITION BY g ORDER BY v)` puts each group in
  * ONE task — with 3 groups and 6M rows that is three 2M-row
  * single-threaded sorts, the classic scale cliff of global/near-
  * global windows. This operator computes the identical rank with
  * bounded tasks:
  *
  *   1. range-partition on (group, order) — each partition holds a
  *      contiguous slice of one (or a few) group's order;
  *   2. count rows per (partition, group) — a tiny aggregate;
  *   3. cumulative offsets per group computed ON THE DRIVER over that
  *      ≤ numPartitions × #groups row table, broadcast back as a local
  *      relation (no WindowExec, no extra broadcast subplan job);
  *   4. local row_number within (partition, group) + offset = exact
  *      global rank.
  *
  * Two balanced shuffles of the data instead of one degenerate one;
  * wall-clock scales with cores, not group count. Ranks are exact and
  * deterministic when `orderCols` totally order rows within a group
  * (add tiebreak columns, same as any window). NULL group keys form a
  * group of their own, exactly like `PARTITION BY` (the offset
  * reattach joins are null-safe `<=>`, not equi-joins that would
  * silently drop NULL-keyed rows).
  *
  * The range-partitioned frame is persisted before the counts action:
  * both the offsets table and the final join must observe the SAME
  * partition assignment, and RangePartitioner's sample seed varies
  * with RDD identity — relying on ReuseExchange to fire (it usually
  * does, but is not guaranteed across recomputation/executor loss)
  * would make exactness a plan-cache accident. The persist is
  * populated by the counts action and reused by the join; it is
  * registered with [[graft.CacheScope]] so the caller's post-action
  * `drain()` reclaims it (Verify/Bench drain after every query).
  */
object DistributedRank {

  /** Hard bound on rows any kernel pulls to the driver (the
    * per-(partition, group) count tables). ≈ numPartitions × #groups
    * stays orders of magnitude below this under the low-cardinality
    * contract; crossing it means the caller grouped by a
    * high-cardinality key and the driver-offset construction is the
    * wrong tool — fail fast and point at the plain window. The
    * limit(+1) keeps the driver safe even on the failing path: at
    * most `maxDriverRows + 1` small rows ever materialize.
    */
  val DefaultMaxDriverRows: Int = 1 << 20

  private def collectBounded(
      countsDf: DataFrame, bound: Int, kernel: String): Array[Row] = {
    val rows = countsDf.limit(bound + 1).collect()
    require(rows.length <= bound,
      s"DistributedRank.$kernel: per-(partition, group) table exceeds $bound " +
        "driver rows — group cardinality too high for the driver-offset " +
        "construction; use a plain window_col over partitionBy instead, or " +
        "raise maxDriverRows deliberately")
    rows
  }

  /** Join on `keys` with NULL-SAFE equality — SQL window PARTITION BY
    * treats NULL as a group of its own, and the offset tables (built
    * by groupBy, which also keeps the NULL group) must reattach to
    * those rows rather than equi-join-drop them. The right side is
    * broadcast (all offset/target tables here are driver-small);
    * `<=>` keys still hash-join (Catalyst folds null-safe equality
    * into join keys via coalesce), so the plan shape matches the
    * usingColumns join this replaces. Right key columns are renamed
    * away and dropped so the output keeps the left side's columns.
    */
  private def joinNullSafe(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      joinType: String = "inner"): DataFrame = {
    val renamed = keys.foldLeft(right)((d, k) => d.withColumnRenamed(k, "__r_" + k))
    val cond = keys.map(k => left(k) <=> renamed("__r_" + k)).reduce(_ && _)
    val j = left.join(broadcast(renamed), cond, joinType)
    if (joinType == "left_semi") j else j.drop(keys.map("__r_" + _): _*)
  }

  def rowNumber(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      out: String = "rn",
      numPartitions: Int = 0,
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val spark = df.sparkSession
    val sortCols = (groupCols ++ orderCols).map(col)
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = graft.CacheScope.scoped(
      df.repartitionByRange(n, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val countsDf = ranged
      .groupBy(col("__pid") +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val counts = collectBounded(countsDf, maxDriverRows, "rowNumber")
    // Running offset of each (group, partition): plain scan over the
    // collected rows — (__pid, groupCols..., __cnt) column order.
    val offRows = counts
      .groupBy(r => groupCols.map(g => r.getAs[Any](g)))
      .valuesIterator
      .flatMap { rows =>
        var acc = 0L
        rows.sortBy(_.getAs[Int]("__pid")).map { r =>
          val off = acc
          acc += r.getAs[Long]("__cnt")
          Row.fromSeq(r.toSeq.dropRight(1) :+ off)
        }
      }
      .toSeq
    val offSchema = StructType(
      countsDf.schema.fields.dropRight(1) :+
        StructField("__off", LongType, nullable = false))
    val offsets = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema)
    val wLocal = Window
      .partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    joinNullSafe(ranged, offsets, "__pid" +: groupCols)
      .withColumn(out, row_number().over(wLocal).cast(LongType) + col("__off"))
      .drop("__pid", "__off")
  }

  /** Measured window/distributed crossover for FULL ranking (every
    * row keeps its rank, unlike the ≤2-rows-per-group selection
    * shapes whose crossover is [[SortSelectionMaxRows]]):
    * global row_number sweep of RankKernelScale (a scale main last
    * present at commit fba91a5; its table is in README) — 1M:
    * window 1.1 s vs kernel 1.9 s; 2M: 2.3 vs 2.0; 5M:
    * 7.5 vs 3.3; 10M: 11.2 vs 6.8 (grouped/3-task crosses later,
    * ~5–7M, so the GLOBAL crossover is the binding one). Set AT the
    * measured tie: a misjudgment costs only performance (both paths
    * emit identical ranks), and the window side's cliff (ONE task
    * sorts everything) is the expensive direction to err toward.
    */
  val WindowRankMaxRows: Long = 2000000L

  /** Size-adaptive full ranking: the plain window `row_number()`
    * below [[WindowRankMaxRows]] (one sort, no offset machinery —
    * at small inputs [[rowNumber]]'s two exchanges plus driver
    * offset join cost ~2× the degenerate sort they avoid), the
    * distributed kernel above it. Both sides emit the IDENTICAL
    * LongType rank under the caller's total order, so consumers are
    * byte-identical either side of the threshold — the
    * [[valuesAtRanksAdaptive]] dispatch applied to the ranking
    * shapes that keep every row (q46's global ntile, q59's window
    * family, q115's z-order buckets). `totalRows` defaults to
    * [[dispatchRows]] (plan statistics first, one count job only
    * when the input is past the stats ceiling).
    */
  def rowNumberAdaptive(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      out: String = "rn",
      totalRows: Long = -1L,
      thresholdRows: Long = WindowRankMaxRows,
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val n0 = if (totalRows >= 0L) totalRows else dispatchRows(df)
    // n0 == 0 from dispatchRows proves only "stats ≤ 64 MB" — sized
    // for the 20M-row selection crossover, which at the measured
    // ~18 B/row admits ~3.7M rows, PAST this kernel's 2M window
    // crossover. The window branch therefore needs the tighter proof:
    // stats under [[WindowPrefixMaxBytes]] (32 MB ≈ 1.8M rows).
    // Between the two ceilings fall through to the distributed kernel
    // — a misjudgment there costs constant overhead, never the
    // one-task sort cliff (the same err-direction as
    // [[valuesAtRanksAdaptive]]'s n0 > 0L guard).
    val windowSized =
      if (totalRows >= 0L || n0 > 0L) n0 <= thresholdRows
      else df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        WindowPrefixMaxBytes
    if (windowSized) {
      val w = Window
        .partitionBy(groupCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
      // scoped like the distributed branch's internal persist: multi-
      // consumer callers (q59 derives stats from the ranks AND joins
      // them back) must not re-scan the source per consumer; the
      // cached frame is bounded by thresholdRows rows (counted case)
      // or WindowPrefixMaxBytes stats (stats-proven case)
      graft.CacheScope.scoped(
        df.withColumn(out, row_number().over(w).cast(LongType)))
    } else
      rowNumber(df, groupCols, orderCols, out, maxDriverRows = maxDriverRows)
  }

  /** Rows at driver-computed TARGET ranks only — the percentile/median
    * shape. [[rowNumber]] ranks every row, which costs a second full
    * exchange (the window's clustering); but a quantile touches ≤2
    * rows per probe point, and the per-(partition, group) count table
    * — already on the driver — says exactly which range partition
    * carries each target rank. So: filter the persisted range-
    * partitioned frame down to the carrier (partition, group) pairs
    * (a broadcast semi-join over ≤ groups × ranks keys), window-rank
    * only that ~1/numPartitions sliver, and join the target list to
    * pick the hit rows. One full exchange over the data instead of
    * two; measured q95's cascaded medians 4.3 → 3.6 s and q84's
    * four percentiles 2.2 → 2.0 s at sf0.1 (isolated runs).
    *
    * `ranksOf` maps a group's row count n to its 1-based target
    * ranks (out-of-range targets are dropped). Output = the input
    * columns plus `out` = the row's global rank within its group —
    * plus, when `outTotal` is non-empty, the group's total row count
    * under that name (callers interpolating percentiles need n and
    * this spares them a separate counting scan over the input);
    * exactly one row per surviving (group, target). Same total-order
    * contract on `orderCols` as [[rowNumber]].
    */
  def valuesAtRanks(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      ranksOf: Long => Seq[Long],
      out: String = "rn",
      numPartitions: Int = 0,
      outTotal: String = "",
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val spark = df.sparkSession
    val sortCols = (groupCols ++ orderCols).map(col)
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = graft.CacheScope.scoped(
      df.repartitionByRange(n, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val countsDf = ranged
      .groupBy(col("__pid") +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val counts = collectBounded(countsDf, maxDriverRows, "valuesAtRanks")
    // Per group: walk partitions in order, place each target rank in
    // the partition whose [offset, offset+cnt] window contains it.
    val targetRows = counts
      .groupBy(r => groupCols.map(g => r.getAs[Any](g)))
      .valuesIterator
      .flatMap { rows =>
        val sorted = rows.sortBy(_.getAs[Int]("__pid"))
        val total = sorted.iterator.map(_.getAs[Long]("__cnt")).sum
        val targets = ranksOf(total).filter(k => k >= 1 && k <= total).distinct.sorted
        var acc = 0L
        val it = sorted.iterator
        val outRows = Seq.newBuilder[Row]
        var remaining = targets
        while (remaining.nonEmpty && it.hasNext) {
          val r = it.next()
          val cnt = r.getAs[Long]("__cnt")
          val (here, later) = remaining.span(k => k <= acc + cnt)
          here.foreach { k =>
            outRows += Row.fromSeq(r.toSeq.dropRight(1) ++ Seq(k - acc, k, total))
          }
          remaining = later
          acc += cnt
        }
        outRows.result()
      }
      .toSeq
    val targetSchema = StructType(
      countsDf.schema.fields.dropRight(1) ++ Seq(
        StructField("__lrn", LongType, nullable = false),
        StructField("__grn", LongType, nullable = false),
        StructField("__tot", LongType, nullable = false)))
    val targets = spark.createDataFrame(
      java.util.Arrays.asList(targetRows: _*), targetSchema)
    val carriers = targets.select(("__pid" +: groupCols).map(col): _*).distinct()
    val wLocal = Window
      .partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val hits = joinNullSafe(
      joinNullSafe(ranged, carriers, "__pid" +: groupCols, "left_semi")
        .withColumn("__lrn", row_number().over(wLocal).cast(LongType)),
      targets, "__pid" +: (groupCols :+ "__lrn"))
      .withColumn(out, col("__grn"))
    val withTotal =
      if (outTotal.nonEmpty) hits.withColumn(outTotal, col("__tot")) else hits
    withTotal.drop("__pid", "__lrn", "__grn", "__tot")
  }

  /** Measured sort-selection/value-domain crossover for rank
    * selection (q116's size-adaptive histogram: sort-selection 1.9 s →
    * 15.9 s from 0.6M → 60M rows; value-domain flat 6.5 → 8.4 s over
    * the same range — crossover ≈ 25M, threshold kept under it).
    */
  val SortSelectionMaxRows: Long = 20000000L

  /** [[valuesAtRanks]] computed over the per-distinct-VALUE count
    * table instead of the row-level range sort — the rank-selection
    * shape that stays bounded at 100 TB. The output of a rank
    * selection exposes only VALUES (the value at each target rank),
    * and the value at rank t is the same whichever tied row a total
    * order puts at the edge — so the tiebreak columns sort-selection
    * carries are irrelevant to the result, and the selection can run
    * in the value domain: one map-side-combined groupBy(group, v)
    * (shuffle volume = distinct values per map partition, NOT rows),
    * the distributed prefix sum over the distinct-value table
    * ([[runningSum]]), and the value at rank t = the value whose
    * cumulative-count window (cume−cnt, cume] contains t — a
    * broadcast range-join against the tiny target list. Under replica
    * scaling the distinct-value table is INVARIANT while the row
    * count grows 100×, so this path's cost is ~flat where
    * sort-selection's full-data range exchange grows linearly
    * (measured: see [[SortSelectionMaxRows]]).
    *
    * Output: one row per surviving (group, target) with ONLY
    * (groupCols…, valueCol, `out` = rank[, `outTotal` = group row
    * count]) — the interpolation consumers' contract. NULL values
    * form their own (first) rank block and NULL group keys their own
    * group, exactly like the sort-selection path.
    */
  def valuesAtRanksByValue(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      ranksOf: Long => Seq[Long],
      out: String = "rn",
      outTotal: String = "",
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val vc = graft.CacheScope.scoped(
      df.groupBy((groupCols :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("__cnt")))
    valuesAtRanksFromCounts(vc, groupCols, valueCol, "__cnt", ranksOf,
      out, outTotal, maxDriverRows)
  }

  /** [[valuesAtRanksByValue]] over a CALLER-SUPPLIED per-(group,
    * value) count table — the cascade-fusion entry point. `vc` holds
    * one row per (groupCols…, valueCol) with `cntCol` = that value's
    * row count; the caller owns its persistence (it is consumed twice
    * here: group totals + the prefix sum). Cascaded quantiles (q95's
    * median-of-deviations) derive the SECOND stage's count table from
    * the first's by pure arithmetic on the value column — counts
    * merging where two values map to the same derived value — so the
    * fact is scanned and shuffled exactly once for the whole cascade,
    * and the second selection's exchange is bounded by DISTINCT
    * DERIVED VALUES, not rows.
    */
  /** Driver-side total ordering for a value column type, matching the
    * distributed path's sort semantics exactly (doubles: NaN greatest,
    * −0.0 < 0.0 — scala's TotalOrdering == Spark's nan-safe compare;
    * Comparable types by compareTo). Types without a pinned match
    * (strings under collation, intervals, …) return None and stay on
    * the distributed path.
    */
  private def driverValueOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType =>
        Some(Ordering.Double.TotalOrdering.on((x: Any) => x.asInstanceOf[Double]))
      case FloatType =>
        Some(Ordering.Float.TotalOrdering.on((x: Any) => x.asInstanceOf[Float]))
      case LongType | IntegerType | ShortType | ByteType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue()))
      case _: DecimalType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[java.math.BigDecimal]))
      case DateType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[java.sql.Date]))
      case TimestampType | TimestampNTZType =>
        Some(Ordering.fromLessThan((a: Any, b: Any) =>
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0))
      case _ => None
    }
  }

  def valuesAtRanksFromCounts(
      vc: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      cntCol: String,
      ranksOf: Long => Seq[Long],
      out: String = "rn",
      outTotal: String = "",
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val spark = vc.sparkSession
    require(cntCol == "__cnt" || !vc.columns.contains("__cnt"),
      s"valuesAtRanksFromCounts: renaming $cntCol would collide with an " +
        "existing __cnt column — drop or rename it first")
    val vcc = if (cntCol == "__cnt") vc else vc.withColumnRenamed(cntCol, "__cnt")
    // ---- DRIVER tier (r12, the q95 medianMad generalization): when
    // the count table itself limit-collects under the driver bound,
    // the whole selection — group totals, target placement, the
    // cumulative walk — is a scan over ≤1M collected triples, ONE
    // Spark job where the distributed form pays the totals collect,
    // runningSum's range exchange + offset collect, and the
    // broadcast range-join. Under replica scaling the count table is
    // invariant, so this tier keeps firing at 100×; true-scale value
    // domains overflow the probe once (≤1M small rows shipped) and
    // take the distributed path below. Values are SELECTED, never
    // computed, so tier choice cannot change a single bit
    // (DistributedRankSpec pins equality both sides).
    val ordOpt = driverValueOrdering(vcc.schema(valueCol).dataType)
    val probed =
      if (ordOpt.isEmpty) None
      else {
        val rows = vcc.limit(maxDriverRows + 1).collect()
        if (rows.length > maxDriverRows) None
        else {
          val ord = ordOpt.get
          val schema = vcc.schema
          val gIdx = groupCols.map(schema.fieldIndex)
          val vI = schema.fieldIndex(valueCol)
          val cI = schema.fieldIndex("__cnt")
          val rowOrd = new Ordering[Row] {
            def compare(a: Row, b: Row): Int = {
              val an = a.isNullAt(vI); val bn = b.isNullAt(vI)
              if (an && bn) 0 else if (an) -1 else if (bn) 1
              else ord.compare(a.get(vI), b.get(vI))
            }
          }
          val outRows = rows
            .groupBy(r => gIdx.map(i => r.get(i)))
            .valuesIterator
            .flatMap { rs =>
              val sorted = rs.sorted(rowOrd)
              val total = sorted.iterator.map(_.getLong(cI)).sum
              val targets =
                ranksOf(total).filter(k => k >= 1 && k <= total).distinct.sorted
              val hits = Seq.newBuilder[Row]
              var acc = 0L
              var i = 0
              var remaining = targets
              while (remaining.nonEmpty && i < sorted.length) {
                val r = sorted(i)
                acc += r.getLong(cI)
                val (here, later) = remaining.span(_ <= acc)
                here.foreach { k =>
                  hits += Row.fromSeq(gIdx.map(r.get) ++
                    Seq(r.get(vI), k) ++
                    (if (outTotal.nonEmpty) Seq(total) else Nil))
                }
                remaining = later
                i += 1
              }
              hits.result()
            }
            .toSeq
          val outSchema = StructType(
            gIdx.map(schema.fields) ++ Seq(
              schema.fields(vI),
              StructField(out, LongType, nullable = false)) ++
              (if (outTotal.nonEmpty)
                Seq(StructField(outTotal, LongType, nullable = false))
              else Nil))
          Some(spark.createDataFrame(
            java.util.Arrays.asList(outRows: _*), outSchema)
            .toDF((groupCols :+ valueCol :+ out) ++
              (if (outTotal.nonEmpty) Seq(outTotal) else Nil): _*))
        }
      }
    probed.getOrElse(valuesAtRanksFromCountsDistributed(
      vcc, groupCols, valueCol, ranksOf, out, outTotal, maxDriverRows))
  }

  /** The distributed tier of [[valuesAtRanksFromCounts]]: totals
    * collect → target table → [[runningSum]] prefix → broadcast
    * range-join against the target list.
    */
  private def valuesAtRanksFromCountsDistributed(
      vcc: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      ranksOf: Long => Seq[Long],
      out: String,
      outTotal: String,
      maxDriverRows: Int): DataFrame = {
    val spark = vcc.sparkSession
    val totsDf = vcc.groupBy(groupCols.map(col): _*).agg(sum(col("__cnt")).as("__tot"))
    val tots = collectBounded(totsDf, maxDriverRows, "valuesAtRanksFromCounts")
    val targetRows = tots.toSeq.flatMap { r =>
      val total = r.getAs[Long]("__tot")
      ranksOf(total).filter(k => k >= 1 && k <= total).distinct.sorted
        .map(k => Row.fromSeq(r.toSeq.dropRight(1) ++ Seq(k, total)))
    }
    val targetSchema = StructType(
      totsDf.schema.fields.dropRight(1) ++ Seq(
        StructField("__t", LongType, nullable = false),
        StructField("__tt", LongType, nullable = false)))
    val targets = spark.createDataFrame(
      java.util.Arrays.asList(targetRows: _*), targetSchema)
    val cum = runningSum(vcc, groupCols, Seq(valueCol), "__cnt", "__cume")
    // null-safe group keys + the rank-window range condition; the
    // target list is groups × ranks — always broadcast-sized
    val renamed = groupCols.foldLeft(targets)((d, k) => d.withColumnRenamed(k, "__r_" + k))
    val rangeCond = col("__t") > col("__cume") - col("__cnt") &&
      col("__t") <= col("__cume")
    val cond = groupCols.map(k => cum(k) <=> renamed("__r_" + k))
      .foldLeft(rangeCond)(_ && _)
    val hits = cum.join(broadcast(renamed), cond).withColumn(out, col("__t"))
    val withTotal =
      if (outTotal.nonEmpty) hits.withColumn(outTotal, col("__tt")) else hits
    val outCols = (groupCols :+ valueCol :+ out) ++
      (if (outTotal.nonEmpty) Seq(outTotal) else Nil)
    withTotal.select(outCols.map(col): _*)
  }

  /** Cascaded exact median + median-absolute-deviation per group — the
    * q95 shape as ONE kernel over the per-(group, value) count table.
    *
    * Both tiers aggregate the fact to its distinct (group, value)
    * count table first (ONE map-side-combined exchange — the only
    * fact-sized shuffle either way, and the only fact scan: the probe
    * materializes the persisted table, the fallback reuses it), then
    * select by rank in the value domain, where the result is
    * tiebreak-invariant and the cascade's second stage derives by
    * arithmetic (two values folding onto one deviation merge counts):
    *
    *   - DRIVER tier (count table limit-collects under
    *     `maxDriverRows`): the whole cascade — cumulative-count walk
    *     to the interpolated median, deviation fold, second walk —
    *     runs on the collected table. One Spark job for the whole
    *     query; the selection arithmetic on ≤1M (group, value, cnt)
    *     triples is microseconds against any cluster job's constants.
    *     Under replica scaling the count table is INVARIANT, so this
    *     tier keeps firing as rows grow 100× (measured: the 100×
    *     corpus collects the same ~sf0.1-sized table).
    *   - DISTRIBUTED tier (wider value domains — true-scale facts
    *     where distinct values grow with data): the
    *     [[valuesAtRanksFromCounts]] cascade, both selections bounded
    *     by distinct values, never rows.
    *
    * Interpolation is the linear `quantile_cont` form at p=0.5, both
    * tiers evaluating the IDENTICAL double expression
    * `lo + (h − ⌊h⌋)·(hi − lo)`, h = (n−1)/2 — results are
    * bit-identical across tiers (pinned three ways in
    * DistributedRankSpec). NULL group keys form a group of their own;
    * NULL values rank first (both mirroring the sort-selection path)
    * and a median landing on a NULL value yields NULL med/mad.
    * Output: one row per group — (groupCol, outMed, outMad), doubles.
    */
  def medianMad(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      outMed: String = "med",
      outMad: String = "mad",
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val spark = df.sparkSession
    require(df.schema(valueCol).dataType == org.apache.spark.sql.types.DoubleType,
      s"medianMad interpolates in double; cast $valueCol to double first")
    val vc = graft.CacheScope.scoped(
      df.groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("__cnt")))
    val probe = vc.limit(maxDriverRows + 1).collect()
    if (probe.length <= maxDriverRows) {
      // ---- driver tier: the cascade over the collected count table
      def interpolate(sorted: Array[(java.lang.Double, Long)], n: Long): java.lang.Double = {
        def valueAt(target: Long): java.lang.Double = {
          var acc = 0L; var i = 0
          while (i < sorted.length) {
            acc += sorted(i)._2
            if (target <= acc) return sorted(i)._1
            i += 1
          }
          null
        }
        if (n <= 0L) return null
        val h = (n - 1).toDouble * 0.5
        val lo = valueAt(math.floor(h).toLong + 1)
        val hi = valueAt(math.ceil(h).toLong + 1)
        if (lo == null || hi == null) null
        // the distributed interp's exact expression order — bit parity
        else Double.box(lo + (h - math.floor(h)) * (hi - lo))
      }
      val nullsFirst = Ordering.by[(java.lang.Double, Long), (Int, Double)] {
        case (v, _) => if (v == null) (0, 0.0) else (1, v.doubleValue())
      }
      val outRows = probe
        .groupBy(r => r.get(0))
        .valuesIterator
        .map { rs =>
          val vals = rs.map { r =>
            val v: java.lang.Double =
              if (r.isNullAt(1)) null else Double.box(r.getDouble(1))
            (v, r.getLong(2))
          }.sorted(nullsFirst)
          val n = vals.iterator.map(_._2).sum
          val med = interpolate(vals, n)
          val mad =
            if (med == null) null
            else {
              val fold = new java.util.HashMap[java.lang.Double, Long]
              vals.foreach { case (v, c) =>
                val d: java.lang.Double =
                  if (v == null) null
                  else Double.box(math.abs(v.doubleValue() - med.doubleValue()))
                fold.merge(d, c, (a: Long, b: Long) => a + b)
              }
              val devs = fold.entrySet().iterator()
              val buf = Array.newBuilder[(java.lang.Double, Long)]
              while (devs.hasNext) { val e = devs.next(); buf += ((e.getKey, e.getValue)) }
              interpolate(buf.result().sorted(nullsFirst), n)
            }
          Row(rs.head.get(0), med, mad)
        }
        .toSeq
      val schema = StructType(Seq(
        vc.schema.head,
        StructField(outMed, org.apache.spark.sql.types.DoubleType, nullable = true),
        StructField(outMad, org.apache.spark.sql.types.DoubleType, nullable = true)))
      spark.createDataFrame(java.util.Arrays.asList(outRows: _*), schema)
    } else {
      // ---- distributed tier: the fused valuesAtRanksFromCounts cascade
      def medianRanks(n: Long): Seq[Long] = {
        val h = (n - 1) * 0.5
        Seq(math.floor(h).toLong + 1, math.ceil(h).toLong + 1)
      }
      def interp(hits: DataFrame, v: String, out: String) = {
        val h = (col("n") - 1).cast(org.apache.spark.sql.types.DoubleType) * lit(0.5)
        val lo = min(when(col("rn") === floor(h).cast("long") + 1, col(v)))
        val hi = min(when(col("rn") === ceil(h).cast("long") + 1, col(v)))
        hits.groupBy(col(groupCol))
          .agg((lo + (max(h) - floor(max(h))) * (hi - lo)).as(out))
      }
      val m = interp(valuesAtRanksFromCounts(vc, Seq(groupCol), valueCol,
        "__cnt", medianRanks, "rn", outTotal = "n",
        maxDriverRows = maxDriverRows), valueCol, outMed)
      val vcDev = graft.CacheScope.scoped(
        vc.join(broadcast(m), Seq(groupCol))
          .select(col(groupCol),
            abs(col(valueCol) - col(outMed)).as("__dev"), col("__cnt"))
          .groupBy(col(groupCol), col("__dev"))
          .agg(sum(col("__cnt")).as("__cnt")))
      val d = interp(valuesAtRanksFromCounts(vcDev, Seq(groupCol), "__dev",
        "__cnt", medianRanks, "rn", outTotal = "n",
        maxDriverRows = maxDriverRows), "__dev", outMad)
      m.join(d, Seq(groupCol))
        .select(col(groupCol), col(outMed), col(outMad))
    }
  }

  /** Weighted median over a per-(group, value) WEIGHT table: the
    * smallest value whose inclusive cumulative weight reaches half
    * the group total (min v with 2·cum(w) ≥ total(w)) — the q120
    * shape. Weights must sum exactly (long or decimal, the
    * [[runningSum]] contract). Same two tiers as
    * [[valuesAtRanksFromCounts]]: a bounded limit-collect runs the
    * sort + cumulative walk on the driver in ONE job (exact
    * BigDecimal accumulation — bit-identical to the decimal prefix
    * sum); wider tables take the distributed prefix-sum + crossing
    * filter. Null weights contribute nothing; null values rank first
    * and the emitted value is the first NON-NULL value at or past the
    * crossing (the distributed form's `min(v)` ignores nulls the same
    * way).
    */
  def weightedMedian(
      wTable: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      weightCol: String,
      out: String = "wmedian",
      maxDriverRows: Int = DefaultMaxDriverRows,
      driverTier: Boolean = true): DataFrame = {
    val spark = wTable.sparkSession
    import org.apache.spark.sql.types._
    val wType = wTable.schema(weightCol).dataType
    require(wType == LongType || wType == IntegerType ||
      wType.isInstanceOf[DecimalType],
      s"weightedMedian needs an exactly-summable weight (long or decimal); " +
        s"$weightCol is $wType")
    // driverTier = false skips the probe entirely: a FAILED probe has
    // computed (and discarded) the caller's aggregate once, so a
    // caller that KNOWS the value domain is fact-sized (near-unique
    // values — q120's prices) must not pay it
    val ordOpt = driverValueOrdering(wTable.schema(valueCol).dataType)
    val probed =
      if (!driverTier || ordOpt.isEmpty) None
      else {
        val rows = wTable.limit(maxDriverRows + 1).collect()
        if (rows.length > maxDriverRows) None
        else {
          val ord = ordOpt.get
          val schema = wTable.schema
          val gIdx = groupCols.map(schema.fieldIndex)
          val vI = schema.fieldIndex(valueCol)
          val wI = schema.fieldIndex(weightCol)
          def weightOf(r: Row): java.math.BigDecimal =
            if (r.isNullAt(wI)) java.math.BigDecimal.ZERO
            else r.get(wI) match {
              case d: java.math.BigDecimal => d
              case n: Number => java.math.BigDecimal.valueOf(n.longValue())
            }
          val rowOrd = new Ordering[Row] {
            def compare(a: Row, b: Row): Int = {
              val an = a.isNullAt(vI); val bn = b.isNullAt(vI)
              if (an && bn) 0 else if (an) -1 else if (bn) 1
              else ord.compare(a.get(vI), b.get(vI))
            }
          }
          val outRows = rows
            .groupBy(r => gIdx.map(i => r.get(i)))
            .valuesIterator
            .flatMap { rs =>
              val sorted = rs.sorted(rowOrd)
              val tot = sorted.foldLeft(java.math.BigDecimal.ZERO)(
                (acc, r) => acc.add(weightOf(r)))
              var cum = java.math.BigDecimal.ZERO
              var crossed = false
              var hit: Option[Row] = None
              var i = 0
              while (hit.isEmpty && i < sorted.length) {
                val r = sorted(i)
                cum = cum.add(weightOf(r))
                if (!crossed)
                  crossed =
                    cum.multiply(java.math.BigDecimal.valueOf(2)).compareTo(tot) >= 0
                if (crossed && !r.isNullAt(vI)) hit = Some(r)
                i += 1
              }
              // all-NULL-value group: the crossing is reached but no
              // non-null value exists — emit (group, NULL), exactly
              // what the distributed tier's min(value) over the
              // crossing rows returns (tiers stay bit-identical on
              // degenerate input; WeightedMedianSpec pins it)
              hit.map(r => Row.fromSeq(gIdx.map(r.get) :+ r.get(vI)))
                .orElse(sorted.headOption.map(r =>
                  Row.fromSeq(gIdx.map(r.get) :+ null)))
            }
            .toSeq
          val outSchema = StructType(
            gIdx.map(wTable.schema.fields) :+
              wTable.schema.fields(vI).copy(name = out))
          Some(spark.createDataFrame(
            java.util.Arrays.asList(outRows: _*), outSchema))
        }
      }
    probed.getOrElse {
      runningSum(wTable, groupCols, Seq(valueCol), weightCol, "__cw",
        outTotal = "__tw", maxDriverRows = maxDriverRows)
        .filter(col("__cw") * 2 >= col("__tw"))
        .groupBy(groupCols.map(col): _*)
        .agg(min(col(valueCol)).as(out))
    }
  }

  /** Plan-size ceiling under which dispatch skips the count job
    * entirely: 64 MB of parquet cannot plausibly hold more than
    * [[SortSelectionMaxRows]] rows of any real fact (that would be
    * ~3 bytes/row compressed), so a scan whose optimized-plan
    * `sizeInBytes` sits below it is sort-selection-sized without
    * counting. A misjudgment costs performance only — both selection
    * paths return identical values — so the cheap bound is safe.
    */
  val SmallStatsBytes: Long = 64L << 20

  /** Row count FOR PATH DISPATCH over `df`: 0 when the optimized
    * plan's size statistics already prove the input sort-selection-
    * sized (no job at all — the common small-SF case), the exact
    * count otherwise (one metadata-cheap job on a scan; at that size
    * its cost is noise against either selection path). Callers with
    * several same-cardinality inputs (q95's cascaded medians: the
    * deviations frame is a row-preserving broadcast join off the
    * base) resolve once and pass the result to each
    * [[valuesAtRanksAdaptive]] call — counting the derived frame
    * would recompute its join.
    */
  def dispatchRows(df: DataFrame): Long = {
    val statsBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (statsBytes <= SmallStatsBytes) 0L else df.count()
  }

  /** Rank-free global ntile via boundary cuts (the q46 shape, factored
    * here in r13 so the path is directly forceable by a spec instead
    * of reachable only above q46's 64 MB stats gate):
    * `ntile(k) OVER (ORDER BY value, key)` needs only the k−1 BUCKET
    * BOUNDARIES, never a per-row rank. Aggregate to the per-value
    * count table (map-side combined, replica-invariant), walk it on
    * the driver to the (value, within-tie-offset) cuts, resolve each
    * mid-block cut's exact key from its tie block (a pushed-IN-filter
    * sliver scan — blocks are ~rows/distinct-values), and assign
    * buckets with PURE LITERAL comparisons. Output order rides the
    * narrow rows: range-exchange on `keyCol` before the assignment
    * projection, sort within partitions — equal to the caller's
    * `ORDER BY keyCol` with no post-assignment exchange.
    *
    * Returns None — caller falls back to the exact rank form — when:
    *   - the value domain overflows `maxDriverRows` distinct values,
    *     or contains NULLs (rank semantics for NULL ordering stay with
    *     the window form);
    *   - the input is tiny (n < 4k: duplicate cut ranks possible);
    *   - a boundary tie block contains DUPLICATE (value, key) rows
    *     straddling a cut: the literal predicate `key <= keyCut` would
    *     put ALL duplicates in the lower bucket, breaking ntile's
    *     size-within-1 contract (the r12 ADVICE hole — with duplicated
    *     full keys the window form's within-tie assignment is the only
    *     faithful one). Detected exactly on the driver: the cut is
    *     safe iff |{keys ≤ keyCut}| == offset within its block.
    *
    * `df` must be exactly (keyCol: long, valueCol: double) — the q46
    * projection. NtileCutsSpec pins multiset equality against the
    * ntile window form on clean, tied, and duplicated-full-key inputs.
    */
  def ntileByCuts(
      df: DataFrame,
      valueCol: String,
      keyCol: String,
      k: Int,
      outCol: String,
      maxDriverRows: Int = DefaultMaxDriverRows): Option[DataFrame] = {
    val vc = graft.CacheScope.scoped(
      df.groupBy(col(valueCol)).agg(count(lit(1)).as("__cnt")))
    val probe = vc.limit(maxDriverRows + 1).collect()
    if (probe.length > maxDriverRows || probe.exists(_.isNullAt(0))) None
    else {
      val sorted = probe.sortBy(_.getDouble(0))
      val n = sorted.iterator.map(_.getLong(1)).sum
      if (n < 4L * k) None // tiny inputs: duplicate cut ranks possible
      else {
        val q = n / k; val r = n % k
        // cumulative row count at the END of buckets 1..k−1
        val cutRanks = (1 until k).map(i =>
          if (i <= r) i * (q + 1) else r * (q + 1) + (i - r) * q)
        var acc = 0L; var j = 0
        val cuts = cutRanks.map { t =>
          while (acc + sorted(j).getLong(1) < t) {
            acc += sorted(j).getLong(1); j += 1
          }
          (sorted(j).getDouble(0), t - acc, sorted(j).getLong(1))
        }
        // exact key at each mid-block cut: off-th smallest key in the
        // boundary tie block (whole-block cuts need none)
        val needKeys = cuts.filter { case (_, off, cnt) => off < cnt }
        val tieKeys: Map[Double, Array[Long]] =
          if (needKeys.isEmpty) Map.empty
          else df.filter(col(valueCol)
              .isin(needKeys.map(_._1).distinct: _*))
            .select(col(keyCol), col(valueCol))
            .collect()
            .groupBy(_.getDouble(1))
            .map { case (p, rs) => p -> rs.map(_.getLong(0)).sorted }
        // dup-key safety: every mid-block cut must split EXACTLY at
        // its offset; a duplicated (value, key) run straddling the cut
        // cannot be split by a per-row predicate
        val unsafe = needKeys.exists { case (p, off, _) =>
          val keys = tieKeys(p)
          val keyCut = keys(off.toInt - 1)
          keys.count(_ <= keyCut).toLong != off
        }
        if (unsafe) None
        else {
          val conds = cuts.map { case (p, off, cnt) =>
            if (off >= cnt) col(valueCol) <= p
            else {
              val keyCut = tieKeys(p)(off.toInt - 1)
              col(valueCol) < p ||
                (col(valueCol) === p && col(keyCol) <= keyCut)
            }
          }
          val bucket = conds.zipWithIndex.reverse
            .foldLeft(lit(k): org.apache.spark.sql.Column) {
              case (e, (c, i)) => when(c, i + 1).otherwise(e)
            }
          Some(df
            .repartitionByRange(col(keyCol))
            .select(col(keyCol),
              bucket.cast(org.apache.spark.sql.types.IntegerType).as(outCol))
            .sortWithinPartitions(col(keyCol)))
        }
      }
    }
  }

  /** Size-adaptive rank selection: [[valuesAtRanks]] (row-level
    * range sort, wins while the data fits a few balanced sort
    * partitions) below [[SortSelectionMaxRows]], [[valuesAtRanksByValue]]
    * (distinct-value domain, ~flat under replica scaling) above it —
    * the q116 hybrid generalized to every quantile/median consumer.
    * Both paths select the SAME values (rank→value is tiebreak-
    * invariant), so the output is byte-identical either side of the
    * threshold; `tieCols` only make the sort path's internal rank
    * deterministic. `totalRows` defaults to [[dispatchRows]] (stats
    * first, count only when ambiguous); pass it when the caller
    * already resolved the cardinality.
    *
    * Output schema is the uniform (groupCols…, valueCol, out
    * [, outTotal]) of the by-value path on BOTH sides.
    */
  def valuesAtRanksAdaptive(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      tieCols: Seq[String],
      ranksOf: Long => Seq[Long],
      out: String = "rn",
      outTotal: String = "",
      totalRows: Long = -1L,
      thresholdRows: Long = SortSelectionMaxRows,
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val n0 = if (totalRows >= 0L) totalRows else dispatchRows(df)
    if (n0 <= thresholdRows) {
      val outCols = (groupCols :+ valueCol :+ out) ++
        (if (outTotal.nonEmpty) Seq(outTotal) else Nil)
      // third tier when the caller KNOWS the row count is under the
      // window-rank bound: one group-count job + one plain window vs
      // sort-selection's range exchange + carrier machinery.
      // Alternating ABA at sf0.1, ≥6 samples per side across two
      // weather regimes: q116 (this path) won EVERY sample — window
      // 1.08–1.31 s vs sort-selection 1.41–1.69 s. The stats-proven
      // branch (n0 == 0, rows only bounded by the 64 MB dispatch
      // ceiling) measured a wash on q41/q84/q95 (window mins 1.45/
      // 1.54/3.73 vs 1.60/1.53/4.24, overlapping distributions both
      // regimes) and stays on sort-selection — the balanced exchange
      // is the safer default when the actual cardinality is unknown.
      val windowSized = n0 > 0L && n0 <= WindowRankMaxRows
      val hits =
        if (windowSized)
          valuesAtRanksWindow(df, groupCols, valueCol +: tieCols, ranksOf,
            out, outTotal, maxDriverRows)
        else
          valuesAtRanks(df, groupCols, valueCol +: tieCols, ranksOf, out,
            outTotal = outTotal, maxDriverRows = maxDriverRows)
      hits.select(outCols.map(col): _*)
    } else
      valuesAtRanksByValue(df, groupCols, valueCol, ranksOf, out,
        outTotal, maxDriverRows)
  }

  /** The small tier of [[valuesAtRanksAdaptive]]: rank everything in
    * a plain window (degenerate tasks are fine at this size) and keep
    * the driver-built target ranks — one count job over ≤ #groups
    * rows plus one window job, where sort-selection pays a range
    * exchange, a persist, and the carrier-sliver machinery that only
    * pay off once the sort partitions are worth balancing. Same
    * contract as [[valuesAtRanks]]: `ranksOf` per group count,
    * out-of-range targets dropped, exactly one row per surviving
    * (group, target), NULL group keys a group of their own.
    */
  private def valuesAtRanksWindow(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      ranksOf: Long => Seq[Long],
      out: String,
      outTotal: String,
      maxDriverRows: Int): DataFrame = {
    val spark = df.sparkSession
    // persisted for the same reason sort-selection persists its
    // ranged frame: the count job and the window job must not each
    // re-scan the source (the ledger budgets assume one scan per
    // pass); the tier guard bounds the cached frame
    val src = graft.CacheScope.scoped(df)
    val countsDf = src.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val counts = collectBounded(countsDf, maxDriverRows, "valuesAtRanksWindow")
    val tRows = counts.toSeq.flatMap { r =>
      val n = r.getAs[Long]("__n")
      ranksOf(n).distinct.filter(t => t >= 1 && t <= n)
        .map(t => Row.fromSeq(r.toSeq.dropRight(1) ++ Seq(t, n)))
    }
    val tSchema = StructType(
      countsDf.schema.fields.dropRight(1) ++ Seq(
        StructField("__t", LongType, nullable = false),
        StructField("__tt", LongType, nullable = false)))
    val targets = spark.createDataFrame(
      java.util.Arrays.asList(tRows: _*), tSchema)
    val wOrd = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val ranked = src.withColumn(out, row_number().over(wOrd).cast(LongType))
    val renamed = groupCols.foldLeft(targets)(
      (d, k) => d.withColumnRenamed(k, "__r_" + k))
    val cond = ((ranked(out) === renamed("__t")) +:
      groupCols.map(k => ranked(k) <=> renamed("__r_" + k))).reduce(_ && _)
    val joined = ranked.join(broadcast(renamed), cond)
      .drop(groupCols.map("__r_" + _): _*)
    val withTotal =
      if (outTotal.nonEmpty) joined.withColumn(outTotal, col("__tt"))
      else joined
    withTotal.drop("__t", "__tt")
  }

  /** Distributed exact prefix sum — `SUM(v) OVER (PARTITION BY g
    * ORDER BY ... ROWS UNBOUNDED PRECEDING)` without the single-task-
    * per-group window sort, by the same construction as [[rowNumber]]:
    * range-partition on (group, order), per-(partition, group) sums
    * collapse to a driver-side prefix, local running sum + broadcast
    * offset = exact global running sum. The value column must sum
    * exactly — LongType or DecimalType (doubles would make the result
    * depend on partition boundaries; refuse them rather than be
    * quietly nondeterministic). Inclusive of the current row;
    * subtract the row's own value for the exclusive form. When
    * `outTotal` is non-empty the group's full sum (nulls ignored, 0
    * if all-null) rides along under that name — crossing-point
    * consumers (weighted median, CDF) need it and the per-partition
    * sums already on the driver make it free, where a separate
    * totals frame would cost another scan and join. When `outRank`
    * is non-empty the row's global 1-based rank under the same
    * ordering rides along too (crossing-point consumers — coverage
    * curves, CDF inversion — need "how many rows to reach mass X",
    * and the per-partition row counts are already on the driver, so
    * this costs one extra long per offset row instead of a second
    * [[rowNumber]] exchange over the data).
    */
  def runningSum(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      out: String = "cum",
      numPartitions: Int = 0,
      outTotal: String = "",
      outRank: String = "",
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val spark = df.sparkSession
    val sortCols = (groupCols ++ orderCols).map(col)
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = graft.CacheScope.scoped(
      df.repartitionByRange(n, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val sumsDf = ranged
      .groupBy(col("__pid") +: groupCols.map(col): _*)
      .agg(sum(col(valueCol)).as("__s"), count(col(valueCol)).as("__c"),
        count(lit(1)).as("__call"))
    val sumType = sumsDf.schema("__s").dataType
    val isDec = sumType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
    require(isDec || sumType == LongType,
      s"runningSum needs an exactly-summable value column (long or decimal); " +
        s"$valueCol sums to $sumType")
    val sums = collectBounded(sumsDf, maxDriverRows, "runningSum")
    // Offsets carry (prior-partition sum, prior-partition non-null
    // count): the count disambiguates SQL's null-until-first-value
    // running-sum semantics — a partition whose local prefix is still
    // all-null must inherit the prior sum iff any prior value exists.
    val offRows = sums
      .groupBy(r => groupCols.map(g => r.getAs[Any](g)))
      .valuesIterator
      .flatMap { rows =>
        var accL = 0L
        var accD = java.math.BigDecimal.ZERO
        var accC = 0L
        var accR = 0L
        val sorted = rows.sortBy(_.getAs[Int]("__pid"))
        val rowSeq = sorted.map { r =>
          val off: Any = if (isDec) accD else accL
          val offC = accC
          val offR = accR
          r.getAs[Any]("__s") match {
            case null => ()
            case d: java.math.BigDecimal => accD = accD.add(d)
            case d: scala.math.BigDecimal => accD = accD.add(d.bigDecimal)
            case l: java.lang.Long => accL += l
          }
          accC += r.getAs[Long]("__c")
          accR += r.getAs[Long]("__call")
          (r, off, offC, offR)
        }
        val total: Any = if (isDec) accD else accL
        rowSeq.map { case (r, off, offC, offR) =>
          Row.fromSeq(r.toSeq.dropRight(3) ++ Seq(off, offC, offR, total))
        }
      }
      .toSeq
    val offSchema = StructType(
      sumsDf.schema.fields.dropRight(3) ++ Seq(
        StructField("__off", sumType, nullable = false),
        StructField("__offcnt", LongType, nullable = false),
        StructField("__roff", LongType, nullable = false),
        StructField("__gtot", sumType, nullable = false)))
    val offsets = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema)
    val wRun = Window
      .partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = joinNullSafe(ranged, offsets, "__pid" +: groupCols)
      .withColumn("__lcum", sum(col(valueCol)).over(wRun))
      .withColumn(out,
        when(col("__lcum").isNotNull, col("__lcum") + col("__off"))
          .otherwise(when(col("__offcnt") > 0, col("__off"))))
    val withTotal =
      if (outTotal.nonEmpty) cum.withColumn(outTotal, col("__gtot")) else cum
    val withRank =
      if (outRank.nonEmpty)
        withTotal.withColumn(outRank,
          row_number().over(Window
            .partitionBy(col("__pid") +: groupCols.map(col): _*)
            .orderBy(orderCols.map(col): _*)).cast(LongType) + col("__roff"))
      else withTotal
    withRank.drop("__pid", "__off", "__offcnt", "__roff", "__lcum", "__gtot")
  }

  /** Stats-bytes ceiling for [[runningSumAdaptive]]'s window branch.
    * The prefix-sum consumers feed DERIVED aggregate tables
    * (distinct-score, distinct-price, sweep points), where a count
    * job for dispatch would recompute the aggregate itself — so
    * dispatch is plan-statistics-only: window when the optimizer's
    * size estimate proves the input small, kernel otherwise (derived
    * frames inherit their child's size estimate, so a large FACT
    * behind a small aggregate errs toward the kernel — the direction
    * that only costs constant overhead, never the one-task cliff).
    * Sized from the global prefix-sum sweep of RankKernelScale (a
    * scale main last present at commit fba91a5) — 1M
    * rows: window 2.6 s vs kernel 5.3 s; 2M: 3.0 vs 5.0; 5M: 6.3 vs
    * 5.4 (crossover ≈ 3–4M rows ≈ 60 MB at the ~18 B/row measured
    * fact width) — 32 MB sits ~2× under the crossover.
    */
  val WindowPrefixMaxBytes: Long = 32L << 20

  /** Size-adaptive [[runningSum]]: the plain running-sum window when
    * the optimizer already proves the input below
    * [[WindowPrefixMaxBytes]], the distributed kernel otherwise.
    * The window branch replicates the kernel's output EXACTLY —
    * `out` is `local-cum + 0` of the kernel's Add(sumType, sumType)
    * type with SQL's null-until-first-value semantics, `outTotal`
    * the non-null group total (0 when all-null), `outRank` the
    * LongType row number — so consumers are byte-identical either
    * side of the dispatch (spec-pinned both sides). The result is
    * [[graft.CacheScope]]-scoped like the kernel's internal persist,
    * keeping the multi-consumer single-source-scan contract.
    */
  def runningSumAdaptive(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      out: String = "cum",
      outTotal: String = "",
      outRank: String = "",
      maxBytes: Long = WindowPrefixMaxBytes,
      maxDriverRows: Int = DefaultMaxDriverRows): DataFrame = {
    val statsBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (statsBytes > maxBytes)
      runningSum(df, groupCols, orderCols, valueCol, out,
        outTotal = outTotal, outRank = outRank, maxDriverRows = maxDriverRows)
    else {
      val sumType = df.select(sum(col(valueCol)).as("__s")).schema.head.dataType
      require(sumType.isInstanceOf[org.apache.spark.sql.types.DecimalType] ||
          sumType == LongType,
        s"runningSum needs an exactly-summable value column (long or decimal); " +
          s"$valueCol sums to $sumType")
      val zero = lit(0).cast(sumType)
      // every window expression rides the SAME (partition, order)
      // spec — Spark groups window expressions by that pair, so cum,
      // total (unbounded-both frame), and rank all evaluate in ONE
      // WindowExec over one sort; and the running sum lands in an
      // intermediate column first so the null-guard below does not
      // duplicate the aggregate inside the operator
      val wOrd = Window
        .partitionBy(groupCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = wOrd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val withCum = df
        .withColumn("__lcum", sum(col(valueCol)).over(wRun))
        .withColumn(out,
          when(col("__lcum").isNotNull, col("__lcum") + zero))
      val withTotal =
        if (outTotal.nonEmpty)
          withCum.withColumn(outTotal,
            coalesce(sum(col(valueCol)).over(wAll), zero))
        else withCum
      val withRank =
        if (outRank.nonEmpty)
          withTotal.withColumn(outRank,
            row_number().over(wOrd).cast(LongType))
        else withTotal
      // scoped like the kernel's internal persist — the docstring's
      // multi-consumer single-source-scan contract; the 32 MB stats
      // ceiling bounds the cached frame
      graft.CacheScope.scoped(withRank.drop("__lcum"))
    }
  }

  /** Distributed exact prefix max — `MAX(v) OVER (PARTITION BY g
    * ORDER BY … ROWS UNBOUNDED PRECEDING)` by the [[runningSum]]
    * construction. Unlike the sum, max is exact for ANY orderable
    * type (no rounding to accumulate), so there is no long/decimal
    * restriction — and the cross-partition offsets need no driver
    * arithmetic at all: the per-(partition, group) max table is ≤
    * numPartitions × #groups rows, so its exclusive prefix max is a
    * window over a broadcast-sized frame, not over the data. Null
    * semantics match SQL (nulls ignored; null until the first value).
    * Inclusive of the current row by default; `exclusive = true`
    * gives `ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING` (null
    * on each group's first row) — the form dominance sweeps need,
    * where a row is compared against the envelope of STRICTLY
    * preceding rows. The skyline/Pareto sweep (q127) and
    * staircase-envelope shapes ride this.
    */
  def runningMax(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      out: String = "rmax",
      numPartitions: Int = 0,
      exclusive: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val sortCols = (groupCols ++ orderCols).map(col)
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = graft.CacheScope.scoped(
      df.repartitionByRange(n, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val maxes = ranged
      .groupBy(col("__pid") +: groupCols.map(col): _*)
      .agg(max(col(valueCol)).as("__m"))
    // Exclusive prefix max across partitions, per group — a window
    // over the tiny per-partition max table (nothing data-sized).
    val wPrev = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = maxes.withColumn("__off", max(col("__m")).over(wPrev)).drop("__m")
    val wRun = Window
      .partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding,
        if (exclusive) -1 else Window.currentRow)
    joinNullSafe(ranged, offsets, "__pid" +: groupCols)
      .withColumn(out, greatest(max(col(valueCol)).over(wRun), col("__off")))
      .drop("__pid", "__off")
  }
}
