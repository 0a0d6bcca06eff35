package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}

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
  *   2. aggregate rows per (partition, group) — a tiny table of ≤
  *      numPartitions × #groups rows;
  *   3. cumulative offsets per group: a window over that table,
  *      ordered by partition id, broadcast-joined back — all in the
  *      plan, so building the frame runs no Spark job;
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
  * The range-partitioned frame is persisted: both the offsets table
  * and the final join must observe the SAME partition assignment, and
  * RangePartitioner's sample seed varies with RDD identity — relying
  * on ReuseExchange to fire (it usually does, but is not guaranteed
  * across recomputation/executor loss) would make exactness a
  * plan-cache accident. Both consumers read the one cached RDD; it is
  * registered with [[graft.CacheScope]] so the caller's post-action
  * `drain()` reclaims it (Verify/Bench drain after every query).
  *
  * Each adaptive kernel has two tiers behind ONE plan-statistics gate,
  * [[WindowMaxBytes]]: the plain window form below it, the distributed
  * form above it. Both emit identical bytes; DistributedRankSpec calls
  * each tier directly and pins them equal.
  *
  * Rank selections take their targets as a COLUMN function: `ranksOf`
  * maps the group-total column n to an array column of 1-based target
  * ranks, plain arithmetic on n, so every selection is one lazy plan
  * and building it runs no job. Only [[ntileByCuts]] walks a collected
  * table on the driver.
  */
object DistributedRank {

  /** Hard bound on the distinct values [[ntileByCuts]] collects. The
    * limit(+1) keeps the driver safe even on the failing path: at most
    * `DefaultMaxDriverRows + 1` small rows ever materialize.
    */
  private val DefaultMaxDriverRows: Int = 1 << 20

  /** The one size gate: inputs whose optimized-plan `sizeInBytes` is
    * at most this take each adaptive kernel's plain window tier, larger
    * ones its distributed tier. Reading plan statistics runs no job.
    * Sized from the global sweeps of RankKernelScale (a scale main last
    * present at commit fba91a5; README's DistributedRank section): row_number
    * 1M rows window 1.1 s vs kernel 1.9 s, 2M 2.3 vs 2.0, 5M 7.5 vs
    * 3.3; running sum 1M 2.6 vs 5.3, 2M 3.0 vs 5.0, 5M 6.3 vs 5.4. At
    * the measured ~18 B/row fact width 32 MB is ≈ 1.8M rows, at or
    * under both crossovers. Derived frames inherit their child's size
    * estimate, so a large fact behind a small aggregate errs toward
    * the distributed tier — the direction that costs only constant
    * overhead, never the one-task sort cliff. A misjudgment costs
    * performance only: both tiers emit identical bytes.
    */
  val WindowMaxBytes: Long = 32L << 20

  /** Whether `df`'s plan statistics put it under [[WindowMaxBytes]]. */
  private[graft] def windowSized(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= WindowMaxBytes

  private def over(partCols: Seq[String], orderCols: Seq[String]): WindowSpec =
    Window.partitionBy(partCols.map(col): _*).orderBy(orderCols.map(col): _*)

  /** Join on `keys` with NULL-SAFE equality — SQL window PARTITION BY
    * treats NULL as a group of its own, and the offset tables (built
    * by groupBy, which also keeps the NULL group) must reattach to
    * those rows rather than equi-join-drop them. The right side is
    * broadcast (all offset/target tables here are small);
    * `<=>` keys still hash-join (Catalyst folds null-safe equality
    * into join keys via coalesce), so the plan shape matches the
    * usingColumns join this replaces. Right key columns are renamed
    * away and dropped so the output keeps the left side's columns.
    */
  private[graft] def joinNullSafe(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      joinType: String = "inner"): DataFrame = {
    val renamed = keys.foldLeft(right)((d, k) => d.withColumnRenamed(k, "__r_" + k))
    val cond = keys.map(k => left(k) <=> renamed("__r_" + k)).reduce(_ && _)
    left.join(broadcast(renamed), cond, joinType).drop(keys.map("__r_" + _): _*)
  }

  /** The offset construction every distributed kernel shares (steps
    * 1–3 of the header): `df` range-partitioned on (group, order) into
    * `numPartitions` (0 = the session's shuffle partitions), tagged
    * with its partition id `__pid` and persisted; `aggs` per
    * (`__pid`, group); then `offsets(byPid)` evaluated over that small
    * table, where `byPid` is the window over one group's partitions in
    * partition order; the result broadcast-joined back null-safe on
    * (`__pid`, groupCols…). Output: `df`'s columns, `__pid`, and the
    * offset columns.
    */
  private def withPartitionOffsets(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      numPartitions: Int,
      aggs: Seq[Column])(offsets: WindowSpec => Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = graft.CacheScope.scoped(
      df.repartitionByRange(n, (groupCols ++ orderCols).map(col): _*)
        .withColumn("__pid", spark_partition_id()))
    val keys = "__pid" +: groupCols
    val table = ranged.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val offs = table.select(keys.map(col) ++ offsets(over(groupCols, Seq("__pid"))): _*)
    joinNullSafe(ranged, offs, keys)
  }

  /** Rows of the group's earlier partitions, for an exclusive prefix. */
  private def prior(byPid: WindowSpec): WindowSpec =
    byPid.rowsBetween(Window.unboundedPreceding, -1)

  /** The distributed tier of [[rowNumberAdaptive]]: the header's
    * construction over `numPartitions` range partitions (0 = the
    * session's shuffle partitions).
    */
  def rowNumber(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      out: String = "rn",
      numPartitions: Int = 0): DataFrame = {
    val withOffsets = withPartitionOffsets(df, groupCols, orderCols, numPartitions,
      Seq(count(lit(1)).as("__cnt"))) { byPid =>
      Seq(coalesce(sum(col("__cnt")).over(prior(byPid)), lit(0L)).as("__off"))
    }
    withOffsets
      .withColumn(out, row_number().over(over("__pid" +: groupCols, orderCols))
        .cast(LongType) + col("__off"))
      .drop("__pid", "__off")
  }

  /** The window tier of [[rowNumberAdaptive]]. The result is
    * [[graft.CacheScope]]-scoped like the distributed tier's internal
    * persist: multi-consumer callers (q59 derives stats from the ranks
    * AND joins them back) must not re-scan the source per consumer;
    * the gate bounds the cached frame.
    */
  private[graft] def rowNumberWindow(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      out: String = "rn"): DataFrame =
    graft.CacheScope.scoped(
      df.withColumn(out, row_number().over(over(groupCols, orderCols)).cast(LongType)))

  /** Size-adaptive full ranking: the plain window `row_number()`
    * under [[WindowMaxBytes]] (one sort, no offset machinery — at
    * small inputs [[rowNumber]]'s two exchanges plus the offsets join
    * cost ~2× the degenerate sort they avoid), the distributed kernel
    * above it. Both tiers emit the IDENTICAL LongType rank under the
    * caller's total order — the ranking shapes that keep every row
    * (q46's global ntile, q59's window family, q115's z-order
    * buckets).
    */
  def rowNumberAdaptive(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      out: String = "rn"): DataFrame =
    if (windowSized(df)) rowNumberWindow(df, groupCols, orderCols, out)
    else rowNumber(df, groupCols, orderCols, out)

  /** The window tier of [[valuesAtRanksAdaptive]]: one window pass
    * ranks every row and counts its group over the same (group, order)
    * window — one sort, so degenerate tasks are fine under the gate —
    * and keeps the rows whose rank is in `ranksOf(n)`. `ranksOf` maps
    * the group's row-count column n to an array column of 1-based
    * target ranks; targets outside 1..n and duplicates select nothing
    * extra. Output = the input columns plus `out` = the row's rank
    * within its group — plus, when `outTotal` is non-empty, the
    * group's row count under that name; exactly one row per surviving
    * (group, target). NULL group keys form a group of their own; same
    * total-order contract on `orderCols` as [[rowNumber]]. `ranksOf` is
    * evaluated on every row here, so keep its code compact: a stage
    * whose generated method passes HotSpot's 8,000-byte limit is never
    * JIT-compiled (q116's targets are four `sequence`s for that reason).
    */
  private[graft] def valuesAtRanksWindow(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      ranksOf: Column => Column,
      out: String = "rn",
      outTotal: String = ""): DataFrame = {
    // count(*) over the whole group frame shares the row_number's
    // (partition, order) spec, so both evaluate in ONE WindowExec
    val w = over(groupCols, orderCols)
    val n = if (outTotal.nonEmpty) outTotal else "__n"
    val hits = df
      .withColumn(out, row_number().over(w).cast(LongType))
      .withColumn(n, count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(array_contains(ranksOf(col(n)), col(out)))
    if (outTotal.nonEmpty) hits else hits.drop(n)
  }

  /** Size-adaptive rank selection: [[valuesAtRanksWindow]] under
    * [[WindowMaxBytes]], [[valuesAtRanksByValue]] (distinct-value
    * domain, ~flat under replica scaling) above it — the q116 hybrid
    * generalized to every quantile/median consumer. Both tiers select
    * the SAME values (rank→value is tiebreak-invariant), so the
    * output is byte-identical either side of the gate; `tieCols` only
    * make the window tier's internal rank deterministic. Either tier
    * is one lazy plan: building it runs no job.
    *
    * Output schema is the uniform (groupCols…, valueCol, out
    * [, outTotal]) of the by-value tier on BOTH sides.
    */
  def valuesAtRanksAdaptive(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      tieCols: Seq[String],
      ranksOf: Column => Column,
      out: String = "rn",
      outTotal: String = ""): DataFrame =
    if (windowSized(df)) {
      val outCols = (groupCols :+ valueCol :+ out) ++
        (if (outTotal.nonEmpty) Seq(outTotal) else Nil)
      valuesAtRanksWindow(df, groupCols, valueCol +: tieCols, ranksOf, out, outTotal)
        .select(outCols.map(col): _*)
    } else
      valuesAtRanksByValue(df, groupCols, valueCol, ranksOf, out, outTotal)

  /** The distributed tier of [[valuesAtRanksAdaptive]]: the rank
    * selection computed over the per-distinct-VALUE count table
    * instead of a row-level sort — the shape that stays bounded at
    * 100 TB. The output of a rank selection exposes only VALUES (the
    * value at each target rank), and the value at rank t is the same
    * whichever tied row a total order puts at the edge — so tiebreak
    * columns are irrelevant to the result, and the selection can run
    * in the value domain: one map-side-combined groupBy(group, v)
    * (shuffle volume = distinct values per map partition, NOT rows),
    * then [[valuesAtRanksFromCounts]]. Under replica scaling the
    * distinct-value table is INVARIANT while the row count grows
    * 100×, so this path's cost is ~flat where a row-level range sort
    * grows linearly (q116's measurement: sort-selection 1.9 s →
    * 15.9 s from 0.6M → 60M rows, value-domain flat 6.5 → 8.4 s).
    *
    * Output: one row per surviving (group, target) with ONLY
    * (groupCols…, valueCol, `out` = rank[, `outTotal` = group row
    * count]) — the interpolation consumers' contract. NULL values
    * form their own (first) rank block and NULL group keys their own
    * group, exactly like the window tier.
    */
  def valuesAtRanksByValue(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      ranksOf: Column => Column,
      out: String = "rn",
      outTotal: String = ""): DataFrame = {
    val vc = graft.CacheScope.scoped(
      df.groupBy((groupCols :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("__cnt")))
    valuesAtRanksFromCounts(vc, groupCols, valueCol, "__cnt", ranksOf, out, outTotal)
  }

  /** The rank selection over a CALLER-SUPPLIED per-(group, value)
    * count table. `vc` holds one row per (groupCols…, valueCol) with
    * `cntCol` = that value's row count; the caller owns its
    * persistence (it is consumed twice here). Everything is in the
    * plan: the group totals, their target ranks
    * `explode(array_distinct(ranksOf(total)))` kept to 1 ≤ t ≤ total,
    * the cumulative count walk over the value order
    * ([[runningSumAdaptive]], behind the one [[WindowMaxBytes]] gate),
    * and a broadcast range-join picking the value whose window
    * (cume − cnt, cume] contains each target.
    */
  def valuesAtRanksFromCounts(
      vc: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      cntCol: String,
      ranksOf: Column => Column,
      out: String = "rn",
      outTotal: String = ""): DataFrame = {
    require(cntCol == "__cnt" || !vc.columns.contains("__cnt"),
      s"valuesAtRanksFromCounts: renaming $cntCol would collide with an " +
        "existing __cnt column — drop or rename it first")
    val vcc = if (cntCol == "__cnt") vc else vc.withColumnRenamed(cntCol, "__cnt")
    // the target list is groups × ranks — always broadcast-sized
    val targets = vcc.groupBy(groupCols.map(col): _*).agg(sum(col("__cnt")).as("__tt"))
      .select(groupCols.map(col) ++ Seq(
        explode(array_distinct(ranksOf(col("__tt")))).as("__t"), col("__tt")): _*)
      .filter(col("__t") >= 1 && col("__t") <= col("__tt"))
    val cum = runningSumAdaptive(vcc, groupCols, Seq(valueCol), "__cnt", "__cume")
    // null-safe group keys + the rank-window range condition
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
    * q95 shape as ONE kernel over the per-(group, value) count table:
    * the fact is aggregated to its distinct (group, value) count table
    * (ONE map-side-combined exchange — the only fact-sized shuffle and
    * the only fact scan), the median is picked off its cumulative
    * count walk ([[runningSumAdaptive]]) and attached to every row of
    * the table by a window over the group, and the deviations' count
    * table derives from that by arithmetic (two values folding onto one
    * deviation merge counts) for the second selection — both bounded by
    * distinct values, never rows, and both in the plan. Windows keep
    * their input's size estimate where a join back would multiply it,
    * so the second walk is gated on the count table's size.
    *
    * Interpolation is the linear `quantile_cont` form at p=0.5, the
    * double expression `lo + (h − ⌊h⌋)·(hi − lo)`, h = (n−1)/2 —
    * DistributedRankSpec pins it bit-identical to the row-level
    * two-pass cascade. NULL group keys form a group of their own;
    * NULL values rank first (both mirroring the row-level window
    * form) and a median landing on a NULL value yields NULL med/mad.
    * Output: one row per group — (groupCol, outMed, outMad), doubles.
    */
  def medianMad(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      outMed: String = "med",
      outMad: String = "mad"): DataFrame = {
    require(df.schema(valueCol).dataType == DoubleType,
      s"medianMad interpolates in double; cast $valueCol to double first")
    val byGroup = Window.partitionBy(col(groupCol))
    // `counts` (group, v, __cnt, …) with its group's median of v as
    // `out`: ranks ⌊h⌋+1 and ⌈h⌉+1 each fall in exactly one row's
    // cumulative window (cume − cnt, cume]
    def withMedian(counts: DataFrame, v: String, out: String): DataFrame = {
      val cum = runningSumAdaptive(counts, Seq(groupCol), Seq(v), "__cnt", "__cume")
      val hn = (col("__n") - 1).cast(DoubleType) * lit(0.5)
      def at(rank: Column): Column =
        min(when(rank > col("__cume") - col("__cnt") && rank <= col("__cume"), col(v)))
          .over(byGroup)
      cum.withColumn("__n", sum(col("__cnt")).over(byGroup))
        .withColumn("__lo", at(floor(hn) + 1))
        .withColumn("__hi", at(ceil(hn) + 1))
        .withColumn(out, col("__lo") + (hn - floor(hn)) * (col("__hi") - col("__lo")))
        .drop("__cume", "__n", "__lo", "__hi")
    }
    val vc = graft.CacheScope.scoped(
      df.groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("__cnt")))
    val devs = graft.CacheScope.scoped(
      withMedian(vc, valueCol, outMed)
        .groupBy(col(groupCol), abs(col(valueCol) - col(outMed)).as("__dev"))
        // one median per group: max carries it through the regrouping
        .agg(sum(col("__cnt")).as("__cnt"), max(col(outMed)).as(outMed)))
    withMedian(devs, "__dev", outMad)
      .groupBy(col(groupCol))
      .agg(max(col(outMed)).as(outMed), max(col(outMad)).as(outMad))
  }

  /** Weighted median over a per-(group, value) WEIGHT table: the
    * smallest value whose inclusive cumulative weight reaches half
    * the group total (min v with 2·cum(w) ≥ total(w)) — the q120
    * shape. Weights must sum exactly (long or decimal, the
    * [[runningSum]] contract). One form: the distributed prefix sum
    * plus a crossing filter. A driver-side collect-and-walk tier would
    * only pay off for a bounded weight table, and q120's is not one:
    * its prices are near-unique (583k distinct among 600k sf0.1
    * lines), so the table is ~fact-row-sized and a driver walk
    * measured a regression there (sf0.1 2.32 → 2.80 s). Null weights
    * contribute nothing; null values rank first and the emitted value
    * is the first NON-NULL value at or past the crossing (`min(v)`
    * ignores nulls), so a group whose values are all NULL emits
    * (group, NULL) — `DistributedRankSpec`'s weightedMedian case pins
    * it against the plain window form.
    */
  def weightedMedian(
      wTable: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      weightCol: String,
      out: String = "wmedian"): DataFrame = {
    import org.apache.spark.sql.types._
    val wType = wTable.schema(weightCol).dataType
    require(wType == LongType || wType == IntegerType ||
      wType.isInstanceOf[DecimalType],
      s"weightedMedian needs an exactly-summable weight (long or decimal); " +
        s"$weightCol is $wType")
    runningSum(wTable, groupCols, Seq(valueCol), weightCol, "__cw",
      outTotal = "__tw")
      .filter(col("__cw") * 2 >= col("__tw"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valueCol)).as(out))
  }

  /** Rank-free global ntile via boundary cuts (the q46 shape, factored
    * here in r13 so the path is directly forceable by a spec instead
    * of reachable only above q46's stats gate):
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
    *   - the value domain overflows `DefaultMaxDriverRows` distinct values,
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
    *
    * The count-table probe and the tie-block read are driver actions
    * that run while the caller BUILDS its frame: q46 above
    * [[WindowMaxBytes]] is the one query that reads at build.
    * [[graft.plans.ScanCensus]] counts only the returned plan's scans
    * (the one assignment scan), so neither read shows in the census or
    * in Verify's scan ledger, and PlanQualitySpec's build guard never
    * sees them: at its sf0.001 scale q46 is under the gate.
    */
  def ntileByCuts(
      df: DataFrame,
      valueCol: String,
      keyCol: String,
      k: Int,
      outCol: String): Option[DataFrame] = {
    val vc = graft.CacheScope.scoped(
      df.groupBy(col(valueCol)).agg(count(lit(1)).as("__cnt")))
    val probe = vc.limit(DefaultMaxDriverRows + 1).collect()
    if (probe.length > DefaultMaxDriverRows || probe.exists(_.isNullAt(0))) None
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

  /** The type `SUM(valueCol)` produces, which must be exact — long or
    * decimal (doubles would make a prefix sum depend on partition
    * boundaries; refuse them rather than be quietly nondeterministic).
    */
  private def exactSumType(df: DataFrame, valueCol: String): DataType = {
    val t = df.select(sum(col(valueCol))).schema.head.dataType
    require(t.isInstanceOf[DecimalType] || t == LongType,
      s"runningSum needs an exactly-summable value column (long or decimal); " +
        s"$valueCol sums to $t")
    t
  }

  /** Distributed exact prefix sum — `SUM(v) OVER (PARTITION BY g
    * ORDER BY ... ROWS UNBOUNDED PRECEDING)` without the single-task-
    * per-group window sort, by the same construction as [[rowNumber]]:
    * per-(partition, group) sums prefix over earlier partitions in the
    * plan, local running sum + broadcast offset = exact global running
    * sum. The value column must sum exactly ([[exactSumType]]); the
    * offsets are cast back to that type, so `out` has the type of the
    * plain window's running sum plus a same-typed offset. Inclusive of
    * the current row; subtract the row's own value for the exclusive
    * form. When `outTotal` is non-empty the group's full sum (nulls
    * ignored, 0 if all-null) rides along under that name —
    * crossing-point consumers (weighted median, CDF) need it and the
    * per-partition sums table already holds it, where a separate
    * totals frame would cost another scan and join. When `outRank` is
    * non-empty the row's global 1-based rank under the same ordering
    * rides along too (crossing-point consumers — coverage curves, CDF
    * inversion — need "how many rows to reach mass X", and the
    * per-partition row counts sit in the same table, so this costs one
    * extra long per offset row instead of a second [[rowNumber]]
    * exchange over the data).
    */
  def runningSum(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      out: String = "cum",
      numPartitions: Int = 0,
      outTotal: String = "",
      outRank: String = ""): DataFrame = {
    val sumType = exactSumType(df, valueCol)
    val zero = lit(0).cast(sumType)
    // Offsets carry (prior-partition sum, prior-partition non-null
    // count): the count disambiguates SQL's null-until-first-value
    // running-sum semantics — a partition whose local prefix is still
    // all-null must inherit the prior sum iff any prior value exists.
    val withOffsets = withPartitionOffsets(df, groupCols, orderCols, numPartitions,
      Seq(sum(col(valueCol)).as("__s"), count(col(valueCol)).as("__c"),
        count(lit(1)).as("__call"))) { byPid =>
      val all = byPid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Seq(
        coalesce(sum(col("__s")).over(prior(byPid)).cast(sumType), zero).as("__off"),
        coalesce(sum(col("__c")).over(prior(byPid)), lit(0L)).as("__offcnt"),
        coalesce(sum(col("__call")).over(prior(byPid)), lit(0L)).as("__roff"),
        coalesce(sum(col("__s")).over(all).cast(sumType), zero).as("__gtot"))
    }
    val wLocal = over("__pid" +: groupCols, orderCols)
    val cum = withOffsets
      .withColumn("__lcum", sum(col(valueCol)).over(
        wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(out,
        when(col("__lcum").isNotNull, col("__lcum") + col("__off"))
          .otherwise(when(col("__offcnt") > 0, col("__off"))))
    val withTotal =
      if (outTotal.nonEmpty) cum.withColumn(outTotal, col("__gtot")) else cum
    val withRank =
      if (outRank.nonEmpty)
        withTotal.withColumn(outRank,
          row_number().over(wLocal).cast(LongType) + col("__roff"))
      else withTotal
    withRank.drop("__pid", "__off", "__offcnt", "__roff", "__lcum", "__gtot")
  }

  /** The window tier of [[runningSumAdaptive]]. It replicates the
    * distributed tier's output EXACTLY — `out` is `local-cum + 0` of
    * the kernel's Add(sumType, sumType) type with SQL's
    * null-until-first-value semantics, `outTotal` the non-null group
    * total (0 when all-null), `outRank` the LongType row number. The
    * result is [[graft.CacheScope]]-scoped like the kernel's internal
    * persist, keeping the multi-consumer single-source-scan contract;
    * the gate bounds the cached frame.
    */
  private[graft] def runningSumWindow(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      out: String = "cum",
      outTotal: String = "",
      outRank: String = ""): DataFrame = {
    val zero = lit(0).cast(exactSumType(df, valueCol))
    // every window expression rides the SAME (partition, order)
    // spec — Spark groups window expressions by that pair, so cum,
    // total (unbounded-both frame), and rank all evaluate in ONE
    // WindowExec over one sort; and the running sum lands in an
    // intermediate column first so the null-guard below does not
    // duplicate the aggregate inside the operator
    val wOrd = over(groupCols, orderCols)
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
    graft.CacheScope.scoped(withRank.drop("__lcum"))
  }

  /** Size-adaptive [[runningSum]]: [[runningSumWindow]] under
    * [[WindowMaxBytes]], the distributed kernel above it;
    * byte-identical either side (spec-pinned). The prefix-sum
    * consumers feed DERIVED aggregate tables (distinct-score,
    * distinct-price, sweep points), whose estimates inherit their
    * child's size — a large fact behind a small aggregate takes the
    * distributed tier.
    */
  def runningSumAdaptive(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      out: String = "cum",
      outTotal: String = "",
      outRank: String = ""): DataFrame =
    if (windowSized(df))
      runningSumWindow(df, groupCols, orderCols, valueCol, out, outTotal, outRank)
    else
      runningSum(df, groupCols, orderCols, valueCol, out,
        outTotal = outTotal, outRank = outRank)

  /** Distributed exact prefix max — `MAX(v) OVER (PARTITION BY g
    * ORDER BY … ROWS UNBOUNDED PRECEDING)` by the [[runningSum]]
    * construction. Unlike the sum, max is exact for ANY orderable
    * type (no rounding to accumulate), so there is no long/decimal
    * restriction. Null semantics match SQL (nulls ignored; null until
    * the first value). Inclusive of the current row by default;
    * `exclusive = true` gives `ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    * PRECEDING` (null on each group's first row) — the form dominance
    * sweeps need, where a row is compared against the envelope of
    * STRICTLY preceding rows. The skyline/Pareto sweep (q127) and
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
    val wRun = over("__pid" +: groupCols, orderCols)
      .rowsBetween(Window.unboundedPreceding,
        if (exclusive) -1 else Window.currentRow)
    // the exclusive prefix max across partitions needs no coalesce:
    // greatest() skips the NULL offset of a group's first partition
    val withOffsets = withPartitionOffsets(df, groupCols, orderCols, numPartitions,
      Seq(max(col(valueCol)).as("__m"))) { byPid =>
      Seq(max(col("__m")).over(prior(byPid)).as("__off"))
    }
    withOffsets
      .withColumn(out, greatest(max(col(valueCol)).over(wRun), col("__off")))
      .drop("__pid", "__off")
  }
}
