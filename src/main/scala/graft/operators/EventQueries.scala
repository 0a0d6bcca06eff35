package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream analytics in batch form over the `events` table, each
  * query oracle-checkable.
  *
  * Scale design: sessionization is a single shuffle on `user_id`
  * followed by two window passes over the same partitioning (Spark
  * reuses the exchange); the tumbling-window agg is one partial+final
  * hash aggregate keyed on (bucket, type) — both shapes hold at 100 TB
  * because state per key is O(1) and keys are well-distributed.
  */
object EventQueries {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q20 — sessionization: 30-minute inactivity gap, lag + running sum.
    QueryDef.sql(
      "q20_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged)
        |SELECT user_id, MAX(sid) AS n_sessions, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
        .withColumn("sid", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"))
        .agg(max(col("sid")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },

    // ------------------------------------------------------------------
    // q21 — tumbling-window aggregation (batch form of the streaming
    // windowed agg): hourly count + exact-decimal value sum per type.
    QueryDef.sql(
      "q21_hourly_event_agg",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast(DoubleType).as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    },

    // ------------------------------------------------------------------
    // q22 — sliding analytics: per-user running value stats via window
    // frames (lag/lead/moving sum — beyond the reference's single W1).
    QueryDef.sql(
      "q22_user_running_value",
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS event_seq
        |FROM events
        |WHERE user_id < 5
        |ORDER BY user_id, event_seq""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .filter(col("user_id") < 5)
        .select(col("user_id"), col("event_id"),
          sum(dec2(col("value"))).over(w.rowsBetween(-2, Window.currentRow))
            .cast(DoubleType).as("moving_sum"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("event_seq"))
        .orderBy(col("user_id"), col("event_seq"))
    },

    // ------------------------------------------------------------------
    // q87 — funnel conversion: earliest view → first click after it →
    // first purchase after that, per user; stage reached + step
    // latencies (−1 sentinel keeps the output null-free for hashing).
    // r17: SIZE-ADAPTIVE dispatch ([[FunnelOps.funnelAdaptive]]) —
    // the ordered fold (one shuffle: collect_list + `aggregate` HOF)
    // below 64 MB of optimizer-estimated events, the staged
    // all-codegen min-agg cascade above. The r17 100× probe read
    // 65–76% of the fold's samples inside INTERPRETED expression eval
    // (ArrayAggregate is CodegenFallback: UnaryExpression.eval /
    // InternalRow.getAccessor / toArray), the exact shared-call-site
    // profile that goes megamorphic late in a suite (the r16 q128
    // mechanism): isolated calm floor 1.434 s at 100× vs 2.3–5.1 s
    // in-suite across three passes — while at sf0.1 (events ≈ 2 MB)
    // the fold's single job beats the cascade's three fixed jobs by
    // ~0.1 s. The staged form partial-aggregates map-side before each
    // |users|-sized exchange (§2.3 — the fold ships EVERY funnel
    // event through its shuffle). Both forms are spec-pinned
    // row-identical (FunnelOpsSpec, incl. a single-user firehose), so
    // the dispatch cannot change a bit; the oracle states the same
    // semantics relationally.
    QueryDef.sql(
      "q87_funnel_conversion",
      """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view,
        |  CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS stage,
        |  CAST(COALESCE(epoch_us(c.t_click) - epoch_us(v.t_view), -1) AS BIGINT) AS us_to_click,
        |  CAST(COALESCE(epoch_us(p.t_purchase) - epoch_us(c.t_click), -1) AS BIGINT) AS us_to_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      FunnelOps.funnelAdaptive(Tables(s, dir).events)
    },

    // ------------------------------------------------------------------
    // q109 — incremental rollup maintenance: the daily (day, type)
    // rollup computed as TWO partial aggregates (here split by user
    // parity — every output group has rows in both partials) merged by
    // re-aggregation, proving the merge identity partial(A) ⊎
    // partial(B) = full(A ∪ B) that every incremental pipeline leans
    // on: tonight's delta folds into yesterday's materialized rollup
    // without rescanning history. count merges by SUM; value totals
    // stay exact DECIMAL until one final double cast, so the merged
    // result hash-matches the oracle's direct full-scan rollup — not
    // "close to", EQUAL. Merge cost is rollup-sized (days × types),
    // never fact-table-sized.
    QueryDef.sql(
      "q109_incremental_rollup",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val events = Tables(s, dir).events
      def partial(pred: org.apache.spark.sql.Column) = events.filter(pred)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("sv"))
      partial(col("user_id") % 2 === 0)
        .unionByName(partial(col("user_id") % 2 =!= 0))
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sv")).cast(DoubleType).as("total_value"))
        .orderBy(col("day"), col("event_type"))
    },

    // ------------------------------------------------------------------
    // q115 — Z-order data layout (the lakehouse OPTIMIZE ZORDER BY
    // shape): events keyed by (user_id, day) get a Morton-interleaved
    // clustering key ([[graft.functions.ZOrder64]], codegen'd magic-
    // mask spread), rows are globally ranked by it via
    // [[DistributedRank]] (range partition + broadcast offsets — no
    // single-task window sort), and assigned to fixed-size output
    // "files". Output is each file's (min, max) rectangle in BOTH
    // dimensions — the min/max footer statistics a scan prunes on:
    // z-ordering keeps those rectangles small in user AND day
    // simultaneously, where a single-column sort gives one tight edge
    // and one full-span edge. The oracle re-derives the interleave
    // with per-bit integer arithmetic and the identical (z, event_id)
    // total order, so the hash pins the kernel's exact bit layout.
    // At 100 TB the global range sort is the one shuffle the layout
    // job pays by definition; rectangle stats are file-count-sized.
    QueryDef.sql(
      "q115_zorder_layout",
      """WITH e AS (SELECT event_id, CAST(user_id AS BIGINT) AS x,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS y
        |  FROM events),
        |z AS (SELECT event_id, x, y,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1)))) AS BIGINT) AS zv
        |  FROM e),
        |r AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY zv, event_id) AS rn FROM z)
        |SELECT CAST((rn - 1) // 4096 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
        |  CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events.select(
        col("event_id"),
        col("user_id").cast(LongType).as("x"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).cast(LongType).as("y"))
      val z = e.select(col("event_id"), col("x"), col("y"),
        graft.functions.ZOrder64(col("x"), col("y")).as("zv"))
      DistributedRank.rowNumberAdaptive(z, Nil, Seq("zv", "event_id"))
        .groupBy(expr("(rn - 1) div 4096").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("bucket"))
    },

    // ------------------------------------------------------------------
    // q118 — AUC (area under the ROC curve) of `value` as a predictor
    // of purchase events: the model-evaluation metric every quality-
    // classifier gate in a curation pipeline reports. Computed by the
    // Mann–Whitney identity with exact tie handling: collapse to
    // per-distinct-score (pos, neg) counts, running negative count via
    // [[DistributedRank.runningSum]] (the distinct-score table is
    // ~data-sized for a continuous score, so a plain cumulative window
    // would be ONE task), then
    //   AUC = Σ pos·(2·cumneg_excl + neg) / (2·P·N)
    // — all-integer arithmetic until one final double division, so the
    // result is bit-deterministic. Long headroom: the numerator is
    // bounded by 2·P·N (< 9.2e18 for P,N up to ~2e9; promote to
    // DECIMAL(38,0) beyond, as PageRank does).
    QueryDef.sql(
      "q118_auc_purchase",
      """WITH a AS (
        |  SELECT value AS v,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS neg
        |  FROM events GROUP BY v),
        |c AS (
        |  SELECT pos, neg,
        |    SUM(neg) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumneg
        |  FROM a)
        |SELECT
        |  CAST(SUM(pos * (2 * (cumneg - neg) + neg)) AS DOUBLE)
        |    / (2.0 * CAST(SUM(pos) AS DOUBLE) * CAST(SUM(neg) AS DOUBLE)) AS auc,
        |  CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg
        |FROM c""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events.select(col("value").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("isp"))
      val a = e.groupBy(col("v")).agg(
        sum(col("isp")).as("pos"),
        sum(lit(1L) - col("isp")).as("neg"))
      DistributedRank.runningSumAdaptive(a, Nil, Seq("v"), "neg", "cumneg")
        .agg(
          sum(col("pos") * (lit(2) * (col("cumneg") - col("neg")) + col("neg"))).as("num2"),
          sum(col("pos")).as("p"), sum(col("neg")).as("n"))
        .select(
          (col("num2").cast(DoubleType) /
            (lit(2.0) * col("p").cast(DoubleType) * col("n").cast(DoubleType))).as("auc"),
          col("p").as("n_pos"), col("n").as("n_neg"))
    },

    // ------------------------------------------------------------------
    // q125 — 7-day ROLLING exact distinct users per day: the sliding-
    // window distinct that plain windows can't express (COUNT(DISTINCT)
    // OVER a RANGE frame is unsupported in both engines) and self-joins
    // do quadratically. Shape: dedup to (day, user) pairs FIRST (one
    // partial+final distinct, corpus → active-pairs-sized), then each
    // pair map-side explodes into the ≤7 window anchors it serves, and
    // one distinct aggregation per anchor counts — amplification is the
    // constant window length, never the data. At 100 TB the same plan
    // holds with the day-dedup absorbing the volume; when windows get
    // long (90d) the mergeable-sketch path (q111's HLL per day, union 90
    // registers) replaces exactness. Anchors are clamped to days that
    // exist so both engines range over the same calendar.
    QueryDef.sql(
      "q125_rolling_distinct_users",
      """WITH du AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |roll AS (
        |  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
        |  FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day),
        |one AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS users_1d FROM du GROUP BY day)
        |SELECT CAST(day AS TIMESTAMP) AS day, users_7d, users_1d
        |FROM roll JOIN one USING (day)
        |ORDER BY day""".stripMargin) { (s, dir) =>
      // the distinct (day, user) table feeds three consumers (days,
      // the window explode, the per-day count); persisted so the
      // corpus-sized dedup shuffle runs once (r7 scan audit: events x3)
      val du = graft.CacheScope.scopedIfLarge(Tables(s, dir).events
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
      val days = du.select(col("day")).distinct()
      val roll = du
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("users_7d"))
      val one = du.groupBy(col("day")).agg(count(lit(1)).as("users_1d"))
      roll.join(one, "day")
        .withColumn("day", col("day").cast(TimestampType))
        .orderBy(col("day"))
    },

    // ------------------------------------------------------------------
    // q126 — PEAK CONCURRENCY per day (how many user sessions overlap
    // at the busiest instant): the classic interval-stabbing question,
    // answered by a sweep line — each session [start, end] becomes a
    // +1 and a −1 point, the running sum over time IS the concurrency
    // curve, and its per-day max is the answer. The cumulative pass
    // rides [[DistributedRank.runningSum]], so no day ever becomes a
    // one-task window sort no matter how many sessions it holds; ties
    // order starts before ends (a session ending at instant t still
    // overlaps one starting at t) and break on user_id for a total
    // order. Sessions here are each user's daily active interval
    // (min..max event ts).
    QueryDef.sql(
      "q126_peak_concurrency",
      """WITH s AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
        |    MIN(ts) AS st, MAX(ts) AS en
        |  FROM events GROUP BY 1, 2),
        |pts AS (
        |  SELECT day, st AS t, 0 AS k, user_id, 1 AS delta FROM s
        |  UNION ALL
        |  SELECT day, en AS t, 1 AS k, user_id, -1 AS delta FROM s),
        |c AS (
        |  SELECT day, SUM(delta) OVER (PARTITION BY day
        |    ORDER BY t, k, user_id ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM pts),
        |ns AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM s GROUP BY day)
        |SELECT CAST(day AS TIMESTAMP) AS day,
        |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency, n_sessions
        |FROM c JOIN ns USING (day) GROUP BY day, n_sessions
        |ORDER BY day""".stripMargin) { (s, dir) =>
      // session table persisted: its three consumers (both sweep-point
      // legs + the per-day count) would otherwise each re-scan and
      // re-aggregate the events fact (r7 scan audit: events x5)
      val sess = graft.CacheScope.scoped(Tables(s, dir).events
        .groupBy(to_date(col("ts")).as("day"), col("user_id"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en")))
      val pts = sess.select(col("day"), col("st").as("t"), lit(0).as("k"),
          col("user_id"), lit(1L).as("delta"))
        .unionByName(sess.select(col("day"), col("en").as("t"), lit(1).as("k"),
          col("user_id"), lit(-1L).as("delta")))
      val conc = DistributedRank.runningSumAdaptive(pts, Seq("day"),
        Seq("t", "k", "user_id"), "delta", "conc")
      val peaks = conc.groupBy(col("day"))
        .agg(max(col("conc")).as("peak_concurrency"))
      val ns = sess.groupBy(col("day")).agg(count(lit(1)).as("n_sessions"))
      peaks.join(ns, "day")
        .withColumn("day", col("day").cast(TimestampType))
        .orderBy(col("day"))
    },

    // ------------------------------------------------------------------
    // q129 — day-over-day retention via SORTED-SET intersection: the
    // exact-bitmap pattern (ClickHouse groupBitmap / roaring-bitmap
    // retention) with a sorted long array as the set carrier — one
    // aggregation builds each day's distinct-user set (partial-merged
    // map-side like any mergeable sketch), adjacent days pair by a
    // calendar self-join of the DAY-SIZED set table, and the overlap
    // is [[graft.functions.SortedLongIntersectCount]]'s codegen'd
    // merge walk — no re-explosion of users into an equi-join. Scale
    // contract: a day's set must fit one aggregation buffer (true of
    // real bitmap aggs too); when a slice's cardinality outgrows
    // that, the mergeable-HLL path (q111) replaces exactness. Days
    // appear iff their NEXT day has activity; a present-but-disjoint
    // pair correctly reports 0.
    QueryDef.sql(
      "q129_retention_sets",
      """WITH du AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events),
        |a AS (SELECT day, COUNT(*) AS c FROM du GROUP BY day),
        |nx AS (SELECT DISTINCT day - 1 AS day FROM du),
        |r AS (
        |  SELECT x.day, COUNT(*) AS retained FROM du x
        |  JOIN du y ON y.user_id = x.user_id AND y.day = x.day + 1
        |  GROUP BY x.day)
        |SELECT CAST(a.day AS TIMESTAMP) AS day, CAST(a.c AS BIGINT) AS actives,
        |  CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained_next,
        |  CAST(COALESCE(r.retained, 0) AS DOUBLE) / a.c AS retention
        |FROM a JOIN nx USING (day) LEFT JOIN r USING (day)
        |ORDER BY a.day""".stripMargin) { (s, dir) =>
      // day-sized set table persisted: both the base leg and the
      // shifted-calendar leg read it, and without the persist the
      // corpus-wide collect_set aggregation runs twice (r7 scan audit)
      val sets = graft.CacheScope.scoped(Tables(s, dir).events
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sort_array(collect_set(col("user_id"))).as("us")))
      val next = sets.select(date_sub(col("day"), 1).as("day"), col("us").as("us1"))
      sets.join(next, "day")
        .select(col("day"), size(col("us")).cast(LongType).as("actives"),
          graft.functions.SortedLongIntersectCount(col("us"), col("us1"))
            .cast(LongType).as("retained_next"))
        .withColumn("retention",
          col("retained_next").cast(DoubleType) / col("actives"))
        .withColumn("day", col("day").cast(TimestampType))
        .orderBy(col("day"))
    }
  )
}
