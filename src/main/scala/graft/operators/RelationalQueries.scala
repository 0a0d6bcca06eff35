package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator inventory over the TPC-H-ish testdata, covering
  * SURVEY.md §2's operator classes re-expressed on generic tables:
  * scans+pushdown (§2.1/§2.3), inner/outer/semi/anti joins incl. the
  * star-enrichment and join-of-two-aggregates shapes (§2.4), hash
  * aggregation in all the reference's forms (§2.5: groupBy-count,
  * multi-key, deterministic first-per-group, avg, ordered
  * collect_list→concat, dedup), window ranking (§2.6), top-k /
  * argmax (§2.7), set ops (§2.8), and the haversine scalar pipeline
  * (§2.9 U2, via [[graft.functions.Geo]]).
  *
  * Scale design: `region`/`nation` are broadcast explicitly (fixed-size
  * dims at any SF); fact⋈fact joins (orders⋈lineitem) shuffle on the
  * join key and rely on AQE for skew/coalesce; all aggregates are
  * partial+final hash aggregates; every filter is a plain column
  * predicate so it reaches the parquet scan as a pushed filter.
  */
object RelationalQueries {

  /** Exact decimal view of a 2-dp double column (money/qty). */
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Exact decimal view of a rate column (discount/tax, 2 dp in [0,1]). */
  private def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  private def dbl(c: Column): Column = c.cast(DoubleType)

  private def ts(s: String): Column = to_timestamp(lit(s + " 00:00:00"))

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q01 — pricing summary: multi-key hash agg, derived measures (A2/A4).
    QueryDef.sql(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      // Exact decimal semantics on a scaled-LONG fast path: the 2-dp
      // money/rate columns become exact integers ×100 (round() picks
      // the same integer the DECIMAL(·,2) cast does), every row-level
      // product and the whole aggregation run as primitive long codegen
      // (no per-row Decimal allocation — measured ~2× on this query),
      // and only the per-GROUP totals re-enter exact decimal to divide
      // the scale back out (exact rational, then one correctly-rounded
      // double cast — bit-identical to summing decimals directly).
      // Overflow discipline WITHOUT a decimal buffer in the hot path:
      // each scale-4/6 product is split row-side into primitive (div,
      // mod) long parts — pd4 = pd4h·1e4 + pd4l with pd4l < 1e4 and
      // pd4h ≤ 1.1e5; pdt6 = pdt6h·1e6 + pdt6l with pdt6l < 1e6 and
      // pdt6h ≤ 1.3e5 — so EVERY partial and final sum is a primitive
      // long (no per-row Decimal allocation; this was +60% on the
      // whole query when pd4/pdt6 summed into Decimal(38,0) buffers),
      // and the two part-sums recombine exactly into one Decimal per
      // GROUP. sum(mod-part) wraps past ~9e14 (scale 4) / ~9e12
      // (scale 6) rows per group, sum(div-part) past ~8e13 — all far
      // beyond total 100 TB lineitem rows (~6e11) even with every row
      // in one group. The scale-2 sums stay single primitive longs:
      // q2 ≤ 5.1e3 and p2 ≤ 1.1e7 per row bind at ≥ 8e11 rows in ONE
      // group (~3.7× headroom degenerate) — bounds pinned in
      // ScaledLongSpec.
      val li = Tables(s, dir).lineitem
      def cents(c: Column): Column = round(c * 100).cast(LongType)
      val p = cents(col("l_extendedprice"))
      val q = cents(col("l_quantity"))
      val d100 = lit(100L) - cents(col("l_discount"))
      val t100 = lit(100L) + cents(col("l_tax"))
      def unscale(sumCol: Column, scale: Int): Column =
        dbl(sumCol.cast(DecimalType(38, 0)) / math.pow(10, scale).toLong)
      // exact per-group recombination of the split long sums
      def combine(hi: Column, lo: Column, m: Long): Column =
        sum(hi).cast(DecimalType(38, 0)) * lit(m) + sum(lo).cast(DecimalType(38, 0))
      li.filter(col("l_shipdate") <= ts("2001-09-02"))
        .select(col("l_returnflag"), col("l_linestatus"),
          q.as("q2"), p.as("p2"), (p * d100).as("pd4"), (p * d100 * t100).as("pdt6"))
        .select(col("l_returnflag"), col("l_linestatus"), col("q2"), col("p2"),
          expr("pd4 div 10000").as("pd4h"), (col("pd4") % 10000L).as("pd4l"),
          expr("pdt6 div 1000000").as("pdt6h"), (col("pdt6") % 1000000L).as("pdt6l"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          unscale(sum(col("q2")), 2).as("sum_qty"),
          unscale(sum(col("p2")), 2).as("sum_base_price"),
          unscale(combine(col("pd4h"), col("pd4l"), 10000L), 4).as("sum_disc_price"),
          unscale(combine(col("pdt6h"), col("pdt6l"), 1000000L), 6).as("sum_charge"),
          (unscale(sum(col("q2")), 2) / count(lit(1))).as("avg_qty"),
          (unscale(sum(col("p2")), 2) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ------------------------------------------------------------------
    // q02 — filter + projection: predicate pushdown + column pruning (P4–P6).
    QueryDef.sql(
      "q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '2000-04-01 00:00:00'
        |  AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_shipdate") >= ts("2000-01-01") &&
          col("l_shipdate") < ts("2000-04-01") && col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ------------------------------------------------------------------
    // q03 — shipping-priority: 3-way join + agg + top-k (J1-style + O1).
    QueryDef.sql(
      "q03_top_revenue_orders",
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.filter(col("c_mktsegment") === "BUILDING")
        .join(t.orders.filter(col("o_orderdate") < ts("1999-01-01")),
          col("c_custkey") === col("o_custkey"))
        .join(t.lineitem.filter(col("l_shipdate") > ts("1999-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dbl(sum(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ------------------------------------------------------------------
    // q04 — EXISTS via left-semi join with a non-equi conjunct.
    QueryDef.sql(
      "q04_order_priority_exists",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val o = t.orders.filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1997-01-01"))
      val l = t.lineitem
      o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // ------------------------------------------------------------------
    // q05 — star multi-join (J1–J3 shape): fact ⋈ fact ⋈ dims with
    // broadcast of the fixed-size dims; revenue per nation in a region.
    QueryDef.sql(
      "q05_region_revenue",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(t.orders.filter(col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1998-01-01")), col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dbl(sum(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ------------------------------------------------------------------
    // q06 — scalar aggregate over a pushed range filter (no groupBy).
    QueryDef.sql(
      "q06_forecast_revenue",
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(
          dbl(sum(dec2(col("l_extendedprice")) * rate(col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // ------------------------------------------------------------------
    // q07 — window top-N per group (W1 + P6): top-3 parts per brand.
    QueryDef.sql(
      "q07_top_parts_per_brand",
      """SELECT p_brand, p_partkey, revenue, rnk FROM (
        |  SELECT p_brand, p_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) DESC, p_partkey) AS INTEGER) AS rnk
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY p_brand, p_partkey)
        |WHERE rnk <= 3
        |ORDER BY p_brand, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      // Aggregation pushdown below the join (r15): p_partkey
      // functionally determines p_brand, so grouping by (p_brand,
      // p_partkey) ≡ grouping by partkey alone — aggregate the fact
      // FIRST (60M rows → ≤|part| compact rows), then join the tiny
      // aggregate to part. The join-then-aggregate form probed 60M
      // rows through the join and the two-key hash table for the
      // identical result.
      // Scaled-long fast path (q01 pattern, bit-identical unscale
      // proven there): pd4 ≤ 1.1e9 per row; a single long sum binds at
      // ~8.4e9 rows in ONE partkey group — TPC-H holds lines-per-part
      // at ~30 independent of SF, so no hi/lo split needed here.
      val pd4 = (round(col("l_extendedprice") * 100).cast(LongType) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))).as("pd4")
      val rev = t.lineitem
        .select(col("l_partkey"), pd4)
        .groupBy(col("l_partkey"))
        .agg(dbl(sum(col("pd4")).cast(DecimalType(38, 0)) / lit(10000L)).as("revenue"))
      val pr = rev.join(t.part, col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"), col("p_partkey"), col("revenue"))
      val w = Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("p_partkey"))
      pr.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .orderBy(col("p_brand"), col("rnk"))
    },

    // ------------------------------------------------------------------
    // q08 — deterministic "most active per group" (A3 reborn as window
    // rank=1 instead of the reference's sort-then-groupBy-first).
    QueryDef.sql(
      "q08_top_customer_per_nation",
      """SELECT n_name, c_name, cnt FROM (
        |  SELECT c_nationkey, c_custkey, c_name, COUNT(*) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY COUNT(*) DESC, c_custkey) AS rn
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, c_custkey, c_name) t
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE rn = 1
        |ORDER BY n_name""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val oc = t.customer.join(t.orders, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("cnt").desc, col("c_custkey"))
      oc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(broadcast(t.nation), col("n_nationkey") === col("c_nationkey"))
        .select("n_name", "c_name", "cnt")
        .orderBy(col("n_name"))
    },

    // ------------------------------------------------------------------
    // q09 — argmax row (O1): TakeOrderedAndProject top-1 with tiebreak.
    QueryDef.sql(
      "q09_max_revenue_line",
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |ORDER BY revenue DESC, l_orderkey, l_linenumber
        |LIMIT 1""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          dbl(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(1)
    },

    // ------------------------------------------------------------------
    // q10 — avg per group (A4), exact decimal-sum/count form.
    QueryDef.sql(
      "q10_avg_balance_per_region",
      """SELECT r_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
        |  COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          (dbl(sum(dec2(col("c_acctbal")))) / count(lit(1))).as("avg_bal"),
          count(lit(1)).as("n_cust"))
        .orderBy(col("r_name"))
    },

    // ------------------------------------------------------------------
    // q11 — ordered collect_list → concat (A5, deterministic): top-3
    // nations per region by customer count, comma-joined in rank order.
    QueryDef.sql(
      "q11_top_nations_concat",
      """WITH nc AS (
        |  SELECT n_regionkey, n_name, COUNT(*) AS cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_regionkey, n_name),
        |top AS (
        |  SELECT * FROM (
        |    SELECT nc.*, ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY cnt DESC, n_name) AS rn
        |    FROM nc) WHERE rn <= 3)
        |SELECT r_name, string_agg(n_name, ', ' ORDER BY rn) AS top_nations
        |FROM top JOIN region ON r_regionkey = n_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val nc = t.customer.join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_name")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("n_regionkey")).orderBy(col("cnt").desc, col("n_name"))
      nc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .join(broadcast(t.region), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("n_name")))),
            x => x.getField("n_name")),
          ", ").as("top_nations"))
        .orderBy(col("r_name"))
    },

    // ------------------------------------------------------------------
    // q12 — deterministic dedup (A6): keep newest order per customer.
    QueryDef.sql(
      "q12_dedup_latest_order",
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables(s, dir).orders
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_custkey"))
    },

    // ------------------------------------------------------------------
    // q13 — left outer join + agg with null-side handling.
    QueryDef.sql(
      "q13_customer_order_counts",
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // Spend sums on the q01 scaled-long path (cents ≤ 5.5e7 per row
      // → single long sum binds at ~1.7e11 orders per customer; TPC-H
      // holds ~10).
      val spCents = round(col("o_totalprice") * 100).cast(LongType)
      // No persist before the final order-by: the join's own shuffle is
      // the materialization barrier the range sort's bounds-sampling
      // job re-reads, so a persist here buys nothing and cost ~0.5 s
      // inside the timed window at sf0.1 (0.43 s without it vs ~0.9 s
      // with it, isolated fresh-JVM ×3).
      t.customer
        .join(t.orders, col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          dbl(coalesce(sum(spCents).cast(DecimalType(38, 0)), lit(0)) / lit(100L))
            .as("total_spent"))
        .orderBy(col("c_custkey"))
    },

    // ------------------------------------------------------------------
    // q14 — anti join (NOT EXISTS): customers with no URGENT order.
    QueryDef.sql(
      "q14_no_urgent_orders",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.join(
        t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey"))
    },

    // ------------------------------------------------------------------
    // q15 — set ops (§2.8 extension): UNION-distinct then EXCEPT.
    QueryDef.sql(
      "q15_setops_nations",
      """SELECT k FROM (
        |  SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
        |  UNION
        |  SELECT DISTINCT s_nationkey AS k FROM supplier
        |  EXCEPT
        |  SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 2)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val a = t.customer.filter(col("c_acctbal") > 9000).select(col("c_nationkey").as("k")).distinct()
      val b = t.supplier.select(col("s_nationkey").as("k")).distinct()
      val c = t.nation.filter(col("n_regionkey") === 2).select(col("n_nationkey").as("k"))
      a.union(b).distinct().except(c).orderBy(col("k"))
    },

    // ------------------------------------------------------------------
    // q16 — rollup / grouping sets (beyond the reference's surface).
    QueryDef.sql(
      "q16_rollup_order_status",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("o_totalprice")))).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // ------------------------------------------------------------------
    // q17 — join of two aggregates + abs-diff argmax (J4 / reference Q6).
    QueryDef.sql(
      "q17_cust_supp_imbalance",
      """WITH cu AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
        |su AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
        |SELECT n_name, n_cust, n_supp, ABS(n_cust - n_supp) AS diff
        |FROM cu JOIN su ON cu.k = su.k JOIN nation ON n_nationkey = cu.k
        |ORDER BY diff DESC, n_name
        |LIMIT 3""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val cu = t.customer.groupBy(col("c_nationkey").as("k")).agg(count(lit(1)).as("n_cust"))
      val su = t.supplier.groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
      cu.join(su, col("k") === col("sk"))
        .join(broadcast(t.nation), col("n_nationkey") === col("k"))
        .select(col("n_name"), col("n_cust"), col("n_supp"),
          abs(col("n_cust") - col("n_supp")).as("diff"))
        .orderBy(col("diff").desc, col("n_name"))
        .limit(3)
    },

    // ------------------------------------------------------------------
    // q18 — time-bucketed aggregation (date_trunc month).
    QueryDef.sql(
      "q18_monthly_orders",
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"), dbl(sum(dec2(col("o_totalprice")))).as("total"))
        .orderBy(col("month"))
    },

    // ------------------------------------------------------------------
    // q19 — haversine distance (U2 as a native column expression, no
    // UDF) over coordinates derived with exact integer arithmetic.
    // Final cast to FLOAT absorbs 1-ulp libm/JVM trig differences.
    QueryDef.sql(
      "q19_haversine",
      """SELECT c_custkey,
        |  CAST(2 * 6371.0 * ASIN(SQRT(
        |    POW(SIN(RADIANS(CAST((c_nationkey * 13 % 120) - 60 AS DOUBLE) - CAST((c_custkey * 7 % 180) - 90 AS DOUBLE)) / 2), 2)
        |    + COS(RADIANS(CAST((c_custkey * 7 % 180) - 90 AS DOUBLE)))
        |      * COS(RADIANS(CAST((c_nationkey * 13 % 120) - 60 AS DOUBLE)))
        |      * POW(SIN(RADIANS(CAST((c_nationkey * 17 % 360) - 180 AS DOUBLE) - CAST((c_custkey * 11 % 360) - 180 AS DOUBLE)) / 2), 2)
        |  )) AS REAL) AS dist_km
        |FROM customer
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val lat1 = ((col("c_custkey") * 7 % 180) - 90).cast(DoubleType)
      val lon1 = ((col("c_custkey") * 11 % 360) - 180).cast(DoubleType)
      val lat2 = ((col("c_nationkey") * 13 % 120) - 60).cast(DoubleType)
      val lon2 = ((col("c_nationkey") * 17 % 360) - 180).cast(DoubleType)
      Tables(s, dir).customer
        .select(col("c_custkey"),
          graft.functions.Geo.haversineKm(lat1, lon1, lat2, lon2).cast(FloatType).as("dist_km"))
        .orderBy(col("c_custkey"))
    }
  )
}
