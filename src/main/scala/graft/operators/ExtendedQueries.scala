package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second ring of relational coverage beyond the reference's surface:
  * distinct aggregation, pivot via conditional aggregation, exact
  * moment-based stddev, JSON field extraction, string functions,
  * scalar subqueries, and bucketed histograms — each with a DuckDB
  * oracle under the same determinism contract as
  * [[RelationalQueries]].
  */
object ExtendedQueries {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
  private def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q35 — distinct aggregation (expands to a two-phase aggregate).
    QueryDef.sql(
      "q35_distinct_agg",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_returnflag"))
    },

    // ------------------------------------------------------------------
    // q36 — pivot as conditional aggregation (wide status × priority).
    QueryDef.sql(
      "q36_pivot_status_priority",
      """SELECT o_orderstatus,
        |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
        |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
        |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium,
        |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS not_specified,
        |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      def cnt(p: String) = count(when(col("o_orderpriority") === p, 1))
      Tables(s, dir).orders
        .groupBy(col("o_orderstatus"))
        .agg(
          cnt("1-URGENT").as("urgent"), cnt("2-HIGH").as("high"),
          cnt("3-MEDIUM").as("medium"), cnt("4-NOT SPECIFIED").as("not_specified"),
          cnt("5-LOW").as("low"))
        .orderBy(col("o_orderstatus"))
    },

    // ------------------------------------------------------------------
    // q37 — sample stddev from exact decimal moments: sums are exact
    // decimals, so sqrt((n·Σx² − (Σx)²)/(n·(n−1))) is one deterministic
    // double computation — no order-dependent float accumulation.
    QueryDef.sql(
      "q37_price_stddev",
      """SELECT l_returnflag,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  CAST(SQRT((COUNT(*) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE))
        |       / (COUNT(*) * (COUNT(*) - 1))) AS REAL) AS stddev_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // moments are exact decimals, but the a·b − c·d combination is
      // 1-ulp engine-sensitive in DOUBLE (fused multiply-add /
      // association differences — observed at sf0.001); the final
      // REAL cast absorbs it, same contract as the trig/vector math.
      // Accumulation is the q01 scaled-long fast path finished for
      // MOMENTS (r13): prices become exact cent longs (CENT-
      // REPRESENTABLE inputs, the q85 contract), the squared moment
      // yy = yc² ≤ 1.2e14 splits row-side into primitive (div, mod)
      // parts at 1e7 — sum(hi) ≤ 1.2e7/row and sum(lo) < 1e7/row both
      // wrap past ~7.7e11 rows per GROUP (≈ total 100 TB lineitem
      // even degenerate) — so every partial sum is a primitive long
      // in whole-stage codegen (the Decimal(38,0) sum buffers this
      // replaces were the measured 15×-vs-DuckDB floor at 100×), and
      // the parts recombine into ONE exact decimal per group before
      // the same double cast as the decimal form (bit-identical:
      // exact rational → one correctly-rounded cast).
      val yc = round(col("l_extendedprice") * 100).cast(LongType)
      val dec38 = DecimalType(38, 0)
      def unscale(sumCol: org.apache.spark.sql.Column, scale: Long) =
        dbl(sumCol.cast(dec38) / scale)
      def combine(hi: org.apache.spark.sql.Column,
          lo: org.apache.spark.sql.Column, m: Long) =
        sum(hi).cast(dec38) * m + sum(lo).cast(dec38)
      Tables(s, dir).lineitem
        .select(col("l_returnflag"), yc.as("yc"), (yc * yc).as("yy"))
        .select(col("l_returnflag"), col("yc"),
          expr("yy div 10000000").as("yyh"), (col("yy") % 10000000L).as("yyl"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          unscale(sum(col("yc")), 100L).as("sum_price"),
          sqrt((count(lit(1)) * unscale(combine(col("yyh"), col("yyl"), 10000000L), 10000L)
            - unscale(sum(col("yc")), 100L) * unscale(sum(col("yc")), 100L))
            / (count(lit(1)) * (count(lit(1)) - 1))).cast(FloatType).as("stddev_price"))
        .orderBy(col("l_returnflag"))
    },

    // ------------------------------------------------------------------
    // q38 — JSON field extraction from the events props column.
    QueryDef.sql(
      "q38_json_extract",
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(k).as("sum_k"), min(k).as("min_k"), max(k).as("max_k"))
        .orderBy(col("event_type"))
    },

    // ------------------------------------------------------------------
    // q39 — string functions: upper/substr/concat/LIKE filter chain.
    QueryDef.sql(
      "q39_string_funcs",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_uc,
        |  substr(p_name, 1, 8) AS name_prefix,
        |  p_brand || ':' || p_type AS brand_type,
        |  CAST(length(p_name) AS INTEGER) AS name_len
        |FROM part
        |WHERE p_type LIKE '%ECO%' OR p_name LIKE 'red%'
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).part
        .filter(col("p_type").like("%ECO%") || col("p_name").like("red%"))
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          length(col("p_name")).as("name_len"))
        .orderBy(col("p_partkey"))
    },

    // ------------------------------------------------------------------
    // q40 — scalar subquery + bucketed histogram: order-value decile
    // buckets relative to the global max.
    QueryDef.sql(
      "q40_price_buckets",
      """SELECT CAST(floor(o_totalprice * 10 / (SELECT MAX(o_totalprice) + 0.01 FROM orders)) AS INTEGER) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // scalar subquery as a broadcast single-row cross join (keeps the
      // whole plan lazy/distributed — no driver-side action)
      val orders = Tables(s, dir).orders
      val mx = orders.agg((max(col("o_totalprice")) + 0.01).as("mx"))
      orders.crossJoin(broadcast(mx))
        .groupBy(floor(col("o_totalprice") * 10 / col("mx")).cast(IntegerType).as("bucket"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("o_totalprice")))).as("total"))
        .orderBy(col("bucket"))
    },

    // ------------------------------------------------------------------
    // q41 — exact median (type-2 / midpoint of the two middle order
    // statistics) computed structurally with window row numbers — no
    // engine-specific percentile interpolation semantics involved.
    QueryDef.sql(
      "q41_exact_median",
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS median_price
        |FROM ranked
        |WHERE 2 * rn = n OR 2 * rn = n + 1 OR 2 * rn = n + 2
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // the oracle's rn-filter solves to: even n → ranks {n/2, n/2+1},
      // odd n → {(n+1)/2}; the adaptive rank selection surfaces
      // exactly those values — sort-selection (one balanced exchange,
      // no per-group single-task window) while the table fits the
      // measured crossover, the distinct-value-domain form (shuffle
      // bounded by distinct prices, ~flat under replica scaling)
      // above it; identical values either side (see
      // DistributedRank.valuesAtRanksAdaptive).
      val li = Tables(s, dir).lineitem
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
      DistributedRank.valuesAtRanksAdaptive(li, Seq("l_returnflag"),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"),
        n => if (n % 2 == 0) Seq(n / 2, n / 2 + 1) else Seq((n + 1) / 2), "rn")
        .groupBy(col("l_returnflag"))
        .agg((dbl(sum(dec2(col("l_extendedprice")))) / count(lit(1))).as("median_price"))
        .orderBy(col("l_returnflag"))
    },

    // ------------------------------------------------------------------
    // q80 — SCD2 dimension-history build: collapse a fact stream into
    // slowly-changing-dimension rows. Per customer, each distinct
    // order date opens a version: [effective_from, effective_to) via
    // lead(), cumulative orders/spend to date (decimal-exact running
    // sums, cast to double at the end), is_current on the open row.
    // This is the standard incremental-pipeline merge shape (the
    // MERGE-free expression of it: history rebuild is a window over
    // the key, no driver loop, one shuffle on the dimension key).
    QueryDef.sql(
      "q80_scd2_intervals",
      """WITH daily AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT o_custkey, o_orderdate AS effective_from,
        |  COALESCE(lead(o_orderdate) OVER w, DATE '9999-12-31') AS effective_to,
        |  CAST(SUM(n_orders) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS orders_to_date,
        |  CAST(SUM(spend) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS spend_to_date,
        |  CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
        |FROM daily
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
        |ORDER BY o_custkey, effective_from""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // one shuffle total: hash-partitioning on o_custkey alone
      // satisfies the (o_custkey, o_orderdate) groupBy clustering AND
      // the window's partitioning, so the daily rollup and the
      // history windows all run inside the same exchange.
      val daily = Tables(s, dir).orders.repartition(col("o_custkey"))
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(
        col("o_custkey"),
        col("o_orderdate").as("effective_from"),
        // open rows carry the standard SCD2 high-date sentinel (also
        // keeps the output null-free for stable cross-engine hashing)
        coalesce(lead(col("o_orderdate"), 1).over(w),
          lit("9999-12-31").cast(DateType)).as("effective_to"),
        sum(col("n_orders")).over(cum).as("orders_to_date"),
        dbl(sum(col("spend")).over(cum)).as("spend_to_date"),
        lead(col("o_orderdate"), 1).over(w).isNull.cast(IntegerType).as("is_current"))
        .orderBy(col("o_custkey"), col("effective_from"))
    },

    // ------------------------------------------------------------------
    // q81 — column profiler: the data-quality primitive a pipeline
    // runs before training (null counts, cardinality, min/max).
    // Per-column pruned scan + COUNT-TABLE two-level aggregate — the
    // form the r13 A/B at 100× picked (ProbeQ81, a probe main last
    // present at commit 9aaeeb6: count-table
    // 3.18 s vs 9.61 for the r8 mixed-distinct aggs, whose single
    // countDistinct alongside plain aggs still makes the planner
    // Expand ×2, and 3.63 for the one-scan typed-slot explode that
    // briefly replaced it — a NEGATIVE result: fusing the three scans
    // shuffles the union of distinct values as wide variant rows and
    // loses to three pruned columnar scans that read no more bytes
    // than one 3-column scan). groupBy(col).count keeps the whole
    // pass in whole-stage codegen and ships only per-partition
    // distinct values; the profile row folds from the count table
    // (nulls ride along as the null-key group).
    // Stringly min/max only for types whose string form is
    // engine-identical (ints, dates, strings — no doubles).
    // Empty-fact behavior matches the oracle since the r13 per-column
    // rewrite: each column's profile folds through a GLOBAL (no
    // groupBy) aggregate over its count table, which emits one row
    // per column even over zero input — same as the oracle's
    // scalar-agg legs.
    QueryDef.sql(
      "q81_profile_columns",
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS column_name,
        |    CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_nulls,
        |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |    CAST(MIN(l_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(l_orderkey) AS VARCHAR) AS max_s
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag',
        |    CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
        |    CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
        |    MIN(l_returnflag), MAX(l_returnflag)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate',
        |    CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
        |    CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
        |    CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
        |  FROM lineitem)
        |ORDER BY column_name""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir).lineitem
      def profile(c: String) =
        li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .agg(
            coalesce(sum(when(col(c).isNull, col("cnt"))), lit(0L)).as("n_nulls"),
            count(when(col(c).isNotNull, 1)).as("n_distinct"),
            min(col(c)).cast(StringType).as("min_s"),
            max(col(c)).cast(StringType).as("max_s"))
          .select(lit(c).as("column_name"), col("n_nulls"), col("n_distinct"),
            col("min_s"), col("max_s"))
      profile("l_orderkey")
        .unionByName(profile("l_returnflag"))
        .unionByName(profile("l_shipdate"))
        .orderBy(col("column_name"))
    },

    // ------------------------------------------------------------------
    // q98 — fuzzy entity resolution on the part-name catalog: the
    // record-linkage primitive (matching "cold anvil" ↔ "old anvil"
    // style name drift) as blocked pairwise edit distance. Shape for
    // scale: (1) resolve on the DISTINCT name catalog, never the fact
    // rows — names dedup by orders of magnitude first; (2) candidate
    // pairs come from a BLOCKING equi-join (here the head noun; in
    // production a normalized key / phonetic code / length bucket),
    // never an all-pairs cross join; (3) the edit distance only runs
    // within blocks, and Spark's `levenshtein` is codegen'd. Both
    // engines implement classic unit-cost Levenshtein, so the oracle
    // hash-matches exactly.
    QueryDef.sql(
      "q98_fuzzy_entity_match",
      """WITH n AS (SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY p_name),
        |k AS (SELECT p_name, n_rows, string_split(p_name, ' ')[-1] AS blk FROM n)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |  CAST(a.n_rows AS BIGINT) AS rows_a, CAST(b.n_rows AS BIGINT) AS rows_b
        |FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
      val n = Tables(s, dir).part
        .groupBy(col("p_name")).agg(count(lit(1)).as("n_rows"))
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      val a = n.select(col("blk"), col("p_name").as("name_a"), col("n_rows").as("rows_a"))
      val b = n.select(col("blk"), col("p_name").as("name_b"), col("n_rows").as("rows_b"))
      a.join(b, "blk")
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast(IntegerType))
        .filter(col("dist") <= 2)
        .select(col("name_a"), col("name_b"), col("dist"), col("rows_a"), col("rows_b"))
        .orderBy(col("name_a"), col("name_b"))
    },

    // ------------------------------------------------------------------
    // q108 — referential-integrity audit: orphan counts for the three
    // core fact→dim relationships, the constraint check a warehouse
    // runs after every load (lakes don't enforce foreign keys — you
    // audit them). The child PRE-AGGREGATES to (key, multiplicity)
    // before the anti join (r13): the orphan count needs only per-key
    // row counts, so the map-side combine collapses the fact stream
    // (60M lineitem rows → 15M orderkeys at 100×) and the agg's hash
    // exchange already satisfies the join's required distribution —
    // the child shuffles ONCE, collapsed. The parent side ships its
    // RAW key column: an anti join keeps a left row iff NO match
    // exists, so right-side duplicates are irrelevant and the old
    // distinct() was a wasted exchange+dedup. Dim-sized parents
    // broadcast into a map-side anti; the fact-sized parent (orders)
    // shuffles unique keys once. NULL child keys form the
    // null-key group, which an anti join always keeps (null matches
    // nothing) — the same NOT EXISTS semantics on both engines.
    // NEGATIVE RESULT (r13, kept for the record): the q99-style bloom
    // prefilter prescribed for this query measured 4.9 → 7.6-10.2 s
    // at 100× — the filter's one-sided error only saves keys ABSENT
    // from the parent, and an RI-clean corpus passes it everywhere,
    // so the "survivor verify" was the whole fact plus the bloom
    // build; a prefilter pays only on orphan-heavy data, the case an
    // integrity audit cannot assume. RefIntegritySpec pins the
    // collapsed form against orphans + NULLs on both legs.
    // The plain parquet layout pays the two collapsed exchanges by
    // construction (~4 s at 100×); co-bucketing lineitem⋈orders on the
    // orderkey removed both (2.75 s calm, ISOLATED100_r14_bucketed).
    QueryDef.sql(
      "q108_ref_integrity",
      """SELECT * FROM (
        |  SELECT 'events.user_id->customer' AS rel,
        |    (SELECT COUNT(*) FROM events) AS n_rows,
        |    (SELECT COUNT(*) FROM events e WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphans
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |ORDER BY rel""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      def audit(name: String, child: org.apache.spark.sql.DataFrame, ck: String,
          parent: org.apache.spark.sql.DataFrame, pk: String) = {
        val childKeys = graft.CacheScope.scoped(
          child.groupBy(col(ck).as("k")).agg(count(lit(1)).as("c")))
        val total = childKeys.agg(coalesce(sum(col("c")), lit(0L)).as("n_rows"))
        val orphans = childKeys
          .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_orphans"))
        total.crossJoin(orphans)
          .select(lit(name).as("rel"), col("n_rows"), col("n_orphans"))
      }
      audit("events.user_id->customer", t.events, "user_id", t.customer, "c_custkey")
        .unionByName(audit("lineitem.l_orderkey->orders",
          t.lineitem, "l_orderkey", t.orders, "o_orderkey"))
        .unionByName(audit("orders.o_custkey->customer",
          t.orders, "o_custkey", t.customer, "c_custkey"))
        .orderBy(col("rel"))
    }
  )
}
