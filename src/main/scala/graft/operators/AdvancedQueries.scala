package graft.operators

import graft.CacheScope

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Operators beyond plain relational algebra: as-of join (oracled via
  * DuckDB's native ASOF JOIN) and sketch-based approximate distinct
  * (rows-only check — sketches differ across engines by design; the
  * accuracy contract is tested in ScalaTest against exact counts).
  */
object AdvancedQueries {

  /** Cell-size bound above which q102's SemDeDup compares within
    * (cell, LSH sub-bucket) instead of the whole cell — sized so it
    * cannot fire at certification scales (measured max cell: 42 at
    * sf0.01, 148 at sf0.1) while bounding the in-cell quadratic at
    * replica scale (max cell 17,687 at 100× = 1.31e9 pairs uncapped).
    * Mirrored literally in the q102 oracle SQL.
    */
  private[operators] val SemDedupCellCap = 256

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q42 — left as-of join: per event, the most recent order (by
    // order date) of the matching customer. Right side pre-aggregated
    // unique per (key, time) so tie semantics are explicit.
    QueryDef.sql(
      "q42_asof_join",
      """WITH o AS (
        |  SELECT o_custkey AS k, o_orderdate AS t, MAX(o_orderkey) AS okey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, o.okey AS asof_okey, o.t AS asof_t
        |FROM events e ASOF LEFT JOIN o ON e.user_id = o.k AND o.t <= e.ts
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val o = t.orders.groupBy(col("o_custkey").as("k"), col("o_orderdate").as("t"))
        .agg(max(col("o_orderkey")).as("okey"))
      val e = t.events.select(col("event_id"), col("user_id"), col("ts"))
      AsOfJoin.leftAsOf(e, o,
        leftKey = "user_id", rightKey = "k",
        leftTime = "ts", rightTime = "t",
        payload = Seq("okey", "t"))
        .select(col("event_id"), col("user_id"),
          col("asof_okey"), col("asof_t"))
        .orderBy(col("event_id"))
    },

    // ------------------------------------------------------------------
    // q43 — HLL-sketch approximate distinct, made ORACLE-ABLE as a
    // self-judging gate (the q89 pattern): the sketch VALUE is
    // engine-specific, but its accuracy contract is not — Spark
    // re-checks |approx − exact| / exact ≤ 5% (five relative standard
    // deviations at rsd = 0.01; measured error here is 0.65%) and
    // emits the boolean, the oracle emits literal TRUE over the same
    // exact counts. A sketch regression breaks the hash. Exact
    // companion: q62.
    QueryDef.sql(
      "q43_approx_distinct",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  TRUE AS sketch_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // ONE fact pass for sketch AND exact (r12 — the r11 form ran two
      // full scans joined on the group key, and the single-agg mix
      // would force Expand): aggregate to the distinct (flag, partkey)
      // count table first (map-side-combined — shuffle bounded by
      // distinct keys, replica-invariant), then every output derives
      // from that tiny table in one more aggregate: exact_parts =
      // its non-null-key row count, n_lines = sum of its counts, and
      // the HLL runs over the DEDUPED keys — registers are max-merges,
      // duplicate-idempotent, so the estimate is bit-identical to
      // sketching the raw rows.
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_partkey"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(col("l_partkey")).as("exact_parts"),
          sum(col("__cnt")).as("n_lines"),
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"), col("n_lines"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("sketch_ok"))
        .orderBy(col("l_returnflag"))
    },

    // ------------------------------------------------------------------
    // q62 — q43's oracled companion: the exact distinct count the
    // sketch approximates, hash-checked against DuckDB. Two-phase
    // distinct aggregation (partial per-key dedup map-side); at scale
    // the sketch path (q43) replaces this when exactness isn't needed.
    QueryDef.sql(
      "q62_distinct_exact",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_returnflag"))
    },

    // ------------------------------------------------------------------
    // q54 — ANN scale path: IVF cell assignment + top-5 search over
    // each query's 2 nearest cells (nprobe=2 lifts recall at cell
    // boundaries; recall vs the brute-force q30 baseline is asserted
    // in SimilaritySpec). Approximate vs brute force, but fully
    // DETERMINISTIC given the data (centroids are the k lowest-id
    // vectors, every cosine is float32-cast before ranking) — so the
    // whole index build + probe + search pipeline is oracle-expressible
    // and hash-checked against DuckDB.
    QueryDef.sql(
      "q54_ann_ivf",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cid AS cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${SimilarityQueries.cosSql("e.embedding", "c.cv")} DESC, c.cid) AS arn
         |    FROM embeddings e CROSS JOIN c) WHERE arn = 1),
         |p AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.qid, c.cid AS cell, ROW_NUMBER() OVER (PARTITION BY q.qid
         |      ORDER BY ${SimilarityQueries.cosSql("q.qv", "c.cv")} DESC, c.cid) AS prn
         |    FROM q CROSS JOIN c) WHERE prn <= 2),
         |s AS (
         |  SELECT p.qid, a.vec_id AS nid,
         |    ${SimilarityQueries.cosSql("q2.qv", "e2.embedding")} AS cos
         |  FROM p JOIN asg a USING (cell)
         |  JOIN embeddings e2 ON e2.vec_id = a.vec_id
         |  JOIN q q2 ON q2.qid = p.qid
         |  WHERE p.qid <> a.vec_id)
         |SELECT qid, nid, cos, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM s)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      // ONE cached sliver scan feeds both model roles (r9, was 3
      // separate sliver scans): centroids (vec_id<16, twice — assign +
      // probe sides) and the 1% query set all come from a single
      // filter-pruned pass over the table; only the full assignment
      // scan reads the corpus. At 100 TB two extra passes over a 60 TB
      // table are two extra passes, pruned or not.
      val sliver = graft.CacheScope.scoped(
        e.filter(col("vec_id") < 16 || col("vec_id") % 100 === 0))
      val cents = sliver.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val queries = sliver.filter(col("vec_id") % 100 === 0)
      val assigned = SimilarityOps.ivfAssign(e, cents)
      SimilarityOps.ivfSearch(assigned, queries, 5, cents, nprobe = 2)
        .orderBy(col("qid"), col("rn"))
    },

    // ------------------------------------------------------------------
    // q60 — multimodal featurize end-to-end with a REAL decode: the
    // corpus is wrapped as structurally valid PNG payloads (signature,
    // big-endian IHDR with width = text bytes / height = doc_id mod
    // 240 + 1, CRC-32, then an IDAT chunk carrying the text —
    // [[graft.multimodal.MultimodalOps.asPngMedia]], built from native
    // column expressions), and the partition-local featurize PARSES
    // the headers back ([[MultimodalOps.decodePng]]: signature check,
    // chunk walk, CRC validation). The oracle recomputes the planted
    // width/height/pixel values straight from the table, so the hash
    // only matches if every parsed field — offsets, endianness, CRC —
    // round-trips exactly; features are cast back to integer types
    // before aggregation so sums are order-independent.
    QueryDef.sql(
      "q60_multimodal_features",
      """WITH d AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS w,
        |    CAST(doc_id % 240 + 1 AS INTEGER) AS h
        |  FROM documents)
        |SELECT CAST(w // 100 AS INTEGER) AS len_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(w) AS REAL) AS min_w, CAST(MAX(w) AS REAL) AS max_w,
        |  CAST(MIN(h) AS REAL) AS min_h, CAST(MAX(h) AS REAL) AS max_h,
        |  CAST(SUM(CAST(w AS BIGINT) * h) AS BIGINT) AS sum_pixels,
        |  CAST(COUNT(*) AS BIGINT) AS n_png
        |FROM d GROUP BY len_bucket ORDER BY len_bucket""".stripMargin) { (s, dir) =>
      val media = graft.multimodal.MultimodalOps.asPngMedia(Tables(s, dir).documents)
      val feats = graft.multimodal.MultimodalOps.featurize(s, media)
      feats.toDF()
        .select(
          element_at(col("features"), 1).as("w"),
          element_at(col("features"), 2).as("h"),
          element_at(col("features"), 5).cast("long").as("px"),
          element_at(col("features"), 6).cast("long").as("is_png"))
        .groupBy((col("w") / 100).cast("int").as("len_bucket"))
        .agg(
          count(lit(1)).as("n"),
          min(col("w")).as("min_w"), max(col("w")).as("max_w"),
          min(col("h")).as("min_h"), max(col("h")).as("max_h"),
          sum(col("px")).as("sum_pixels"),
          // every payload must have parsed as PNG with a valid CRC —
          // a fallback-path row would make n_png < n and break the hash
          sum(col("is_png")).as("n_png"))
        .orderBy(col("len_bucket"))
    },

    // ------------------------------------------------------------------
    // q61 — embedding near-dup at scale: random-hyperplane LSH buckets
    // → intra-bucket cosine verification (≥ 0.35, the corpus' top
    // tail). The O(n²) form is q31; this is its bucketed scale path.
    // The hyperplanes are fixed floats (no RNG), so the oracle embeds
    // the exact same 8×64 float32 constants as REAL[] literals and
    // reproduces bucket assignment AND verification bit-for-bit —
    // the hash check pins that bucketing changed candidate generation
    // only, never pair semantics. Recall vs the exhaustive q31 pairs
    // is asserted in SimilaritySpec.
    QueryDef.sql(
      "q61_embedding_neardup_lsh", {
        val planes = (0 until 8).map { j =>
          val arr = SimilarityOps.hyperplane(j).mkString("[", ",", "]")
          s"($j, CAST($arr AS REAL[]))"
        }.mkString(",\n  ")
        s"""WITH planes(j, p) AS (VALUES
           |  $planes),
           |b AS (
           |  SELECT e.vec_id,
           |    CAST(SUM(CASE WHEN ${SimilarityQueries.dotSql("e.embedding", "pl.p")} > 0
           |      THEN CAST(1 AS BIGINT) << pl.j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bkt
           |  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
           |s AS (SELECT b.vec_id, b.bkt, e.embedding FROM b JOIN embeddings e USING (vec_id))
           |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           |  ${SimilarityQueries.cosSql("a.embedding", "c.embedding")} AS cos
           |FROM s a JOIN s c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
           |WHERE ${SimilarityQueries.cosSql("a.embedding", "c.embedding")} >= 0.35
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, dir) =>
      SimilarityOps.lshNearDupPairs(Tables(s, dir).embeddings, bits = 8, minCos = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ------------------------------------------------------------------
    // q82 — frame sampling over binary payloads: n evenly-spaced
    // fixed-width byte slices (the video-keyframe access pattern),
    // fingerprinted per frame. The oracle re-derives each slice from
    // the hex encoding of the same payload (byte slice ≡ aligned hex
    // substring), so slice positions, widths, and content are all
    // hash-checked. Pure projection + generator — no shuffle of the
    // payload; the explode emits fixed-width frames, not the blob.
    QueryDef.sql(
      "q82_frame_sample",
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS blen FROM documents),
        |f AS (
        |  SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
        |    substr(h, 2 * ((i * greatest(blen - 16, 1)) // 4) + 1, 32) AS fh
        |  FROM m CROSS JOIN (SELECT unnest(range(0, 4)) AS i))
        |SELECT media_id, frame_idx, md5(fh) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      val media = graft.multimodal.MultimodalOps.asMedia(Tables(s, dir).documents)
      media.select(col("media_id"),
        posexplode(graft.multimodal.MultimodalOps.frameSample(col("payload"), 4, 16))
          .as(Seq("frame_idx", "frame")))
        .select(col("media_id"), col("frame_idx"),
          md5(hex(col("frame")).cast(org.apache.spark.sql.types.BinaryType)).as("frame_md5"))
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // ------------------------------------------------------------------
    // q33 — the salted skew join, driver-checked for semantic
    // transparency: l_linenumber has ~7 values (each ~1/7 of the fact
    // table — the classic straggler key), the dim side is replicated
    // once per salt, and the oracle computes the PLAIN join — the hash
    // can only match if salting changes nothing but the partitioning.
    QueryDef.sql(
      "q33_salted_skew_join",
      """WITH dim AS (SELECT DISTINCT l_linenumber,
        |  'L' || CAST(l_linenumber AS VARCHAR) AS label FROM lineitem)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN dim USING (l_linenumber)
        |GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir).lineitem
      val dim = li.select(col("l_linenumber")).distinct()
        .withColumn("label", concat(lit("L"), col("l_linenumber").cast("string")))
      // scaled-long fast path (see q01): cents as primitive longs
      // through the salted join; the sum buffer is Decimal(38,0) —
      // one label can hold 1/7 of lineitem, and sum(long) over
      // ~1.1e7-cent rows has <10× headroom at 100 TB (ScaledLongSpec)
      SkewOps.saltedJoin(li, dim, key = "l_linenumber",
        discriminator = "l_orderkey", salts = 8)
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          (sum(round(col("l_extendedprice") * 100).cast("long")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))) / 100)
            .cast("double").as("revenue"))
        .orderBy(col("label"))
    },

    // ------------------------------------------------------------------
    // q67 — time-range self join through the bucketed RangeJoin
    // operator: same-user event pairs within 15 minutes. The oracle is
    // the plain inequality join (fine at sf0.01); the engine side must
    // produce identical pairs from the gap-bucketed equi-join —
    // completeness of the bucketing is exactly what the hash check
    // pins. Plan-guarded against nested-loop fallback in
    // PlanQualitySpec.
    QueryDef.sql(
      "q67_event_range_join",
      """SELECT a.event_id AS event_a, b.event_id AS event_b,
        |  CAST(abs(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_id < b.event_id
        |  AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 900000000
        |ORDER BY event_a, event_b""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events.select(col("event_id"), col("user_id"), col("ts"))
      val a = e.select(col("event_id").as("event_a"), col("user_id"), col("ts").as("ts_a"))
      val b = e.select(col("event_id").as("event_b"), col("user_id"), col("ts").as("ts_b"))
      val proj = (j: org.apache.spark.sql.DataFrame) => j
        .filter(col("event_a") < col("event_b"))
        .select(col("event_a"), col("event_b"),
          abs(unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_us"))
      // broadcast-ordered tier (r12): the output ORDER BY was ~91 s of
      // the 95 s 100× query — a range exchange of 517M expanded rows.
      // When the compact b side is broadcast-sized, range-partition
      // the SOURCE a rows on the leading output key, keep that
      // partitioning through the broadcast join (streamed side), and
      // the global order is partition order + a within-partition
      // sort — the q48 exchange-before-expansion pattern; equal
      // event_a keys land in one range partition, so partition
      // concatenation under the local (event_a, event_b) sort IS the
      // ORDER BY, byte-identical. Above the broadcast bound the
      // shuffled bucket join + global sort remains the scale tier.
      if (b.queryExecution.optimizedPlan.stats.sizeInBytes
          <= RangeJoin.broadcastStatsMaxBytes(s))
        // 8× over-partitioned source exchange: the join fans each
        // source row out ~50× at 100× density, so default-partition
        // local sorts would hold ~16M wide rows each — measured 21 GB
        // of sort spill. 8× more (tiny) source partitions keep every
        // post-join local sort in task memory; the exchange itself
        // moves only the 10M source rows either way.
        proj(RangeJoin.withinGapBroadcast(
            a.repartitionByRange(
              8 * s.sessionState.conf.numShufflePartitions, col("event_a")), b,
            Seq("user_id"), "ts_a", "ts_b", gapMicros = 900000000L))
          .sortWithinPartitions(col("event_a"), col("event_b"))
      else
        proj(RangeJoin.withinGap(a, b, Seq("user_id"), "ts_a", "ts_b",
            gapMicros = 900000000L))
          .orderBy(col("event_a"), col("event_b"))
    },

    // ------------------------------------------------------------------
    // q68 — the typed TopKByCount Aggregator as a driver-checked
    // operator: exact top-3 tokens per language. The Aggregator keeps
    // per-partition count maps (map-side partial agg, mergeable) and
    // prunes at finish with the (count desc, token asc) tiebreak the
    // oracle's window reproduces.
    QueryDef.sql(
      "q68_topk_per_group",
      """WITH tok AS (SELECT lang, unnest(string_split(text,' ')) AS token FROM documents),
        |counts AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY lang ORDER BY n DESC, token) AS rk FROM counts)
        |SELECT lang, CAST(rk AS INTEGER) AS rk, token, n
        |FROM ranked WHERE rk <= 3 ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val pairs = Tables(s, dir).documentsSpread
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .as[(String, String)]
      pairs.groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.TopKByCount(3).toColumn.name("topk"))
        .toDF("lang", "topk")
        .select(col("lang"), posexplode(col("topk")).as(Seq("pos", "tc")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
          col("tc._1").as("token"), col("tc._2").as("n"))
        .orderBy(col("lang"), col("rk"))
    },

    // ------------------------------------------------------------------
    // q55 — GROUPING SETS ((rf), (ls), ()) over lineitem, with the
    // SQL's empty-input row for the () set.
    QueryDef.sql(
      "q55_grouping_sets",
      """SELECT COALESCE(l_returnflag,'ALL') AS rf, COALESCE(l_linestatus,'ALL') AS ls,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
      // Roll the sets up from the FINEST common grouping instead of
      // letting GROUPING SETS plan an Expand (×|sets| on every fact
      // row before the shuffle): one map-side-combined aggregate to
      // the (rf, ls) table — single-digit rows, persisted so the fact
      // is scanned once — then each set aggregates that table (COUNT
      // adds; SUM of decimal partial sums is the same exact decimal,
      // and the decimal→double cast is BigDecimal.doubleValue, so the
      // double is bit-identical). The table is one partition, so the
      // sets' aggregates and the final sort need no further exchange.
      // One lazy plan: building it runs no job. The () set is a global
      // aggregate, so it keeps its one row on empty input, which a
      // grouped GROUPING SETS aggregate drops. Data-null group values
      // keep grouping-set semantics: they become 'ALL' within their
      // set exactly like the SQL's COALESCE.
      import org.apache.spark.sql.types._
      val base = CacheScope.scoped(Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("qd"))
        .coalesce(1))
      def set(rf: Option[String], ls: Option[String]) = {
        def label(key: Option[String]) =
          key.fold(lit("ALL"))(k => coalesce(col(k), lit("ALL")))
        base.groupBy((rf ++ ls).toSeq.map(col): _*)
          .agg(coalesce(sum(col("n")), lit(0L)).as("n"), sum(col("qd")).as("qd"))
          .select(label(rf).as("rf"), label(ls).as("ls"), col("n"),
            col("qd").cast(DoubleType).as("qty"))
      }
      set(Some("l_returnflag"), None)
        .unionByName(set(None, Some("l_linestatus")))
        .unionByName(set(None, None))
        .coalesce(1)
        .orderBy(col("rf"), col("ls"))
    },

    // ------------------------------------------------------------------
    // q90 — the CountMinTopK sketch as a driver-checked operator: the
    // bounded-memory twin of q68's exact TopKByCount — (1) CMS pass
    // with depth×width counters REGARDLESS of key cardinality emits an
    // oversampled candidate set (top-40 per language for a top-10
    // answer), (2) candidates-only exact recount + rank. The final
    // answer is EXACT whenever the candidates cover the true top-10 —
    // the heavy-hitter regime the sketch guarantees — so it
    // hash-matches the plain exact oracle; a recall failure breaks the
    // hash. ONE tokenization (r13; the two-pass form re-paid the
    // dominant split/explode cost for the recount, ScanBudgets pinned
    // documents×2): the token stream folds once into per-partition
    // (lang, token, partial count) rows — the map-side combine ANY
    // exact recount must produce, keyed by spark_partition_id so no
    // cross-partition merge happens — cached at vocabulary×partitions
    // size (≪ token stream; persisting the raw exploded stream
    // measured SLOWER than recomputing it, the q110 precedent). The
    // CMS then ingests the partials WEIGHTED (additive updates ⇒ the
    // merged sketch is bit-identical to row-by-row expansion, pinned
    // in CountMinTopKSpec) keeping its bounded-memory contract, and
    // the exact recount is a candidate semi-join + sum over the same
    // cached partials. For a truly unbounded vocabulary where even
    // per-partition partials exceed memory-per-task, the old
    // two-tokenize form (re-scan with a broadcast candidate filter)
    // remains the spill-free fallback shape — a deliberate
    // cache-vs-recompute trade, not a correctness tier.
    QueryDef.sql(
      "q90_cms_topk_tokens",
      """WITH tok AS (SELECT lang, unnest(string_split(text,' ')) AS token FROM documents),
        |counts AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY lang ORDER BY n DESC, token) AS rk FROM counts)
        |SELECT lang, CAST(rk AS INTEGER) AS rk, token, n
        |FROM ranked WHERE rk <= 10 ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val partials = graft.CacheScope.scoped(
        Tables(s, dir).documentsSpread
          .select(col("lang"), explode(split(col("text"), " ")).as("token"))
          .groupBy(spark_partition_id().as("__pid"), col("lang"), col("token"))
          .agg(count(lit(1)).as("pc")))
      val cand = partials.select(col("lang"), col("token"), col("pc"))
        .as[(String, String, Long)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(new graft.functions.CountMinTopKWeighted(40).toColumn.name("cand"))
        .toDF("lang", "cand")
        .select(col("lang"), explode(col("cand._1")).as("token"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n").desc, col("token"))
      partials.join(broadcast(cand), Seq("lang", "token"), "left_semi")
        .groupBy(col("lang"), col("token")).agg(sum(col("pc")).as("n"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("token"), col("n"))
        .orderBy(col("lang"), col("rk"))
    },

    // ------------------------------------------------------------------
    // q91 — connected components on a CHAIN-shaped graph (each
    // customer's orders linked consecutively by date): the worst case
    // for min-label propagation (rounds = chain length), run through
    // [[ConnectedComponents.run]] — driver union-find while the
    // contracted edge count is at most `MaxDriverEdges`, else the
    // small-star/large-star variant
    // whose round count is O(log n) regardless of diameter. The
    // oracle exploits that the chains are per-customer
    // by construction, so the transitive closure collapses to a
    // min-over-customer window — the generic graph algorithm must
    // agree with the closed form exactly.
    QueryDef.sql(
      "q91_order_chain_components",
      """SELECT o_orderkey AS node,
        |  MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS component
        |FROM orders
        |QUALIFY COUNT(*) OVER (PARTITION BY o_custkey) > 1
        |ORDER BY node""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val edges = Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("o_orderkey").as("a"), col("nxt").as("b"))
      ConnectedComponents.run(edges)
        .select(col("node"), col("label").as("component"))
        .orderBy(col("node"))
    },

    // ------------------------------------------------------------------
    // q111 — mergeable-sketch distinct counting: per-day HLL sketches
    // of active users (registers, not estimates — Spark's own
    // approx_count_distinct emits only the number) unioned into the
    // all-time distinct estimate WITHOUT rescanning facts — the
    // sketch twin of q109's exact partial-aggregate merge, and the
    // shape segment-overlap dashboards need (any date range = one
    // register-wise max over ~4 KB/day sketches). Hashing stays in
    // codegen'd SQL (xxhash64); the typed Aggregator only does
    // register bookkeeping. ORACLE-ABLE as a self-judging gate (the
    // q89 pattern): the estimates are engine-specific, but the
    // accuracy contract is not — every per-day estimate and the
    // union estimate must sit within 5% of the exact countDistinct
    // computed alongside (measured worst error here: 0.8%; HllSpec
    // additionally pins the BIT-EQUAL union identity
    // union(sketch(A),sketch(B)) == sketch(A ∪ B)). Spark emits the
    // bound check as a boolean, the oracle the matching literal.
    QueryDef.sql(
      "q111_hll_daily_union",
      """SELECT day, exact_users, TRUE AS est_ok FROM (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        |  FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
        |ORDER BY day""".stripMargin) { (s, dir) =>
      import s.implicits._
      // ONE events scan: everything below derives from the distinct
      // (day, user) table — the r7 scan audit found the previous form
      // read events four times (sketch pass, daily exact, global
      // exact, plus a union leg), each a full fact scan at 100 TB.
      // HLL registers are idempotent under duplicates, so sketching
      // the deduped table is bit-identical to sketching raw events;
      // the exact counts collapse to counts over the same table.
      // user_id IS NOT NULL up front: the oracle's count(DISTINCT ...)
      // ignores nulls, and without the filter the daily count(1) leg
      // would count a (day, NULL) row that the global countDistinct
      // leg excludes (latent today — the corpus has no null user_ids)
      val du = CacheScope.scopedIfLarge(Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .select(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("user_id")).distinct())
      val sketches = du.withColumn("h", xxhash64(col("user_id")))
        .select(col("day"), col("h")).as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.HllSketch().toColumn.name("sk"))
        .toDF("day", "sk")
      val exact = du.groupBy(col("day"))
        .agg(count(lit(1)).as("exact_users"))
      val daily = sketches.join(exact, "day")
        .as[(String, Array[Byte], Long)]
        .map { case (day, sk, ex) =>
          (day, math.round(graft.functions.HllSketch.estimate(sk)), ex) }
        .toDF("day", "est_users", "exact_users")
      val allSketch = sketches.as[(String, Array[Byte])]
        .groupByKey(_ => 0)
        .mapGroups((_, it) => it.map(_._2).reduce(graft.functions.HllSketch.union))
        .map(sk => ("ALL", math.round(graft.functions.HllSketch.estimate(sk))))
        .toDF("day", "est_users")
      val allExact = du.agg(countDistinct(col("user_id")).as("exact_users"))
      daily.unionByName(
          allSketch.crossJoin(allExact)
            .select(col("day"), col("est_users"), col("exact_users")))
        .select(col("day"), col("exact_users"),
          (abs(col("est_users") - col("exact_users")) <=
            col("exact_users") * 0.05).as("est_ok"))
        .orderBy(col("day"))
    },

    // ------------------------------------------------------------------
    // q101 — FIXED-POINT integer PageRank (5 rounds, damping 0.85) on
    // the symmetric order-chain graph of q91. Rank mass is a scaled
    // long (10^12 = one unit of rank), every division is integer
    // division, so each round is EXACTLY reproducible: long sums are
    // order-independent where double PageRank is partition-order
    // noise in the last ulp — this is how an iterative graph metric
    // becomes hash-checkable across engines (the oracle unrolls the
    // same five rounds as CTEs). Per round: one equi-join of ranks
    // with degrees (co-partitioned on node), one join onto edge
    // sources, one partial-aggregated sum onto destinations — two
    // hash-partitioned shuffles, no broadcast of anything
    // node-count-sized, so the round cost is linear in |E| at any
    // scale. Edges and degrees persist across rounds; for deep
    // iteration counts add localCheckpoint every ~10 rounds to
    // truncate lineage (the q69 components discipline).
    QueryDef.sql(
      "q101_pagerank_orders",
      {
        val iters = (1 to 5).map { k =>
          s"""it$k AS (SELECT e.b AS node,
             |  CAST((15000000000000 + 85 * SUM(p.v // d.d)) // 100 AS BIGINT) AS v
             |  FROM it${k - 1} p JOIN deg d USING (node) JOIN e ON e.a = p.node
             |  GROUP BY e.b)""".stripMargin
        }.mkString(",\n")
        s"""WITH w AS (SELECT o_orderkey, o_custkey, lead(o_orderkey) OVER (
           |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
           |  FROM orders),
           |e0 AS (SELECT o_orderkey AS a, nxt AS b FROM w WHERE nxt IS NOT NULL),
           |e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
           |deg AS (SELECT a AS node, COUNT(*) AS d FROM e GROUP BY a),
           |it0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS v FROM deg),
           |$iters
           |SELECT node, v AS rank_fp FROM it5 ORDER BY node""".stripMargin
      }) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      // symmetrize via explode, NOT fwd.union(fwd.reversed): a union of
      // two projections of the same subtree duplicates it — Catalyst
      // shares nothing across union children, so the r8 scan census
      // counted the orders scan AND the lead-window shuffle twice per
      // edge materialization (the ConnectedComponents star loop's
      // lesson, applied here)
      val e = Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(explode(array(
          struct(col("o_orderkey").as("a"), col("nxt").as("b")),
          struct(col("nxt").as("a"), col("o_orderkey").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      // symmetric by construction (the explode emits both directions),
      // so fixedPoint may measure max degree off its cached edge table
      // and run the rounds in exact long arithmetic (chain graph:
      // degree ≤ 2, bound clears by ~5 orders; identical integers)
      PageRank.fixedPoint(e, iters = 5, symmetric = true)
        .select(col("node"), col("v").cast("long").as("rank_fp"))
        .orderBy(col("node"))
    },

    // ------------------------------------------------------------------
    // q102 — semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    // embedding space (the q54 IVF assignment), then keep ONE
    // representative of every within-cell group of near-identical
    // vectors (cos ≥ 0.35, keep-lowest-id — the paper's
    // keep-one-per-duplicate-set rule made deterministic). The
    // pairwise cosine runs ONLY within a cell — the whole point of
    // clustering first: per-cell cost is |cell|², and at scale k grows
    // with n to hold |cell| ≈ constant, so total work stays ~linear
    // while the join is a plain equi-join on cell. Cosines float32-
    // cast before comparison (the q30/q31 contract), so kept/removed
    // decisions — and the oracle hash — are engine-exact.
    // Oversized cells are SUB-BUCKETED (r9): within-cell comparison is
    // |cell|² by definition, and at 100× replication the max cell
    // reaches 17,687 vectors — 1.31e9 in-cell pairs (measured,
    // BandProfile's q102 mode, a scale main last present at commit
    // fba91a5), the suite's worst remaining
    // cliff. Cells over [[SemDedupCellCap]] (256; measured max cell is
    // 42 at sf0.01 and 148 at sf0.1, so the condition CANNOT fire at
    // certification scales and the oracle hash is unchanged) compare
    // only within (cell, 8-bit hyperplane LSH bucket) — the q61
    // signature, which the oracle mirrors bit-for-bit from the same
    // float32 plane literals. Near-identical vectors agree on
    // hyperplane signs with probability →1 as cos→1, so the
    // registered trade is bounded and one-sided: some sub-threshold
    // pairs straddle buckets and survive dedup; everything removed is
    // still exactly-verified cos ≥ 0.35. The conditional is part of
    // BOTH definitions (engine and oracle), not a runtime knob — the
    // same defined-semantics pattern as q103's band-bucket cap.
    QueryDef.sql(
      "q102_semdedup", {
        val planes = (0 until 8).map { j =>
          val arr = SimilarityOps.hyperplane(j).mkString("[", ",", "]")
          s"($j, CAST($arr AS REAL[]))"
        }.mkString(",\n  ")
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |planes(j, p) AS (VALUES
           |  $planes),
           |asg AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cid AS cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${SimilarityQueries.cosSql("e.embedding", "c.cv")} DESC, c.cid) AS arn
           |    FROM embeddings e CROSS JOIN c) WHERE arn = 1),
           |cs AS (SELECT cell, COUNT(*) AS cn FROM asg GROUP BY cell),
           |bkt AS (
           |  SELECT asg.vec_id,
           |    CAST(SUM(CASE WHEN ${SimilarityQueries.dotSql("asg.embedding", "pl.p")} > 0
           |      THEN CAST(1 AS BIGINT) << pl.j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bk
           |  FROM asg CROSS JOIN planes pl GROUP BY asg.vec_id),
           |sb AS (
           |  SELECT a.vec_id, a.embedding, a.cell,
           |    CASE WHEN cs.cn > $SemDedupCellCap THEN bkt.bk ELSE CAST(0 AS BIGINT) END AS sub
           |  FROM asg a JOIN cs USING (cell) JOIN bkt USING (vec_id)),
           |removed AS (
           |  SELECT DISTINCT a.vec_id FROM sb a JOIN sb b
           |    ON a.cell = b.cell AND a.sub = b.sub AND b.vec_id < a.vec_id
           |  WHERE ${SimilarityQueries.cosSql("a.embedding", "b.embedding")} >= 0.35)
           |SELECT sb.vec_id, CAST(sb.cell AS BIGINT) AS cell,
           |  r.vec_id IS NULL AS kept
           |FROM sb LEFT JOIN removed r ON sb.vec_id = r.vec_id
           |ORDER BY sb.vec_id""".stripMargin
      }) { (s, dir) =>
      import graft.functions.VectorFunctions
      val asg0 = CacheScope.scoped(
        SimilarityOps.ivfAssign(Tables(s, dir).embeddings, 16)
          .withColumn("nsq", VectorFunctions.normSq(col("embedding"))))
      val sizes = asg0.groupBy(col("cell")).agg(count(lit(1)).as("cn"))
      val asg = asg0.join(broadcast(sizes), "cell")
        .withColumn("sub",
          when(col("cn") > SemDedupCellCap,
            SimilarityOps.lshBucketCol(col("embedding"), 8)).otherwise(lit(0L)))
      val a = asg.select(col("cell"), col("sub"), col("vec_id"),
        col("embedding").as("va"), col("nsq").as("ansq"))
      val b = asg.select(col("cell"), col("sub"), col("vec_id").as("bid"),
        col("embedding").as("vb"), col("nsq").as("bnsq"))
      val removed = a.join(b, Seq("cell", "sub"))
        .filter(col("bid") < col("vec_id"))
        .withColumn("cos",
          (VectorFunctions.dot(col("va"), col("vb"))
            / sqrt(col("ansq") * col("bnsq"))).cast("float"))
        .filter(col("cos") >= 0.35)
        .select(col("vec_id")).distinct()
        .withColumn("dup", lit(true))
      asg.select(col("vec_id"), col("cell"))
        .join(removed, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("dup").isNull.as("kept"))
        .orderBy(col("vec_id"))
    }
  )
}
