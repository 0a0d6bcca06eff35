package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StructField, StructType}

/** Connected components over an undirected edge list — the cluster-
  * assignment step a dedup pipeline runs after pair generation
  * (near-dup PAIRS say "a ~ b"; retention policy needs "which CLUSTER
  * does every doc belong to", i.e. the transitive closure).
  *
  * [[run]] is the one entry point, size-adaptive in the
  * [[DistributedRank]] dispatch pattern: every execution first runs a
  * local-contraction pre-pass; a bounded contracted pair table (the
  * dedup norm — pairs are pipeline OUTPUT, far smaller than the
  * corpus) then labels via driver union-find in one collect, and
  * anything larger runs the alternating small-star / large-star
  * loop, whose round count is O(log n)
  * regardless of component diameter (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14 — public algorithm,
  * re-derived here as DataFrame plans). Min-label propagation needs
  * rounds = diameter, so one long chain defeats it; the alternation
  * contracts paths multiplicatively.
  *
  * Node ids must be integral (tinyint, smallint, int or bigint): both
  * tiers widen them through LongType, which is lossless only for
  * integral types, so [[run]] rejects any other id type up front.
  *
  * Determinism: min over node ids — no accumulation-order dependence.
  */
object ConnectedComponents {

  /** Edge-count bound for the driver union-find tier of
    * [[run]] — a MEASURED crossover, not a memory guess.
    * ComponentsScale tier sweep at local[32] (a scale main last
    * present at commit fba91a5; broken-chain graphs, driver vs the
    * contraction+alternating loop, same JVM per pair):
    * 0.13M edges driver 3.8 s vs loop 5.6; 0.5M: 3.0 vs 3.2 (the
    * tie); 1M: 5.1 vs 2.6; 2M/4M loop wins outright (pre-contraction
    * the driver won to ~1M — 4.4 vs 4.8 — but the local-contraction
    * pre-pass moved the loop's floor). The sweep's chains are
    * co-partitioned (contraction's best case); scattered-edge graphs
    * keep the driver tier competitive longer, so sitting at the
    * co-partitioned tie errs toward the tier whose cost cannot
    * degrade. Memory at the bound is a non-issue: two long edge
    * arrays + sorted id array + int parents ≈ 25 MB, the same order
    * as DistributedRank's 1M-row driver probe in `ntileByCuts`.
    */
  val MaxDriverEdges: Long = 500000L

  /** Size-adaptive connected components: `edges` must have two
    * integral columns naming node ids; returns (node, label) for every
    * node incident to an edge, label = min node id reachable, in the
    * endpoints' wider id type. The id type is checked while the frame
    * is built; the closure runs when the frame executes
    * ([[graft.plans.Deferred]]), over the executed edge rows.
    * One gate, two tiers: each execution runs the caller's pair plan
    * straight into the local-contraction pre-pass and materializes the
    * per-partition star forest once ([[TightLoop.materialize]]: one
    * job, one computation of every input row, the exact contracted
    * count observed on that same job). Dispatch is on that CONTRACTED
    * count (≤ min(edges, nodes)): at most [[MaxDriverEdges]] runs
    * driver-side union-find over the collected checkpoint (the driver
    * collects star edges the cluster already forested, so the bound
    * stays a driver-memory bound while more graphs qualify); above it
    * the certify-then-star loop runs over the same checkpoint. Both
    * tiers emit the IDENTICAL (node, component-min) labels in the
    * identical column types ([[ConnectedComponentsSpec]] pins equality
    * on chains, cliques, random graphs, and both sides of the bound),
    * so a misjudged bound costs only constants, never bytes.
    */
  def run(edges: DataFrame): DataFrame = {
    val sel = endpoints(edges)
    val idType = nodeIdType(sel)
    // never null: the contraction pre-pass both tiers share rejects null ids
    val labels = StructType(Seq("node", "label").map(StructField(_, idType, nullable = false)))
    graft.plans.Deferred.frame(sel, labels) { sel =>
      val (canon0, cCount) = TightLoop.materialize(localContract(sel, idType))
      if (cCount <= MaxDriverEdges) unionFindRows(canon0, canon0.collect(), idType)
      else alternatingFrom(canon0, cCount)._1
    }
  }

  /** The distributed tier of [[run]] whatever the edge count —
    * contraction pre-pass, then the alternating loop — plus the star
    * rounds it ran (0 when the contracted edges are already a star
    * forest). Specs pin it against the driver tier and count its
    * rounds; no query calls it.
    */
  private[graft] def starLoop(edges: DataFrame): (DataFrame, Int) = {
    val sel = endpoints(edges)
    val (canon0, cCount) = TightLoop.materialize(localContract(sel, nodeIdType(sel)))
    alternatingFrom(canon0, cCount)
  }

  private def endpoints(edges: DataFrame): DataFrame = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2)
    edges.select(col(ca).as("a"), col(cb).as("b"))
  }

  /** Round cap of the star loop, well above its measured round counts
    * (O(log n): 18 for a 10⁵-node chain).
    */
  private val MaxStarRounds = 50

  private val IdTypes: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)

  /** The output id type without running the analyzer over an explode
    * plan: the wider of the two integral endpoint types (what the
    * explode(array(a, b)) coercion picks). Any other id type is
    * rejected here, before a job runs: both tiers widen ids through
    * LongType, which would silently corrupt fractional or exotic ids.
    */
  private def nodeIdType(src: DataFrame): DataType = {
    val types = src.schema.fields.take(2).map(_.dataType).toSeq
    require(types.forall(IdTypes.contains),
      "ConnectedComponents: node ids must be integral (tinyint, smallint, " +
        s"int or bigint); got ${types.map(_.simpleString).mkString(", ")}")
    types.maxBy(t => IdTypes.indexOf(t))
  }

  /** One partition's spanning forest by union-find with path halving:
    * consumes the partition's edges, emits (node, local-min-root) for
    * every node that is not its own root — star edges, ≤ one per
    * distinct node, never more rows than came in. A node whose ONLY
    * incidence in this partition is a self-loop is emitted as an
    * explicit (x, x) marker row: the downstream label emit needs every
    * incident node on SOME surviving row, and the a≠b filters would
    * otherwise drop self-loop-only nodes silently (the r12 fusion —
    * markers replace the raw-scan `nodes` frame entirely).
    * Serializable top-level function (it ships inside the
    * mapPartitions closure).
    */
  private def partitionForest(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val idx = new scala.collection.mutable.LongMap[Int]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    val selfLooped = new scala.collection.mutable.BitSet()
    def nodeOf(x: Long): Int = idx.getOrElseUpdate(x, {
      ids += x; parent += ids.length - 1; ids.length - 1
    })
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    while (it.hasNext) {
      val (a, b) = it.next()
      if (a == b) selfLooped += nodeOf(a)
      else {
        val ra = find(nodeOf(a))
        val rb = find(nodeOf(b))
        if (ra != rb) {
          // min-ID root: insertion order ≠ id order, so compare ids
          if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    Iterator.range(0, ids.length).flatMap { i =>
      val r = find(i)
      if (r != i) Some((ids(i), ids(r)))
      else if (selfLooped(i)) Some((ids(i), ids(i))) // self-loop marker
      else None
    }
  }

  /** Union-find with path halving over a collected pair table,
    * attaching the larger-id root under the smaller-id root so every
    * root is its component's minimum — the same fixpoint the
    * distributed tiers converge to. Node ids are widened to long for
    * the driver pass and cast back to the common input id type on
    * emit, so the output is byte-identical to the star loop's.
    */
  private def unionFindRows(
      src: DataFrame, collected: Array[Row], nodeType: DataType): DataFrame = {
    val spark = src.sparkSession
    val m = collected.length
    val as = new Array[Long](m)
    val bs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = collected(i)
      as(i) = r.get(0).asInstanceOf[Number].longValue()
      bs(i) = r.get(1).asInstanceOf[Number].longValue()
      i += 1
    }
    // dense index: sorted distinct ids; index order == id order, so
    // "attach larger index under smaller index" == min-id roots
    val ids = new Array[Long](2 * m)
    System.arraycopy(as, 0, ids, 0, m)
    System.arraycopy(bs, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    var n = 0
    var j = 0
    while (j < ids.length) {
      if (n == 0 || ids(n - 1) != ids(j)) { ids(n) = ids(j); n += 1 }
      j += 1
    }
    val parent = new Array[Int](n)
    var k = 0
    while (k < n) { parent(k) = k; k += 1 }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var e = 0
    while (e < m) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, as(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, bs(e)))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
      e += 1
    }
    // encoder emit, ids ascending (= node order): the tuple encoder
    // codegen-serializes the driver array where the Row path paid a
    // per-row CatalystTypeConverters walk — measured ~2× on the
    // 150k-label sf0.1 emit (ProbeQ91, a probe main last present at
    // commit 9aaeeb6)
    val out = new Array[(Long, Long)](n)
    var x = 0
    while (x < n) { out(x) = (ids(x), ids(find(x))); x += 1 }
    import spark.implicits._
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("node", "label")
      .select(col("node").cast(nodeType).as("node"),
        col("label").cast(nodeType).as("label"))
  }

  /** Local-contraction pre-pass (r11): per-partition union-find over
    * the edges each task already holds, emitting that partition's
    * spanning forest as (node, partition-local min-root) star edges —
    * a NARROW pass (no shuffle; output ≤ input rows) that collapses
    * every path living inside one partition before the first star
    * round ever shuffles. Converges the loop in 0–1 rounds when edges
    * arrive co-partitioned by their natural key (q91's per-customer
    * chains ride the orders window's custkey hash) and degrades to
    * the uncontracted round count — never worse — when edges are
    * scattered. Contraction preserves connectivity exactly (a
    * spanning forest of each partition's edge subset keeps the
    * union's components). A null id fails the job here, for both
    * tiers. This is the per-partition imperative tier
    * mapPartitions exists for: the same local-contraction step the
    * MapReduce-CC literature runs before alternation (Kiveris et al.
    * §6 "optimizations").
    */
  private def localContract(e: DataFrame, nodeType: DataType): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    def id(c: String) = coalesce(col(c).cast(LongType),
      raise_error(lit("ConnectedComponents: null node id — edge endpoints must be non-null")))
    e.select(id("a").as("a"), id("b").as("b"))
      .as[(Long, Long)]
      .mapPartitions(partitionForest _)
      .toDF("a", "b")
      .select(col("a").cast(nodeType).as("a"), col("b").cast(nodeType).as("b"))
  }

  /** The alternating loop over an already-contracted, checkpointed
    * star-edge set (self-loop markers included): certify-or-iterate.
    */
  private def alternatingFrom(canon0: DataFrame, cCount: Long): (DataFrame, Int) = {
    // NO Union operators anywhere in the loop: a Union whose children
    // share lineage (self-union) or sit over a checkpointed plan with
    // preserved constraints trips Catalyst's
    // UnionBase.rewriteConstraints ("key not found: <attr>") on
    // real-world input plans. explode(array(struct…)) emits the same
    // rows with identical shuffle volume and no constraint rewrite.

    // Each star needs min-over-neighborhood joined back onto every
    // edge of the neighborhood. A groupBy+join does that in two
    // shuffle subtrees; an unordered window (min over the whole
    // partition) does it in ONE — the rows are already co-located by
    // the partition key, so the min rides along without a second
    // exchange. Measured on q91's chain graph: ~35% less wall per
    // round, identical output (spec pins equality with the driver tier).

    // large-star: every neighbor v > u gets pointed at
    // min(Γ(u) ∪ {u}); processing each undirected edge from its
    // smaller endpoint preserves connectivity while hanging big nodes
    // under small ones. No trailing distinct: each input edge emits at
    // most one row (no inflation), and the small-star that follows
    // re-shuffles immediately — duplicate (v, m) rows cannot change
    // its min, so deduping here would buy nothing but a shuffle.
    def largeStar(e: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("a")
      e.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .withColumn("m", least(col("a"), min(col("b")).over(w)))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
    }

    // small-star: orient edges large→small, then link each node and
    // all its smaller neighbors directly to the smallest — the
    // path-halving step. One exchange, NO trailing distinct (the r11
    // round-constant cut — the distinct was a third exchange per
    // round): the (u, m) link is emitted once per GROUP (on the
    // window's first row) instead of once per row, so the output is
    // input-rows + #groups instead of 2× rows needing dedup. Without
    // canonicalization duplicate (v, m) rows can ride along between
    // rounds — harmless to every min — but at the star-forest fixpoint
    // the output is STRUCTURALLY canonical regardless of input
    // multiplicity (each fixpoint edge (x, root) forms its own
    // u-group: the (v=root, m=root) row dies on the a≠b filter and
    // the (u=x, m=root) row is emitted exactly once), so the
    // fingerprint still goes stable exactly at fixpoint. Both window
    // expressions share one (partition, order) spec — one sort; with
    // rows ordered by v ascending the running min IS the partition
    // min on every row.
    def smallStar(e: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy("v")
      e.select(
        greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
        .withColumn("m", min(col("v")).over(w))
        .withColumn("__rn", row_number().over(w))
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(when(col("__rn") === 1, col("u")).as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a").isNotNull && col("a") =!= col("b"))
    }

    // Direct fixpoint test — is `e` already a min-oriented star
    // forest? True iff every edge points child→smaller-parent, no
    // node is both a child and a parent, and no child has two
    // distinct parents. ONE hash-aggregate exchange over the exploded
    // endpoints (no window sort, no checkpoint write), where a
    // confirmation star round costs two window exchanges plus a
    // checkpoint — run ONCE on the contraction output, because
    // co-partitioned edge sets (q91's per-customer chains riding the
    // orders window's custkey hash) come out of local contraction
    // ALREADY at fixpoint, and the loop's fingerprint can only
    // certify that by paying a full confirm round (the r11 q91 shape:
    // contraction + 1 round, where the round existed only to repeat
    // the fingerprint). Scattered inputs fail the test and pay one
    // extra cheap exchange before the normal fp loop — never a wrong
    // answer, the test is exact in both directions.
    def isStarForest(e: DataFrame): Boolean = {
      val bType = e.schema("b").dataType
      val viol = e.select(explode(array(
          struct(col("a").as("node"), lit(1).as("c"), col("b").as("p")),
          struct(col("b").as("node"), lit(0).as("c"),
            lit(null).cast(bType).as("p")))).as("x"))
        .select(col("x.node").as("node"), col("x.c").as("c"), col("x.p").as("p"))
        .groupBy("node")
        .agg(
          max(col("c")).as("maxC"),
          min(col("c")).as("minC"),
          // two-distinct-parents via min≠max — plain min/max partial-
          // aggregate cleanly where countDistinct would carry a
          // per-group distinct set through the exchange
          min(col("p")).as("pLo"),
          max(col("p")).as("pHi"),
          max(when(col("p") >= col("node"), 1).otherwise(0)).as("mis"))
        .filter((col("maxC") === 1 && col("minC") === 0) ||
          col("pLo") =!= col("pHi") || col("mis") === 1)
        .limit(1)
      viol.isEmpty
    }

    // Multiset fingerprint: (count, sum(xxhash64(a,b))) — stable
    // across a full round exactly at the star-forest fixpoint (a
    // hash-sum collision masking a real change is negligible, and the
    // oracle gate would catch it). Pre-fixpoint rounds may carry
    // duplicate rows since the r11 distinct removal (multiplicities
    // ride the sum — still deterministic plans, still only stable at
    // fixpoint because smallStar's fixpoint output is structurally
    // canonical, see above). Hashes are full-range 64-bit, so the sum
    // goes through DECIMAL(38,0) — long sum would overflow under ANSI.
    // The fingerprint rides the checkpoint materialization via
    // observe() (one job per round instead of checkpoint + separate
    // aggregate — the r8 iterative-floor shave).
    def checkpointWithFingerprint(df: DataFrame): (DataFrame, (Long, BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation()
      val cp = df.observe(obs,
        count(lit(1)).as("n"),
        coalesce(
          sum(xxhash64(col("a"), col("b")).cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0))).as("h"))
        .localCheckpoint()
      val m = obs.get
      (cp, (m("n").asInstanceOf[Long],
        BigDecimal(m("h").asInstanceOf[java.math.BigDecimal])))
    }

    // Certify-first: co-partitioned edge sets come
    // out of local contraction ALREADY at fixpoint, and the direct
    // star-forest test proves it in one hash-aggregate exchange —
    // where the loop's fingerprint could only certify by paying a
    // full confirm round (two window exchanges + a checkpoint). The
    // test runs on the marker-stripped view; markers rejoin at the
    // emit. Scattered inputs fail the test, pay this one cheap
    // exchange, and take the normal fingerprint loop.
    val certified = isStarForest(canon0.filter(col("a") =!= col("b")))
    // The star loop runs inside a TightLoop scope (AQE off +
    // count-sized partitions): one job per round instead of AQE's
    // per-exchange scheduling round-trips — the measured iterative
    // floor (see TightLoop). The symmetric closure doubles rows,
    // hence 2× the checkpointed count.
    // The body's `canon0` is the edge checkpoint rebound into the loop
    // session; `e` comes back bound to the caller's.
    val loopState = if (certified) (canon0, 0) else TightLoop.scoped(canon0, 2L * cCount) { canon0 =>
      // the distinct canonicalizes duplicate edges (cross-partition
      // duplicate forest edges) and lays the loop input out at the
      // TightLoop partition count
      val canon = checkpointWithFingerprint(
        canon0.filter(col("a") =!= col("b")).distinct())
      var e = canon._1
      var prev = canon._2
      var converged = prev._1 == 0L
      var iter = 0
      while (!converged && iter < MaxStarRounds) {
        // ONE star pair per checkpoint/fingerprint. (Measured: composing
        // two pairs per probe to halve the fixed costs made q91 ~30%
        // SLOWER — the star work itself dominates, and the extra
        // confirmation iteration then costs two rounds, not one.)
        // localCheckpoint per round: each round's plan references the
        // previous round's, so raw lineage would compound per
        // iteration; the eager checkpoint truncates it to the
        // materialized RDD, keeping round N's plan constant-size.
        val (next, fp) = checkpointWithFingerprint(smallStar(largeStar(e)))
        converged = fp == prev
        prev = fp
        e = next
        iter += 1
      }
      (e, iter)
    }
    val e = loopState._1
    val iter = loopState._2
    // Fixpoint is a star forest: every non-root points at its root,
    // and every incident node appears on SOME fixpoint edge — so the
    // labels fall out of `e` alone: explode each edge to (child,
    // parent) + (parent, parent) and take min(label) per node (one
    // partial-aggregated exchange; roots label themselves, duplicates
    // and the pathological MaxStarRounds exit collapse under the min). The
    // r11 form re-derived the node set from the raw edges via a second
    // explode+distinct exchange and joined it back — two exchanges
    // plus a join to recompute information the star forest already
    // holds.
    val pairs = e.select(explode(array(
        struct(col("a").as("node"), col("b").as("label")),
        struct(col("b").as("node"), col("b").as("label")))).as("p"))
      .select(col("p.node").as("node"), col("p.label").as("label"))
    // after a LOOP run: the loop stripped the (x, x) self-loop markers
    // — rejoin them from the (still persisted) contraction checkpoint
    // so self-loop-only nodes keep their self-label; min() folds nodes
    // present on both sides. (When certified, e IS the checkpoint —
    // markers are already aboard.) A unionAll of two independent
    // checkpointed frames shares no lineage, so the constraint rewrite
    // above cannot trip.
    val withMarkers =
      if (!certified)
        pairs.unionAll(canon0.filter(col("a") === col("b"))
          .select(col("a").as("node"), col("b").as("label")))
      else pairs
    (withMarkers.groupBy("node").agg(min("label").as("label")), iter)
  }
}
