package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Connected components over an undirected edge list — the cluster-
  * assignment step a dedup pipeline runs after pair generation
  * (near-dup PAIRS say "a ~ b"; retention policy needs "which CLUSTER
  * does every doc belong to", i.e. the transitive closure).
  *
  * Algorithm: hash-min label propagation. Every node starts labeled
  * with itself; each round every node takes the min label among itself
  * and its neighbors; fixpoint = min node id per component. Expressed
  * as DataFrame joins per round with a driver-side convergence loop —
  * the same shape GraphX/GraphFrames use underneath, and the idiomatic
  * Spark form for iterative algorithms (each round is one shuffle; the
  * adjacency list is persisted once and reused). Rounds needed = max
  * component diameter; near-dup graphs are dense little cliques, so
  * this converges in 2-3 rounds. For web-scale graphs with long chains
  * use [[runAlternating]] — the small-star/large-star variant whose
  * round count is O(log n) regardless of diameter. [[runAdaptive]]
  * dispatches by exact edge count: a bounded pair table (the dedup
  * norm — pairs are pipeline OUTPUT, far smaller than the corpus)
  * labels via driver union-find in one collect, everything else runs
  * the alternating loop.
  *
  * Determinism: min over node ids — no accumulation-order dependence.
  */
object ConnectedComponents {

  /** `edges` must have two columns naming node ids (any integral
    * type); returns (node, component) for every node incident to an
    * edge, component = min node id reachable.
    */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame =
    runWithRounds(edges, maxIter)._1

  /** [[run]] plus the number of propagation rounds executed (the
    * scale-test observable: rounds = component diameter for hash-min).
    */
  def runWithRounds(edges: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2)
    val sel = edges.select(col(ca).as("src"), col(cb).as("dst"))
    // Persisted pre-partitioned on the per-round join key: the cached
    // scan keeps its hash partitioning, so each round's offers join
    // shuffles only the (small) labels side, never the adjacency.
    // Symmetrized via explode, not self-union — a union of two
    // projections of the same subtree would derive (and scan) the
    // caller's pair pipeline twice at materialization (the q101
    // lesson).
    val sym = sel
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct()
      .repartition(col("src"))
      .persist()
    // Materialize the adjacency cache up front, under the caller's
    // session conf (AQE coalesces its layout sensibly): the exact row
    // count sizes the loop's partitions — byte estimates through the
    // callers' pair pipelines inflate wildly (see partsForRows).
    val symCount = sym.count()
    // The propagation loop runs inside a TightLoop scope (AQE off +
    // count-sized partitions): each round's checkpoint is ONE job of
    // few right-sized tasks instead of AQE's per-exchange scheduling
    // round-trips — the measured iterative floor (see TightLoop).
    // The body's `sym` is the adjacency rebound into the loop session.
    TightLoop.scoped(sym, TightLoop.partsForRows(sel.sparkSession, symCount)) { sym =>

    // Lineage: each round's plan references the previous round's, so
    // raw lineage compounds per iteration and blows the heap by round
    // ~10. localCheckpoint (eager) truncates the plan to the
    // materialized RDD every round, keeping iteration N's plan
    // constant-size — the standard Spark shape for iterative
    // algorithms.
    //
    // Seeding: labels start at min(self, neighbors) — round 1 fused
    // into initialization, so clique-shaped components (the near-dup
    // norm) are already at fixpoint when the loop begins.
    // Convergence via the label-sum invariant: labels only ever
    // decrease, so the total is strictly monotone and stalls exactly
    // at fixpoint. DECIMAL(38,0): n × maxId cannot overflow. The sum
    // rides the checkpoint materialization itself via observe()
    // (CollectMetrics in the checkpointed plan, reported when the
    // eager-checkpoint action's execution ends) — ONE job per round
    // where r7 ran two (checkpoint, then a separate aggregate scan of
    // the materialized blocks); measured ~25% off q69/q77 wall.
    def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val cp = df.observe(obs,
        coalesce(sum(col("label").cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0))).as("s"))
        .localCheckpoint()
      (cp, obs.get("s").asInstanceOf[java.math.BigDecimal])
    }

    val seeded = checkpointWithSum(
      sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("node"), least(col("src"), col("mn")).as("label")))
    var labels = seeded._1
    var prevSum = seeded._2

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each neighbor offers its label; nodes keep the min seen
      val offers = sym.join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val (next, s) = checkpointWithSum(
        labels.unionAll(offers)
          .groupBy("node").agg(min("label").as("label")))
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = next
      iter += 1
    }
    sym.unpersist()
    (labels, iter)
    }
  }

  /** Alternating small-star / large-star connected components — the
    * scale path for graphs with long chains, where hash-min's
    * rounds-=-diameter cost is the killer (a 100k-link chain would
    * need 100k shuffles). Alternation contracts path lengths
    * multiplicatively, converging in O(log n) rounds regardless of
    * diameter (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm, re-derived here as DataFrame
    * plans).
    *
    * One round = large-star then small-star, each a groupBy-min plus
    * an equi-join — two shuffles, same per-round plan shape as
    * hash-min. The edge set only shrinks toward a star forest (every
    * node pointing at its component min), so convergence is detected
    * by an (edge-count, xxhash64-sum) fingerprint going stable — one
    * tiny aggregate per round, no join-based set comparison.
    *
    * Same output contract as [[run]]: (node, component) for every node
    * incident to an input edge, component = min reachable id.
    * [[ConnectedComponentsSpec]] pins equality with [[run]] on chains,
    * cliques, and random graphs.
    */
  def runAlternating(edges: DataFrame, maxIter: Int = 50): DataFrame =
    runAlternatingWithRounds(edges, maxIter)._1

  /** Materialize the raw pairs ONCE before any self-union: the input
    * is scanned a single time, and the checkpoint cuts the caller's
    * plan constraints — self-unions over a constraint-carrying plan
    * (e.g. an upstream filter whose column is pruned on one branch)
    * trip UnionBase.rewriteConstraints ("key not found: <attr>").
    * The checkpoint's materialization also yields the exact edge
    * count (via observe, no extra job) — the loop-partition sizing
    * AND tier-dispatch input; byte estimates through pair pipelines
    * inflate wildly (see TightLoop.partsForRows), so the exact count
    * that materialization gives for free is strictly better than the
    * stats-first probe the rank kernels use.
    */
  private def materializeEdges(edges: DataFrame): (DataFrame, Long, Long) = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2)
    val rawObs = org.apache.spark.sql.Observation()
    val raw = edges
      .select(col(ca).as("a"), col(cb).as("b"))
      .observe(rawObs,
        count(lit(1)).as("n"),
        // self-loop census rides the same materialization (observed on
        // the RENAMED frame — "a"/"b" are this select's columns): the
        // join-free label emit below covers every node incident to a
        // NON-self edge; a self-loop-only node is only labeled by the
        // nodes-frame path, so its presence (rare; zero on every
        // shipped pipeline) picks the emit strategy
        coalesce(sum(when(col("a") === col("b"), 1L)), lit(0L)).as("sl"))
      .localCheckpoint()
    (raw, rawObs.get("n").asInstanceOf[Long], rawObs.get("sl").asInstanceOf[Long])
  }

  /** Edge-count bound for the driver union-find tier of
    * [[runAdaptive]] — a MEASURED crossover, not a memory guess.
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
    * as [[DistributedRank.DefaultMaxDriverRows]]'s offset tables.
    */
  val MaxDriverEdges: Long = 500000L

  /** Plan-stats ceiling under which [[runAdaptive]] skips the
    * checkpoint entirely and probes with a bounded limit-collect (ONE
    * job — the sf0.1 q91 shape, where the checkpoint materialization
    * was ~1/3 of the query's wall). Above it — or when pair-pipeline
    * estimates inflate (they overshoot, never undershoot, so
    * inflation errs toward the safe checkpoint path) — the edge list
    * is checkpointed first and the probe cost is never paid twice.
    */
  val SmallEdgeStatsBytes: Long = 64L << 20

  /** Size-adaptive connected components — the [[DistributedRank]]
    * dispatch pattern applied to the transitive closure. Dispatch is
    * stats-first: an edge plan the optimizer already proves under
    * [[SmallEdgeStatsBytes]] is limit-collected directly (one job, no
    * checkpoint); otherwise the list is materialized once (checkpoint
    * + observed exact count, one scan) and dispatched on the exact
    * count. Below [[MaxDriverEdges]] the closure runs as driver-side
    * union-find over the collected pair table (a dedup graph's edge
    * set is pair-pipeline output — orders of magnitude smaller than
    * the corpus — so at certification scales this is the common case),
    * above it as the O(log n)-round alternating-star loop. All tiers
    * emit the IDENTICAL (node, component-min) labels in the identical
    * column types ([[ConnectedComponentsSpec]] pins equality on
    * chains, cliques, random graphs, and both sides of the bound), so
    * a misjudged bound costs only constants, never bytes.
    */
  /** Both fast tiers (driver union-find, local contraction) widen ids
    * through LongType, which is only lossless for integral id types;
    * exotic id types (the contract is merely "orderable with min")
    * must stay on the generic star loop rather than be silently
    * corrupted by the cast.
    */
  private def integralIds(df: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    df.schema.fields.take(2).forall(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
  }

  def runAdaptive(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2)
    val sel = edges.select(col(ca).as("a"), col(cb).as("b"))
    if (!integralIds(sel)) return runAlternating(edges, maxIter)
    val statsBytes = sel.queryExecution.optimizedPlan.stats.sizeInBytes
    val probed =
      if (statsBytes <= SmallEdgeStatsBytes) {
        val rows = sel.limit(MaxDriverEdges.toInt + 1).collect()
        if (rows.length <= MaxDriverEdges) Some(unionFindRows(sel, rows))
        else None // stats under-estimated: fall through, pay one re-scan
      } else None
    probed.getOrElse {
      // ONE materialization job: the caller's pair plan runs straight
      // into the per-partition contraction (r12 fusion — the r11 form
      // checkpointed the raw 2-column list, then read it back for a
      // contraction + distinct round-trip). Dispatch is on the
      // CONTRACTED count (≤ min(edges, nodes)): the driver tier
      // collects star edges the cluster already forested, so the
      // bound stays a driver-memory bound while more graphs qualify.
      val (canon0, cCount) = materializeContracted(sel)
      if (cCount <= MaxDriverEdges) driverUnionFind(canon0, cCount)
      else alternatingFromContracted(canon0, cCount, maxIter)._1
    }
  }

  /** Driver tier over an already-materialized edge list: collect the
    * (bounded) pair table and label via [[unionFindRows]].
    */
  private[graft] def driverUnionFind(raw: DataFrame, edgeCount: Long): DataFrame = {
    require(edgeCount <= Int.MaxValue,
      s"driverUnionFind: $edgeCount edges cannot index an int array")
    unionFindRows(raw, raw.collect())
  }

  /** The distributed tiers' output id type without running the
    * analyzer over an explode plan: the common integral supertype of
    * the two endpoint columns (what the explode(array(a, b)) coercion
    * picks); non-integral or exotic pairs fall back to asking the
    * analyzer.
    */
  private def nodeIdType(src: DataFrame): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val ta = src.schema.fields(0).dataType
    val tb = src.schema.fields(1).dataType
    val rank = Map[DataType, Int](
      ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
    if (ta == tb) ta
    else (rank.get(ta), rank.get(tb)) match {
      case (Some(x), Some(y)) => if (x >= y) ta else tb
      case _ => src
        .select(explode(array(col(src.columns(0)), col(src.columns(1)))))
        .schema.head.dataType
    }
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
    * emit, so the output is byte-identical to [[runAlternating]]'s.
    */
  private def unionFindRows(src: DataFrame, collected: Array[Row]): DataFrame = {
    val spark = src.sparkSession
    val nodeType = nodeIdType(src)
    val m = collected.length
    val as = new Array[Long](m)
    val bs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = collected(i)
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "ConnectedComponents: null node id — edge endpoints must be non-null")
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

  /** [[runAlternating]] plus rounds executed (expected O(log n)). */
  def runAlternatingWithRounds(edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2)
    val sel = edges.select(col(ca).as("a"), col(cb).as("b"))
    if (integralIds(sel)) {
      val (canon0, cCount) = materializeContracted(sel)
      alternatingFromContracted(canon0, cCount, maxIter)
    } else {
      val (raw, rawCount, selfLoops) = materializeEdges(sel)
      alternatingFrom(raw, rawCount, selfLoops, maxIter)
    }
  }

  /** Materialize the caller's pair plan STRAIGHT INTO the local-
    * contraction pre-pass — one job, one scan of the (possibly
    * expensive) pair pipeline, and the checkpoint holds the
    * per-partition star forest instead of the raw list (r12: the r11
    * flow checkpointed raw, then paid a second pass + a distinct
    * exchange to contract it). The contracted count (≤ min(edges,
    * nodes), observed free on the materialization) is the dispatch
    * and loop-sizing cardinality. Contraction preserves connectivity
    * exactly (a spanning forest of each partition's edge subset keeps
    * the union's components) and self-loop-only nodes survive as
    * explicit (x, x) marker rows (see [[partitionForest]]), so no
    * raw-list consumer remains. Integral ids only — the long widening
    * inside the contraction would corrupt exotic id types.
    */
  private def materializeContracted(sel: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val canon0 = localContract(sel)
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    (canon0, obs.get("n").asInstanceOf[Long])
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
    * scattered. This is the per-partition imperative tier
    * mapPartitions exists for: the same local-contraction step the
    * MapReduce-CC literature runs before alternation (Kiveris et al.
    * §6 "optimizations").
    */
  private def localContract(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val nodeType = nodeIdType(e)
    e.select(col("a").cast(LongType).as("a"), col("b").cast(LongType).as("b"))
      .as[(Long, Long)]
      .mapPartitions(partitionForest _)
      .toDF("a", "b")
      .select(col("a").cast(nodeType).as("a"), col("b").cast(nodeType).as("b"))
  }

  /** The alternating loop over an already-contracted, checkpointed
    * star-edge set (self-loop markers included): certify-or-iterate.
    */
  private def alternatingFromContracted(
      canon0: DataFrame, cCount: Long, maxIter: Int): (DataFrame, Int) =
    alternatingFrom(canon0, cCount, selfLoops = 0L, maxIter, contracted = true)

  private def alternatingFrom(
      raw: DataFrame, rawCount: Long, selfLoops: Long, maxIter: Int,
      contracted: Boolean = false): (DataFrame, Int) = {
    // NO Union operators anywhere below: a Union whose children share
    // lineage (self-union) or sit over a checkpointed plan with
    // preserved constraints trips Catalyst's
    // UnionBase.rewriteConstraints ("key not found: <attr>") on
    // real-world input plans. explode(array(struct…)) emits the same
    // rows with identical shuffle volume and no constraint rewrite.

    // All incident nodes — built ONLY on the uncontracted (exotic-id)
    // path when the input carries self-loops (observed free at
    // materialization): the star loop drops self-loops, so a node
    // whose only edge is a self-loop must be labeled from the RAW
    // list via this frame. The contracted path carries (x, x) marker
    // rows instead, and self-loop-free inputs (every shipped
    // pipeline) take the join-free emit at the bottom — the nodes
    // frame was a full explode+distinct exchange over 2× the edges,
    // paid only to re-derive node ids the fixpoint star forest
    // already carries (r12 round-constant cut).
    val nodes =
      if (!contracted && selfLoops > 0)
        Some(raw
          .select(explode(array(col("a"), col("b"))).as("node"))
          .distinct()
          .persist())
      else None

    // Each star needs min-over-neighborhood joined back onto every
    // edge of the neighborhood. A groupBy+join does that in two
    // shuffle subtrees; an unordered window (min over the whole
    // partition) does it in ONE — the rows are already co-located by
    // the partition key, so the min rides along without a second
    // exchange. Measured on q91's chain graph: ~35% less wall per
    // round, identical output (spec pins equality with hash-min).

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

    // Certify-first (contracted path): co-partitioned edge sets come
    // out of local contraction ALREADY at fixpoint, and the direct
    // star-forest test proves it in one hash-aggregate exchange —
    // where the loop's fingerprint could only certify by paying a
    // full confirm round (two window exchanges + a checkpoint). The
    // test runs on the marker-stripped view; markers rejoin at the
    // emit. Scattered inputs fail the test, pay this one cheap
    // exchange, and take the normal fingerprint loop.
    val certified =
      contracted && isStarForest(raw.filter(col("a") =!= col("b")))
    // The star loop runs inside a TightLoop scope (AQE off +
    // count-sized partitions): one job per round instead of AQE's
    // per-exchange scheduling round-trips — the measured iterative
    // floor (see TightLoop). The symmetric closure doubles rows,
    // hence 2× the checkpointed count.
    // The body's `raw` is the edge checkpoint rebound into the loop
    // session; `e` comes back bound to the caller's.
    val loopState = if (certified) (raw, 0) else TightLoop.scoped(
      raw, TightLoop.partsForRows(raw.sparkSession, 2L * rawCount)) { raw =>
      // the distinct canonicalizes duplicate edges (cross-partition
      // duplicate forest edges on the contracted path, caller
      // duplicates on the raw path) and lays the loop input out at
      // the TightLoop partition count
      val canon = checkpointWithFingerprint(
        raw.filter(col("a") =!= col("b")).distinct())
      var e = canon._1
      var prev = canon._2
      var converged = prev._1 == 0L
      var iter = 0
      while (!converged && iter < maxIter) {
        // ONE star pair per checkpoint/fingerprint. (Measured: composing
        // two pairs per probe to halve the fixed costs made q91 ~30%
        // SLOWER — the star work itself dominates, and the extra
        // confirmation iteration then costs two rounds, not one.)
        // localCheckpoint per round: same lineage-truncation rationale
        // as the hash-min loop above.
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
    // and the pathological maxIter exit collapse under the min). The
    // r11 form re-derived the node set from RAW via a second
    // explode+distinct exchange and joined it back — two exchanges
    // plus a join to recompute information the star forest already
    // holds. Self-loop-carrying inputs keep the nodes-frame join: a
    // self-loop-only node is on no fixpoint edge.
    val labels = nodes match {
      case Some(nd) =>
        val stars = e.select(col("a").as("node"), col("b").as("label"))
          .groupBy("node").agg(min("label").as("label"))
        val l = nd.join(stars, Seq("node"), "left")
          .select(col("node"), coalesce(col("label"), col("node")).as("label"))
        nd.unpersist()
        l
      case None =>
        val pairs = e.select(explode(array(
            struct(col("a").as("node"), col("b").as("label")),
            struct(col("b").as("node"), col("b").as("label")))).as("p"))
          .select(col("p.node").as("node"), col("p.label").as("label"))
        // contracted path after a LOOP run: the loop stripped the
        // (x, x) self-loop markers — rejoin them from the (still
        // persisted) contraction checkpoint so self-loop-only nodes
        // keep their self-label; min() folds nodes present on both
        // sides. (When certified, e IS the checkpoint — markers are
        // already aboard.) unionAll of two independent checkpointed
        // frames is the hash-min loop's own proven shape.
        val withMarkers =
          if (contracted && !certified)
            pairs.unionAll(raw.filter(col("a") === col("b"))
              .select(col("a").as("node"), col("b").as("label")))
          else pairs
        withMarkers.groupBy("node").agg(min("label").as("label"))
    }
    (labels, iter)
  }
}
