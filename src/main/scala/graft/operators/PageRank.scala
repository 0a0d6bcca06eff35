package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Fixed-point integer PageRank — damping 0.85, rank mass carried as
  * a scaled integer (`Unit` = 10^12 = one unit of rank) in
  * DECIMAL(38,0) with explicit floor at both division points, so
  * every round is exactly reproducible: integer sums are
  * order-independent where double PageRank drifts in the last ulp
  * with partition order. That determinism is what makes an iterative
  * graph metric regression-testable (and cross-engine hash-checkable
  * — q101 unrolls the same rounds as oracle CTEs, whose HUGEINT `//`
  * is the same floor-division on the same exact integers).
  *
  * Why decimal, not long: a hub with h in-neighbors accumulates
  * S ≈ h·Unit before damping, and the 85·S intermediate overflows
  * Long at h ≈ 10^5 (found by the star graph of PageRankScale, a
  * scale main last present at commit fba91a5 — the
  * q01 scaled-long overflow lesson, one operator later). DECIMAL(38)
  * holds 10^38 — no realizable graph reaches it.
  *
  * Per round: one equi-join of ranks onto the degree-carrying edge
  * table (the edges persist pre-hashed on node with their out-degree
  * folded onto each row), one partial-aggregated sum onto
  * destinations, so round cost is linear in |E|. How the join runs
  * depends on scale, because the rounds plan statically (AQE off,
  * [[TightLoop]]) and the static planner broadcasts any side
  * estimated under `spark.sql.autoBroadcastJoinThreshold` (10 MB by
  * default). Captured q101 round plans: at sf0.001 and sf0.1 the join
  * is a BroadcastHashJoin that broadcasts the previous round's rank
  * frame — node-count-sized, estimated small off the materialized
  * edge cache — every round; at 10× it is a SortMergeJoin with no
  * exchange on either side, the ranks coming out of the previous
  * round's hash split and the edges out of the cache's.
  *
  * Contract: `edges(a, b)` is the directed edge list; nodes without
  * in-edges drop out after round 1 (feed a symmetric edge list for
  * undirected graphs, where min-degree ≥ 1 holds by construction).
  * The damping leak (remainders of the integer divisions) is part of
  * the defined algorithm — both engines truncate identically.
  */
object PageRank {

  val Unit0: Long = 1000000000000L // fixed-point scale: rank 1.0

  /** Can `iters` rounds run entirely in LONG arithmetic for a graph
    * whose max IN-degree is `maxInDeg`? Per-round worst case: a node's
    * incoming sum S ≤ maxInDeg · bound (each in-neighbor contributes
    * ≤ its own rank), and the damping numerator 15·Unit0 + 85·S is
    * the largest intermediate. The bound recursion mirrors the round
    * arithmetic exactly; 2× headroom against Long.MaxValue on every
    * round's intermediate. Long and decimal rounds produce IDENTICAL
    * integers (both are exact floor division over exact sums) — the
    * width is a cost choice, never a semantics choice
    * ([[graft.operators.PageRankSpec]] pins the equality).
    */
  private[operators] def longSafe(maxInDeg: Long, iters: Int): Boolean = {
    var bound = BigInt(Unit0)
    var ok = true
    for (_ <- 1 to iters) {
      val t = BigInt(15) * Unit0 + BigInt(85) * maxInDeg * bound
      if (t > Long.MaxValue / 2) ok = false
      bound = t / 100 + 1
    }
    ok
  }

  /** `symmetric = true` asserts the caller built a symmetric edge
    * list (every (a,b) has its (b,a)); then in-degree == the
    * out-degree the cached edge table already carries, and the
    * measured max degree decides the numeric width of the rounds via
    * [[longSafe]] — codegen'd long arithmetic (half the per-round
    * shuffle bytes, no per-row BigDecimal) when the bound holds,
    * the DECIMAL(38,0) fallback when it doesn't (hub graphs) or when
    * the caller can't vouch for symmetry (directed graphs would need
    * a separate in-degree pass to bound safely; decimal is always
    * safe). `forceDecimal` pins the fallback for the equality spec.
    * Either way the frame declares (node, v DECIMAL(38,0)) — the long
    * rounds cast to it as they emit, the same integers — and the rounds
    * run when the frame executes ([[graft.plans.Deferred]]).
    */
  def fixedPoint(edges: DataFrame, iters: Int, checkpointEvery: Int = 10,
      symmetric: Boolean = false, forceDecimal: Boolean = false): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // ONE persisted edge table carrying its out-degree alongside each
    // edge: the degree rides the same hash layout as the edges (an
    // unordered count window over the repartition key — no exchange,
    // no join), so each round is a single co-partitioned rank⋈edges
    // join plus the destination aggregation. r7 ran TWO joins per
    // round (ranks⋈degrees, then ⋈edges); folding d onto the edge row
    // computes the identical floor(v/d) per edge — same exact integer
    // per (node, edge), summed in the same exact DECIMAL arithmetic —
    // while deleting a join stage per iteration (r8 iterative-floor
    // shave: q101 5.3 → 3.9 s at sf0.1).
    val dec = DecimalType(38, 0)
    val sel = edges.select(col("a"), col("b"))
    val ranks = new StructType().add("node", sel.schema("b").dataType).add("v", dec)
    graft.plans.Deferred.frame(sel, ranks) { sel =>
      // ONE job materializes the input before the loop scope: the
      // rounds read the checkpoint's blocks, so the input's rows are
      // computed once, and the EXACT row count observed on that job
      // sizes the loop partitions instead of a byte estimate.
      val (cp, rows) = TightLoop.materialize(sel)
      // The whole iteration executes HERE, inside a TightLoop scope (AQE
      // off + data-sized partitions), as ONE job ending in an eager
      // localCheckpoint: under AQE the caller's action ran every
      // exchange as its own scheduling round-trip (probe-measured 19
      // jobs for 5 rounds — more wall in stage latency than in compute).
      // Inside the scope a shuffled round join is exchange-free by
      // construction — v comes out of the previous round's groupBy
      // hash-split exactly like the cached edge layout — so the
      // per-round cost is the single destination-sum exchange; where the
      // rank frame is estimated under the broadcast threshold (sf0.1 and
      // below) the static planner broadcasts it instead (see above).
      TightLoop.scoped(cp, rows) { cp =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
        val e = cp.repartition(col("a")).withColumn("d", count(lit(1)).over(w)).persist()
        // the edge cache lives for the rounds only: the result is an
        // eager checkpoint whose blocks free via ContextCleaner once the
        // consumer's execution drops them
        try {
          // Numeric width for the rounds: measure max degree off the
          // cached edge table (materializes the cache one job early —
          // the loop job then reads it back; same total work) and take
          // the long path iff the closed-form bound clears. The decimal
          // fallback is the always-safe width.
          val useLong = symmetric && !forceDecimal && {
            val m = e.agg(max(col("d"))).head().getAs[Any](0)
            longSafe(if (m == null) 0L else m.asInstanceOf[Long], iters)
          }
          // init: every node with out-edges starts at rank 1.0; distinct
          // over the cached layout needs no exchange (already hash-split on a)
          val init0 = e.select(col("a").as("node")).distinct()
          var v =
            if (useLong) init0.select(col("node"), lit(Unit0).as("v"))
            else init0.select(col("node"), lit(Unit0).cast(dec).as("v"))
          var prevCp: DataFrame = null
          for (k <- 1 to iters) {
            val joined = v.join(e, col("node") === col("a"))
            v =
              if (useLong)
                // `div` (IntegralDivide), NOT floor(v/d): long `/` is
                // double division in Spark SQL and a 2^44-scale quotient
                // can round across the floor; div is the exact integer op
                joined.groupBy(col("b"))
                  .agg(sum(expr("v div d")).as("s"))
                  .select(col("b").as("node"),
                    expr(s"(${15 * Unit0} + 85 * s) div 100").as("v"))
              else
                joined.groupBy(col("b"))
                  // floor over the exact rational = integer division for the
                  // non-negative operands here; both engines agree exactly
                  .agg(sum(floor(col("v") / col("d")).cast(dec)).as("s"))
                  .select(col("b").as("node"),
                    floor((lit(15 * Unit0).cast(dec) + lit(85).cast(dec) * col("s")) / 100)
                      .cast(dec).as("v"))
            // deep iteration counts: truncate lineage so round N's plan
            // does not embed rounds 1..N-1 (the q69 components discipline)
            if (k % checkpointEvery == 0 && k < iters) {
              v = v.localCheckpoint()
              if (prevCp != null) prevCp.unpersist(blocking = false)
              prevCp = v
            }
          }
          val out = v.localCheckpoint()
          if (prevCp != null) prevCp.unpersist(blocking = false)
          (out.select(col("node"), col("v").cast(dec).as("v")), ())
        } finally e.unpersist(blocking = false)
      }._1
    }
  }
}
