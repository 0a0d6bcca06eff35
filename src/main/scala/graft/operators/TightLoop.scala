package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.SparkBridge

/** Execution scope for driver-driven iterative loops (components,
  * PageRank): AQE off + a data-sized shuffle-partition count for the
  * loop's internal actions, and for nothing else.
  *
  * Why: a star/propagation round at moderate data is a 2-3-exchange
  * plan over a few hundred thousand rows. Under AQE every exchange
  * materializes as its own job (probe-measured on q91: 32 jobs for 6
  * rounds at ~170 ms of scheduling each — the whole 5.7 s wall was
  * stage round-trips, not compute); with AQE simply off, every
  * exchange instead runs at the session's static partition count (32
  * tasks of ~10k rows), and per-TASK overhead made the same loop 1.9×
  * SLOWER (10.7 s measured). The loop wants BOTH knobs at once: one
  * job per round (AQE off) AND few, right-sized partitions — which is
  * exactly what this scope sets, replicating AQE's coalescing
  * statically from the loop input's row count.
  *
  * At scale nothing is lost: [[scoped]] grows partitions linearly
  * with that count and caps them at the session's configured shuffle
  * parallelism (the cluster-sized setting), and window/aggregate
  * exchanges get no skew mitigation from AQE anyway (OptimizeSkewedJoin
  * only rewrites joins). Joins inside a round are planned statically,
  * so a side estimated under `spark.sql.autoBroadcastJoinThreshold`
  * is broadcast: q101's PageRank rounds broadcast the rank frame at
  * sf0.001 and sf0.1 and run exchange-free sort-merge joins at 10×
  * (see [[PageRank]]).
  *
  * Contract: the scope is the loop's own session. [[scoped]] runs
  * the body on a clone of the input frame's session (the clone shares
  * the SparkContext and the cache, and inherits the session's conf,
  * functions and `QueryExecutionListener`s), sets the two loop knobs
  * on the clone only, and hands the body its input rebound into the
  * clone. The caller's session conf is never written, so queries
  * planned concurrently on other threads keep their own settings, and
  * a loop inside a loop is a clone of a clone. The body must derive
  * every frame it plans from the input it is handed: a frame of the
  * caller's session would plan with AQE on. The clone is made here,
  * by the tiers that loop, and not per kernel execution: a fresh
  * clone plans its first query 40–90 ms slower than a warm session,
  * and cloning on every execution made q91's driver tier slower
  * (sf0.1, 4 cores: 1,548 → 1,795 ms median, slower in 6 of 7
  * alternating pairs).
  */
object TightLoop {

  /** Loop-input rows per partition: 120k measured best on q91
    * (270k-row symmetric chain set: 1 part 4.7 s, 3 parts 2.8 s —
    * enough parallelism to overlap the round's sorts while tasks stay
    * ~20-40 ms).
    */
  private[operators] val RowsPerPartition = 120000L

  /** The one input protocol of both graph loops: `df` materialized
    * once as an eager local checkpoint, with its EXACT row count
    * observed on that same job. The count picks the kernel's tier and
    * sizes [[scoped]]; every later action reads the checkpoint's
    * blocks, so the input's rows are computed once per execution.
    */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    (cp, obs.get("n").asInstanceOf[Long])
  }

  /** Partition count for the loop's exchanges from an exact row count,
    * capped at the session's shuffle parallelism. Optimizer byte
    * estimates through explode/join-heavy pair pipelines inflate by
    * orders of magnitude (q77's LSH pair plan estimated 41 GB for a
    * ~20k-row edge list, driving the loop to the slow
    * many-tiny-partitions configuration), so the loop never sizes
    * from them.
    */
  private def partsForRows(spark: SparkSession, rows: Long): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    ((rows + RowsPerPartition - 1) / RowsPerPartition)
      .min(cap.toLong).max(1L).toInt
  }

  /** Run `body` on `input` rebound into a clone of its session with
    * AQE off and shuffle partitions sized from `rows`, the loop's
    * exact input row count (see [[materialize]]). The frame the body
    * returns (the loop's result, normally an eager checkpoint) is
    * rebound to `input`'s session before it leaves the scope, so
    * downstream plans get the caller's conf; `A` carries anything else
    * the loop reports, such as its round count.
    */
  def scoped[A](input: DataFrame, rows: Long)(body: DataFrame => (DataFrame, A)): (DataFrame, A) = {
    val loop = SparkBridge.cloneSession(input.sparkSession)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions", partsForRows(input.sparkSession, rows).toString)
    val (out, extra) = body(SparkBridge.ofPlan(loop, SparkBridge.logicalPlan(input)))
    (SparkBridge.ofPlan(input.sparkSession, SparkBridge.logicalPlan(out)), extra)
  }
}
