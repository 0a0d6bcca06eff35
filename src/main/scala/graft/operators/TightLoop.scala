package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * statically from the optimizer's size estimate.
  *
  * At scale nothing is lost: [[partsFor]] grows partitions linearly
  * with the input estimate and caps at the session's configured
  * shuffle parallelism (the cluster-sized setting), and the AQE
  * features that matter to these loops' plans do not apply inside a
  * round anyway — window/aggregate exchanges get no skew mitigation
  * from AQE (OptimizeSkewedJoin only rewrites joins), and the
  * co-partitioned round joins must NOT be broadcast-converted (that
  * is the q101 "nothing node-count-sized broadcast" discipline).
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
  * caller's session would plan with AQE on.
  */
object TightLoop {

  /** Partition count for the loop's exchanges: linear in the
    * optimizer's size estimate for the loop's input (no extra job),
    * one partition per ~8 MB of estimated input, capped at the
    * session's shuffle parallelism. Only for inputs whose estimate is
    * scan-derived and sane (q101's orders window) — pair pipelines
    * need [[partsForRows]].
    */
  def partsFor(df: DataFrame, bytesPerPartition: Long = 8L << 20): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / bytesPerPartition).min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /** Partition count from an EXACT row count (preferred when the loop
    * input is materialized anyway and a count is free — an observe on
    * an existing checkpoint, or a cache-warming count): optimizer
    * byte estimates through explode/join-heavy pair pipelines inflate
    * by orders of magnitude (q77's LSH pair plan estimated 41 GB for
    * a ~20k-row edge list, driving the loop to the slow
    * many-tiny-partitions configuration). 120k edge rows per
    * partition measured best on q91 (270k-row symmetric chain set:
    * 1 part 4.7 s, 3 parts 2.8 s — enough parallelism to overlap the
    * round's sorts while tasks stay ~20-40 ms).
    */
  def partsForRows(
      spark: SparkSession,
      rows: Long,
      rowsPerPartition: Long = 120000L): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    ((rows + rowsPerPartition - 1) / rowsPerPartition)
      .min(cap.toLong).max(1L).toInt
  }

  /** Run `body` on `input` rebound into a clone of its session with
    * AQE off and `parts` shuffle partitions. The frame the body returns
    * (the loop's result, normally an eager checkpoint) is rebound to
    * `input`'s session before it leaves the scope, so downstream
    * plans get the caller's conf; `A` carries anything else the loop
    * reports, such as its round count.
    */
  def scoped[A](input: DataFrame, parts: Int)(body: DataFrame => (DataFrame, A)): (DataFrame, A) = {
    val loop = SparkBridge.cloneSession(input.sparkSession)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val (out, extra) = body(SparkBridge.rebind(loop, input))
    (SparkBridge.rebind(input.sparkSession, out), extra)
  }
}
