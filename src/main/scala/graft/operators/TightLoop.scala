package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Execution scope for driver-driven iterative loops (components,
  * PageRank): AQE off + a data-sized shuffle-partition count for the
  * duration of the loop's internal actions, restored on exit.
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
  * Contract: same single-owner threading rule as [[graft.CacheScope]]
  * — session conf is process-global, so a concurrent query planned
  * while a loop holds the scope would pick up the loop's settings
  * (AQE off + a loop-sized partition count) without asking for them.
  * Build and run queries sequentially per session.
  *
  * The contract is ENFORCED, not just documented (the same CAS-owner
  * pattern [[graft.CacheScope]] uses): [[scoped]] records the owning
  * thread on entry, a second thread opening a scope while one is held
  * throws loudly instead of stacking conf mutations whose unwind
  * order would restore the WRONG previous values, and same-thread
  * re-entry (a loop inside a loop) is rejected for the same reason —
  * the inner restore would reinstate the outer loop's settings as if
  * they were the session's. Exit always releases ownership, even when
  * the body throws.
  */
object TightLoop {

  /** Owning thread of the currently open scope, or null. One scope per
    * process at a time: the conf being mutated is process-global.
    */
  private val owner = new java.util.concurrent.atomic.AtomicReference[Thread](null)

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

  def scoped[A](spark: SparkSession, parts: Int)(body: => A): A = {
    val me = Thread.currentThread()
    val prev = owner.compareAndExchange(null, me)
    if (prev != null)
      throw new java.util.ConcurrentModificationException(
        s"TightLoop: thread '${me.getName}' tried to open a loop scope while " +
          s"thread '${prev.getName}' holds one — the scope mutates process-global " +
          "session conf (AQE off, loop-sized shuffle partitions), so a second " +
          "scope would plan with the first's settings and restore them in the " +
          "wrong order (see the object contract); run loops sequentially")
    val conf = spark.conf
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    val prevParts = conf.getOption("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body
    finally {
      prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        conf.set("spark.sql.adaptive.enabled", _))
      prevParts.fold(conf.unset("spark.sql.shuffle.partitions"))(
        conf.set("spark.sql.shuffle.partitions", _))
      owner.set(null)
    }
  }
}
