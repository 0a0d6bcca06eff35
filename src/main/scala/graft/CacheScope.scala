package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.CachedData

/** Cleanup registry for intermediates persisted inside a query lambda.
  *
  * A query that caches a shared sub-plan (an LSH signature, a PQ
  * sub-distance table) cannot unpersist it before returning — the
  * returned DataFrame is lazy and the cache is only populated (and
  * read) when the CALLER runs an action. Routing those persists
  * through [[scoped]] records them so the caller can release every
  * block with one [[drain]] after its action completes.
  * `graft.Verify` and `graft.Bench` drain after each query; library
  * callers embedding a query in a longer-lived session should do the
  * same (or accept LRU eviction pressure).
  *
  * CONTRACT — per thread: build a query, run one action, then drain,
  * all on one thread. Registrations belong to the thread that made
  * them, and [[drain]] releases only the calling thread's, so queries
  * on other threads of the same session keep their caches.
  *   - Two queries may persist the same plan (q27 and q103 both build
  *     `TextQueries.lshCandidates`), which Spark stores as ONE cache
  *     entry. Each entry counts its undrained registrations across
  *     threads, and only the drain that releases the last one
  *     unpersists it.
  *   - After drain, re-running an action on a returned frame
  *     recomputes scoped sub-plans uncached; for the
  *     [[graft.operators.DistributedRank]] kernels specifically the
  *     recomputed range partitioning may sample differently than the
  *     driver-frozen offsets, so collect results BEFORE draining and
  *     treat returned frames as single-action.
  */
object CacheScope {
  /** This thread's registrations since its last [[drain]]. */
  private val mine = ThreadLocal.withInitial(() => mutable.ArrayBuffer[(DataFrame, CachedData)]())
  /** Undrained registrations per cache entry, over all threads; guarded
    * by `holders` itself, which also orders a persist against a
    * concurrent last-holder unpersist of the same entry.
    */
  private val holders = mutable.Map[CachedData, Int]()

  /** Persist `df` and register it for this thread's next [[drain]]. */
  def scoped(df: DataFrame): DataFrame = holders.synchronized {
    val p = df.persist()
    val cache = p.sparkSession.sharedState.cacheManager
    cache.lookupCachedData(p.asInstanceOf[classic.Dataset[_]]).foreach { entry =>
      holders(entry) = holders.getOrElse(entry, 0) + 1
      mine.get += (p -> entry)
    }
    p
  }

  /** Below this optimizer size estimate a shared subtree is cheaper
    * to recompute than to materialize: the r7→r8 measurements had the
    * unconditional persist costing q125 1.95× and q111 1.29× at sf0.1
    * while winning 1.3–1.6× at 100×. Measured estimates for those
    * subtrees: 0.5–0.9 MB at sf0.1 vs 53–95 MB at 100× — 16 MB sits
    * 16× above the small side and 3× below the large side.
    */
  val DefaultLargeInputBytes: Long = 16L << 20

  /** [[scoped]] only when the subtree's optimizer size estimate says
    * the input is big enough for materialization to pay for itself;
    * below the threshold the frame is returned unpersisted and each
    * consumer recomputes it (correct for any deterministic subtree —
    * the same contract recomputation after [[drain]] already relies
    * on). Size comes from `optimizedPlan.stats.sizeInBytes` — scan
    * estimates (file sizes) propagated through projections — so the
    * decision needs no extra job.
    */
  def scopedIfLarge(
      df: DataFrame,
      minInputBytes: Long = DefaultLargeInputBytes): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes >= minInputBytes) scoped(df)
    else df

  /** Release (non-blocking) every registration this thread made since
    * its last drain, unpersisting each entry no other thread still
    * holds. Safe to call with nothing registered, and safe to call
    * after `catalog.clearCache()` (unpersist of an evicted frame is a
    * no-op).
    */
  def drain(): Unit = {
    val regs = mine.get
    mine.remove()
    holders.synchronized {
      regs.foreach { case (df, entry) =>
        val left = holders(entry) - 1
        if (left > 0) holders(entry) = left
        else {
          holders.remove(entry)
          try df.unpersist(blocking = false) catch { case _: Throwable => () }
        }
      }
    }
  }
}
