package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point PageRank invariants: exact hand-checked arithmetic on a
  * tiny graph (the determinism IS the feature — any engine change that
  * shifts a single integer division breaks these), mass conservation
  * up to the defined truncation leak, and checkpoint-invariance.
  */
class PageRankSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def sym(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("a", "b")
  }

  private def ranks(df: DataFrame): Map[Long, Long] =
    try df.collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    finally graft.CacheScope.drain()

  /** Ranks plus whether the rounds ran in long arithmetic: the long
    * path's integer division (`div`) shows in the executed round plans,
    * captured by a listener on a session clone the frame runs in.
    */
  private def ranksAndWidth(edges: DataFrame, iters: Int,
      forceDecimal: Boolean = false): (Map[Long, Long], Boolean) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val s = SparkBridge.cloneSession(spark)
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val df = PageRank.fixedPoint(SparkBridge.ofPlan(s, SparkBridge.logicalPlan(edges)), iters,
      symmetric = true, forceDecimal = forceDecimal)
    assert(df.schema("v").dataType == DecimalType(38, 0))
    val r = ranks(df)
    SparkBridge.waitUntilEmpty(spark.sparkContext)
    (r, plans.toArray(Array.empty[String]).exists(_.contains(" div ")))
  }

  test("long-width rounds equal the decimal rounds bit-for-bit") {
    val g = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L), (5L, 6L))
    val (fastR, fastLong) = ranksAndWidth(g, 7)
    assert(fastLong, "low-degree symmetric graph must take the long path")
    val (slowR, slowLong) = ranksAndWidth(g, 7, forceDecimal = true)
    assert(!slowLong)
    assert(fastR == slowR)
    // hand-checked round-1 values still hold through the long path
    val one = ranksAndWidth(sym((1L, 2L), (2L, 3L)), 1)._1
    assert(one == Map(1L -> 575000000000L, 2L -> 1850000000000L, 3L -> 575000000000L))
  }

  test("longSafe bound: low degrees clear, hub degrees and deep iteration fall back") {
    assert(PageRank.longSafe(2, 5)) // the q101 shape, orders of headroom
    assert(PageRank.longSafe(2, 10))
    assert(PageRank.longSafe(0, 3)) // empty graph degenerates safely
    assert(!PageRank.longSafe(200000, 5)) // the documented hub overflow
    // the worst-case recursion is deliberately loose (grows ~1.7^k for
    // degree 2) — depth eventually forces the always-safe decimal width
    assert(!PageRank.longSafe(2, 50))
  }

  test("one round on the symmetric 3-path matches hand arithmetic") {
    // deg: 1→1, 2→2, 3→1; contribs: 1 and 3 send 1.0, 2 sends 0.5 each way
    // v(1) = v(3) = (15e12 + 85·0.5e12) div 100 = 0.575 units
    // v(2) = (15e12 + 85·2e12)  div 100 = 1.85 units
    val r = ranks(PageRank.fixedPoint(sym((1L, 2L), (2L, 3L)), 1))
    assert(r == Map(1L -> 575000000000L, 2L -> 1850000000000L, 3L -> 575000000000L))
  }

  test("mass conserved up to the truncation leak; hub outranks leaves") {
    val star = sym((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L))
    val r = ranks(PageRank.fixedPoint(star, 10))
    val total = r.values.sum
    assert(total <= 6 * PageRank.Unit0)
    assert(total > 6 * PageRank.Unit0 - 10L * 6 * 200) // ≤ ~200 lost per node-round
    assert(r(0L) > r(1L))
    assert((1L to 5L).map(r).toSet.size == 1) // leaves tie exactly
  }

  test("lineage checkpointing does not change a single bit") {
    val g = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L))
    val a = ranks(PageRank.fixedPoint(g, 12, checkpointEvery = 5))
    val b = ranks(PageRank.fixedPoint(g, 12, checkpointEvery = 100))
    assert(a == b)
  }

  test("cache hygiene: action + drain + dropping the frame leaves no persistent RDDs") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = ranks(PageRank.fixedPoint(sym((1L, 2L), (2L, 3L), (3L, 1L)), 5))
    assert(r.nonEmpty)
    // the r8 TightLoop redesign returns a localCheckpoint'ed result:
    // its blocks are reclaimed by the ContextCleaner once the frame is
    // unreachable (the frame was a temporary inside ranks()) — the
    // same lifecycle Bench relies on with its System.gc() between
    // queries. The edge cache unpersists when the rounds end.
    val deadline = System.nanoTime() + 20e9.toLong
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(leaked.isEmpty, s"leaked cache entries: $leaked")
  }
}
