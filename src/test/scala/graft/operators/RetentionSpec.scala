package graft.operators

import graft.TestSpark
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Retention composed over the PRODUCTION pair source
  * ([[NearDup.indexPairs]] — LSH-bucketed, the 100 TB path); the
  * oracle-checked exact-pairs composition is q77.
  */
class RetentionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("retainBest over LSH near-dup pairs: one keeper per cluster, keeper has max quality") {
    val pairs = NearDup.indexPairs(
        NearDup.buildIndex(graft.Tables(spark, dir).documentsSpread), 0.6)
      .select(col("doc_a"), col("doc_b")).cache()
    val scored = graft.Tables(spark, dir).documents
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
    val out = Retention.retainBest(pairs, scored, "doc_id", "quality").cache()

    // every doc is present exactly once
    assert(out.count() == scored.count())
    assert(out.select("doc_id").distinct().count() == scored.count())

    // exactly one keeper per component
    val perComp = out.groupBy("component")
      .agg(sum("keep").as("kept"), count(lit(1)).as("n"))
    assert(perComp.filter(col("kept") =!= 1).count() == 0)

    // the keeper's quality is the component max
    val best = out.groupBy("component").agg(max("quality").as("best_q"))
    val keepers = out.filter(col("keep") === 1)
      .join(best, "component")
    assert(keepers.filter(col("quality") =!= col("best_q")).count() == 0)

    // multi-member clusters exist in this corpus (the test is not vacuous)
    assert(perComp.filter(col("n") > 1).count() > 0)

    // kept corpus = total docs − collapsed duplicates, on a fresh build
    val collapsed = out.filter(col("keep") === 0).count()
    assert(Retention.retainBest(pairs, scored, "doc_id", "quality")
      .filter(col("keep") === 1).count() == scored.count() - collapsed)
    out.unpersist(); pairs.unpersist()
  }

  test("retainBest with zero pairs: every doc is its own component and keeps itself") {
    import spark.implicits._
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.1)).toDF("id", "sc")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = Retention.retainBest(empty, scored, "id", "sc").collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getLong(0) == r.getLong(1))) // own component
    assert(out.forall(_.getInt(3) == 1)) // all kept
  }

  test("retainBest == union-find model on random graphs (components, keeper choice, tiebreaks)") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 4) {
      val n = 30 + rng.nextInt(40)
      val ids = (0L until n).toSeq
      val edges = Seq.fill(rng.nextInt(60))(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)).filter(e => e._1 != e._2)
      // scores with deliberate ties to exercise the id tiebreak
      val score = ids.map(i => i -> (rng.nextInt(5) / 4.0)).toMap

      // independent model: union-find → min-id component, keeper =
      // (max score, min id) per component
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // only nodes incident to an edge cluster; isolated nodes keep themselves
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val compOf = ids.map { i =>
        i -> (if (touched(i)) ids.filter(j => touched(j) && find(j) == find(i)).min else i)
      }.toMap
      val expectedKeep = ids.groupBy(compOf)
        .values.map(ms => ms.minBy(m => (-score(m), m))).toSet

      val pairsDf = edges.toDF("a", "b")
      val scoredDf = ids.map(i => (i, score(i))).toDF("id", "sc")
      val out = Retention.retainBest(pairsDf, scoredDf, "id", "sc").collect()
      val gotComp = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotKeep = out.filter(_.getInt(3) == 1).map(_.getLong(0)).toSet
      assert(gotComp == compOf, s"components differ (n=$n, edges=${edges.size})")
      assert(gotKeep == expectedKeep, s"keepers differ (n=$n, edges=${edges.size})")
    }
  }
}
