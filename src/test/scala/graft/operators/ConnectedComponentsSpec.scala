package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Both tiers of [[ConnectedComponents.run]] — driver union-find and
  * the contraction + alternating star loop (forced through
  * `starLoop`) — must produce the exact transitive closure: min
  * reachable id per node, every incident node labeled. Each tier is
  * checked against literal expected labels and against the other, an
  * independent exact algorithm.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("chain, clique, and isolated pair resolve to min-id components") {
    // components: chain {1,2,3,4}, clique {10,11,12}, pair {20,21}
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),          // chain 1-2-3-4
      (10L, 11L), (11L, 12L), (10L, 12L),    // triangle
      (21L, 20L)).toDF("a", "b")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap == want)
    assert(ConnectedComponents.starLoop(edges)._1.as[(Long, Long)].collect().toMap == want)
  }

  test("long chain converges within the iteration budget (diameter > 2 rounds)") {
    val n = 12L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val want = (1L to n).map(_ -> 1L).toMap
    assert(ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap == want)
    assert(ConnectedComponents.starLoop(edges)._1.as[(Long, Long)].collect().toMap == want)
  }

  test("empty edge list yields empty labeling") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.starLoop(edges)._1.count() == 0L)
  }

  test("alternating matches hash-min on chain, clique, and pair") {
    // hash-min's fixpoint is the min reachable id per node: the literal
    // labels below, which the driver tier must give too
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L), (30L, 30L)).toDF("a", "b")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L) // self-loop-only node still labeled
    val viaDriver = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    val viaStar = ConnectedComponents.starLoop(edges)._1
      .as[(Long, Long)].collect().toMap
    assert(viaStar == want)
    assert(viaDriver == want)
  }

  test("alternating labels a 512-link chain in O(log n) rounds") {
    // Worst case for min-label propagation (rounds = diameter = 511);
    // the star-alternation must stay logarithmic AND exact.
    val n = 512L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = ConnectedComponents.starLoop(edges)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (1L to n).map(_ -> 1L).toMap)
    assert(rounds <= 15, s"expected O(log n) rounds, got $rounds")
  }

  test("contraction-solved graph certifies fixpoint with zero star rounds") {
    // single-partition input → the local-contraction pre-pass emits
    // the complete star forest; the direct star-forest test must
    // certify it WITHOUT paying a confirm star round (r12), and the
    // join-free label emit must still cover every incident node
    val n = 64L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b").coalesce(1)
    val (labels, rounds) = ConnectedComponents.starLoop(edges)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (1L to n).map(_ -> 1L).toMap)
    assert(rounds == 0,
      s"contraction + star-forest test should skip the loop, got $rounds rounds")
  }

  test("alternating matches hash-min on a seeded random graph") {
    // hash-min's fixpoint (min reachable id per node) is what the
    // driver union-find tier computes, independently of the star loop
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a", "b")
    // 300 edges < MaxDriverEdges → run takes the driver union-find tier
    val viaDriver = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    val viaStar = ConnectedComponents.starLoop(edges)._1
      .as[(Long, Long)].collect().toMap
    assert(viaDriver.nonEmpty)
    assert(viaStar == viaDriver)
  }

  // --- adaptive dispatch: both tiers must be byte-identical ---------

  private def mixedGraph = Seq(
    (2L, 1L), (2L, 3L), (4L, 3L),          // chain
    (10L, 11L), (11L, 12L), (10L, 12L),    // triangle
    (21L, 20L), (30L, 30L),                // pair + self-loop-only
    (40L, 41L), (41L, 40L), (40L, 41L)     // duplicate + reversed edges
  ).toDF("a", "b")

  test("adaptive (driver tier) matches alternating on the mixed graph") {
    val viaStar = ConnectedComponents.starLoop(mixedGraph)._1
      .as[(Long, Long)].collect().toMap
    // 11 edges < MaxDriverEdges → driver union-find tier
    val viaDriver = ConnectedComponents.run(mixedGraph)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaStar)
    assert(viaDriver(30L) == 30L)
  }

  test("driver tier output schema matches the distributed tier's types") {
    val intEdges = Seq((2, 1), (3, 2)).toDF("a", "b")
    val driverTier = ConnectedComponents.run(intEdges)
    val starTier = ConnectedComponents.starLoop(intEdges)._1
    assert(driverTier.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      starTier.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(driverTier.as[(Int, Int)].collect().toMap ==
      starTier.as[(Int, Int)].collect().toMap)
  }

  test("both sides of the dispatch bound agree on a 512-link chain") {
    val n = 512L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val want = (1L to n).map(_ -> 1L).toMap
    // 511 edges ≤ MaxDriverEdges → run takes the driver tier; starLoop
    // forces the distributed tier
    val viaDriver = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    val viaStar = ConnectedComponents.starLoop(edges)._1
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == want)
    assert(viaStar == want)
  }

  test("an input of more than MaxDriverEdges rows is computed once per execution") {
    // a small plan estimate (~8 MB over spark.range) with more rows
    // than MaxDriverEdges, contracting to a handful of edges: the
    // contraction job is the only pass over the input
    val rows = ConnectedComponents.MaxDriverEdges + 1
    val computed = spark.sparkContext.longAccumulator("cc-input-rows")
    val counted = org.apache.spark.sql.functions.udf { (_: Long) =>
      computed.add(1); 1L
    }.asNondeterministic()
    val edges = spark.range(rows)
      .select(counted($"id").as("a"), org.apache.spark.sql.functions.lit(2L).as("b"))
    val labels = ConnectedComponents.run(edges)
    assert(labels.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
    assert(computed.value == rows, s"${computed.value} input rows computed for $rows")
    assert(labels.count() == 2L)
    assert(computed.value == 2 * rows, s"${computed.value} input rows computed over two executions")
  }

  test("non-integral ids are rejected with their type named") {
    // both tiers widen through LongType; fractional ids must fail
    // loudly before any job runs, not truncate
    val edges = Seq((1.5, 2.5), (2.5, 3.5), (10.25, 10.25)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.run(edges)
    }
    assert(ex.getMessage.contains("double"), ex.getMessage)
    intercept[IllegalArgumentException] { ConnectedComponents.starLoop(edges) }
  }

  test("adaptive on empty edges yields empty labeling") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.run(edges).count() == 0L)
  }

  test("driver tier rejects null node ids loudly") {
    val edges = Seq((Some(1L), Some(2L)), (Some(3L), None))
      .toDF("a", "b")
    val ex = intercept[Exception] {
      ConnectedComponents.run(edges).collect()
    }
    assert(ex.getMessage.contains("null node id") ||
      Option(ex.getCause).exists(_.getMessage.contains("null node id")))
  }
}
