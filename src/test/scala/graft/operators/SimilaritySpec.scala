package graft.operators

import graft.TestSpark
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-path ANN operators validated against the brute-force
  * baseline on real testdata (sf0.001 embeddings, 500×64-dim).
  */
class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("Float32Dot native expression equals the higher-order-function form bit-exactly") {
    val pairs = emb.limit(50).select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.limit(50).select(col("vec_id").as("b"), col("embedding").as("vb")))
    val diff = pairs.select(
      VectorFunctions.dot(col("va"), col("vb")).as("native"),
      VectorFunctions.dotHof(col("va"), col("vb")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(diff == 0L)
  }

  test("vector functions: cosine self-similarity = 1, symmetry") {
    val two = emb.limit(2).collect()
    val df = emb.limit(1).select(
      VectorFunctions.cosine(col("embedding"), col("embedding")).as("self"))
    assert(math.abs(df.head().getDouble(0) - 1.0) < 1e-12)
    assert(two.length == 2)
  }

  test("IVF search hits its cell's true neighbors (recall vs brute force within cell)") {
    val assigned = SimilarityOps.ivfAssign(emb, k = 8).cache()
    // every vector lands in exactly one cell
    assert(assigned.count() == emb.count())
    assert(assigned.select("cell").distinct().count() <= 8)

    val queries = emb.filter(col("vec_id") % 100 === 0)
    val got = SimilarityOps.ivfSearch(assigned, queries, topK = 3,
      SimilarityOps.ivfCentroids(emb, 8))
    // each query returns ≤3 neighbors, none equal to itself, ranked by cos
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("nid")))
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.values.foreach { rs =>
      assert(rs.length <= 3)
      val sims = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Float]("cos"))
      assert(sims.sameElements(sims.sortBy(-_)))
    }
  }

  test("IVF nprobe lifts recall vs the brute-force top-5 baseline (q54 vs q30 shape)") {
    // This synthetic corpus is isotropic (no cluster structure), so the
    // exact top-5 of a query scatters ~uniformly across cells and the
    // recall/nprobe curve is near-linear (measured: k=16 nprobe=2 →
    // 0.28; k=32 nprobe=16 → 0.92). On clustered real embeddings a
    // small nprobe captures most neighbors; what is testable HERE is
    // the curve itself: monotone in nprobe, ≥0.9 at half the cells,
    // and exactly the brute-force answer when probing every cell.
    val k = 32
    val assigned = SimilarityOps.ivfAssign(emb, k).cache()
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val centroids = SimilarityOps.ivfCentroids(emb, k)

    def hits(nprobe: Int): Set[(Long, Long)] =
      SimilarityOps.ivfSearch(assigned, queries, topK = 5, centroids, nprobe)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet

    val exact = graft.SparkEntry.queries("q30_cosine_topk")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    assert(exact.nonEmpty)
    def recall(s: Set[(Long, Long)]): Double = s.intersect(exact).size.toDouble / exact.size
    val r1 = recall(hits(1)); val r2 = recall(hits(2)); val rHalf = recall(hits(k / 2))
    // the recall lever is monotone: probing more cells never loses hits
    assert(r1 <= r2 && r2 <= rHalf, s"recall not monotone: $r1, $r2, $rHalf")
    assert(r2 > r1, s"nprobe=2 gave no lift over nprobe=1 ($r2 vs $r1)")
    assert(rHalf >= 0.9, s"nprobe=k/2 recall $rHalf < 0.9")
    // probing every cell IS brute force — identical neighbor set
    assert(recall(hits(k)) == 1.0)
  }

  test("LSH buckets: signature deterministic, near-dup pairs verified above threshold") {
    val sig1 = SimilarityOps.lshSignature(emb, bits = 8).select("vec_id", "lsh_bucket")
    val sig2 = SimilarityOps.lshSignature(emb, bits = 8).select("vec_id", "lsh_bucket")
    assert(sig1.except(sig2).count() == 0) // deterministic, no RNG

    val pairs = SimilarityOps.lshNearDupPairs(emb, bits = 4, minCos = 0.2).collect()
    assert(pairs.forall(_.getAs[Float]("cos") >= 0.2f))
    // candidates only from shared buckets → strictly fewer than all-pairs
    assert(pairs.length < 500 * 499 / 2)
  }

  test("int8 quantization (q93 rule) reconstructs with cosine >= 0.999") {
    // same quantizer as q93: scale = 127/max|x|, q = floor(x*scale+0.5)
    val q = emb
      .withColumn("mx", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .filter(col("mx") > 0)
      .withColumn("scale", lit(127.0) / col("mx"))
      .withColumn("deq", transform(col("embedding"), x =>
        floor(x.cast("double") * col("scale") + 0.5) / col("scale")))
      .withColumn("cos",
        aggregate(zip_with(col("embedding"), col("deq"), (a, b) => a.cast("double") * b),
          lit(0.0), (acc, v) => acc + v) /
          (sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, v) => acc + v.cast("double") * v.cast("double"))) *
            sqrt(aggregate(col("deq"), lit(0.0), (acc, v) => acc + v * v))))
    val worst = q.agg(min(col("cos"))).head().getDouble(0)
    assert(worst >= 0.999, s"worst reconstruction cosine $worst")
  }
}
