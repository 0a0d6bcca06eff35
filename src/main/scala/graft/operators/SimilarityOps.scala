package graft.operators

import graft.functions.Float32Dot
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Approximate-nearest-neighbor scale paths over an embedding column.
  * The oracle-checked brute-force baseline lives in
  * [[SimilarityQueries]]; these operators trade exactness for the
  * shapes that survive 100 TB, and are validated by recall tests
  * against the baseline ([[graft.operators.SimilaritySpec]]).
  *
  * Both paths avoid the O(n²) cross join: candidates are co-located
  * by a bucketing key (IVF centroid id / LSH signature), so the join
  * is an equi-join that shuffles each side once on a well-distributed
  * key — broadcastable probe sides stay broadcast.
  */
object SimilarityOps {

  /** The fixed deterministic centroid set: the `k` vectors with the
    * lowest ids (stand-in for a k-means fit, which would just refine
    * the same structure). Tiny by construction — always broadcast.
    */
  def ivfCentroids(embeddings: DataFrame, k: Int): DataFrame =
    embeddings.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  /** IVF-flat: assign every vector to its nearest centroid; queries
    * then scan only their `nprobe` nearest cells.
    *
    * At scale: `assign` is a broadcast join against k centroids (no
    * shuffle of the big side beyond the final groupBy), and search
    * becomes an equi-join on `cell`.
    */
  /** Float32 cosine from precomputed squared norms: one dot per pair
    * instead of three, and the final FLOAT cast makes ranking
    * identical across engines (1-ulp double differences cannot flip a
    * rank — the same contract the oracled q30/q31 use).
    */
  private def cosF(av: Column, bv: Column, ansq: Column, bnsq: Column): Column =
    (dot(av, bv) / sqrt(ansq * bnsq)).cast(FloatType)

  def ivfAssign(embeddings: DataFrame, k: Int): DataFrame =
    ivfAssign(embeddings, ivfCentroids(embeddings, k))

  /** Assignment against a CALLER-SUPPLIED centroid frame — the form a
    * caller that already has the centroids (cached sliver, trained
    * model) should use, so the centroid derivation isn't re-planned
    * (and at 100 TB re-scanned) inside the assignment. q54 shares one
    * persisted sliver between this and the probe side.
    */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val e = embeddings.withColumn("nsq", normSq(col("embedding")))
    val c = centroids.withColumn("cnsq", normSq(col("cv")))
    // Nearest-centroid by ARGMAX AGGREGATION, not a row_number window
    // (r9): the window form exchanged the full n×k cross-join output —
    // embeddings included — to rank k rows per vector; max_by with the
    // (sim, −cid) ordering struct (same sim-desc, cid-asc tiebreak,
    // bitwise-identical selection) reduces map-side to ONE row per
    // vector per partition before any exchange, so the shuffle is
    // n rows regardless of k. That is what lets k grow with the
    // corpus (q102's SemDeDup contract) without the assignment
    // becoming the new quadratic term.
    e.crossJoin(broadcast(c))
      .withColumn("sim", cosF(col("embedding"), col("cv"), col("nsq"), col("cnsq")))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("cid"), col("embedding")),
        struct(col("sim"), (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cid").as("cell"))
  }

  /** Top-k neighbors for `queries` (vec_id, embedding), searching each
    * query's `nprobe` nearest IVF cells (the standard recall lever at
    * cell boundaries: a query near the edge of its own cell probes the
    * adjacent ones too). `centroids` must be the set `assigned` was
    * built from; probing is a broadcast cross join against it, so
    * raising `nprobe` multiplies only the candidate equi-join volume,
    * never adds a shuffle.
    */
  def ivfSearch(
      assigned: DataFrame,
      queries: DataFrame,
      topK: Int,
      centroids: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qnsq", normSq(col("qv")))
    val c = centroids.withColumn("cnsq", normSq(col("cv")))
    val pw = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val probes = q.crossJoin(broadcast(c))
      .withColumn("csim", cosF(col("qv"), col("cv"), col("qnsq"), col("cnsq")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qv"), col("qnsq"), col("cid").as("cell"))
    val cands = assigned
      .select(col("cell"), col("vec_id").as("nid"), col("embedding").as("nv"))
      .withColumn("nnsq", normSq(col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    probes.join(cands, "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosF(col("qv"), col("nv"), col("qnsq"), col("nnsq")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("nid"), col("cos"), col("rn"))
  }

  /** Random-hyperplane LSH signature: `bits` pseudo-random hyperplanes
    * derived deterministically from the coordinate index (no RNG —
    * reproducible across runs/engines), signature bit = sign of the
    * projection. Vectors sharing a signature land in one bucket;
    * near-dup candidates are intra-bucket pairs.
    */
  /** Embedding dimensionality of the corpus (TESTDATA embeddings are
    * 64-dim float32); [[Float32Dot]] truncates to the shorter operand,
    * so a shorter vector simply projects onto the hyperplane prefix.
    */
  private val Dim = 64

  /** Hyperplane h_j: components cos(i*(j+1)+j) over coordinates i —
    * fixed, dense, no RNG, reproducible across runs AND engines (the
    * q61 oracle embeds these exact float32 values as SQL literals).
    */
  def hyperplane(j: Int): Array[Float] =
    Array.tabulate(Dim)(i => math.cos(i.toDouble * (j + 1) + j).toFloat)

  /** The signature as a COLUMN over any embedding expression —
    * hyperplanes materialized once as array<float> literals so each
    * projection is ONE codegen'd Float32Dot over the row (the
    * interpreted aggregate(zip_with(...)) form of the same sum
    * measured ~100× slower per row — see VectorFunctions.dotHof).
    * Shared by [[lshSignature]] (q61) and q102's oversized-cell
    * sub-bucketing.
    */
  def lshBucketCol(emb: Column, bits: Int): Column =
    (0 until bits)
      .map(j => when(Float32Dot(emb, typedlit(hyperplane(j))) > 0,
        lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  def lshSignature(embeddings: DataFrame, bits: Int): DataFrame =
    embeddings.withColumn("lsh_bucket", lshBucketCol(col("embedding"), bits))

  /** Intra-bucket candidate pairs with verified float32 cosine ≥
    * `minCos` (norms computed once per vector; same arithmetic as the
    * oracled q31 baseline).
    */
  def lshNearDupPairs(embeddings: DataFrame, bits: Int, minCos: Double): DataFrame = {
    val sig = lshSignature(embeddings, bits)
      .withColumn("nsq", normSq(col("embedding")))
    val a = sig.select(col("lsh_bucket"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("nsq").as("ansq"))
    val b = sig.select(col("lsh_bucket"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("nsq").as("bnsq"))
    a.join(b, Seq("lsh_bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosF(col("va"), col("vb"), col("ansq"), col("bnsq")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
