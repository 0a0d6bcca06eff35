package graft.operators

import graft.Tables
import graft.functions.{CharNgramHashesSorted, LongPosAgreeCount, SortedLongIntersectCount}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType}

/** The production near-duplicate pipeline, two-tier:
  *
  *   1. **exact-dedup collapse** — group by content fingerprint, keep
  *      one canonical per distinct (block, text). This must run first:
  *      exact copies agree on *every* MinHash band, so a k-copy
  *      cluster alone creates k² LSH candidate pairs — at 10×
  *      replicated test scale that OOMed the verify join before this
  *      tier existed;
  *   2. **LSH + exact verify on canonicals** — MinHash-LSH candidates,
  *      then exact char-3-gram Jaccard on candidate pairs only
  *      (O(near-dups), not the exhaustive q29's O(n²));
  *   3. **expansion** — verified canonical pairs fan back out to
  *      member pairs (identical texts ⇒ identical gram sets ⇒ the
  *      canonical pair's Jaccard), and every within-cluster pair is
  *      emitted at Jaccard 1.0. Output follows q29's pair convention
  *      (doc_a < doc_b) and, by default, its (lang, source) blocking.
  *
  * Single-pass feature extraction: each document's distinct char
  * 3-grams are hashed and sorted by ONE kernel call
  * ([[graft.functions.CharNgramHashesSorted]]) in the same projection
  * that fingerprints the text — the corpus text is never touched
  * again. Clusters carry (members, hashes) together, so verification
  * and member expansion are two joins against one persisted
  * canonical-scale table. Per-pair verification is a primitive merge
  * walk ([[graft.functions.SortedLongIntersectCount]]); per-pair
  * `array_intersect` on strings was ~90% of pipeline CPU before.
  *
  * Signature design: the LSH hashes the SAME feature family the
  * verifier measures (char 3-grams) — a word-shingle signature has
  * near-zero recall on corpora whose near-dups are character-level
  * edits (measured word-shingle Jaccard of char-Jaccard-0.6 pairs
  * here: 0.01). 16 MinHash functions = per-seed `xxhash64` re-hashes
  * of the per-gram long, banded 8×2: recall ≈ 1-(1-j²)^8 ≈ 0.97 at
  * j = 0.6, →1 as j→1; precision 1.0 by construction. Band keys are
  * single longs, so the candidate self-join shuffles narrow rows.
  *
  * **Candidate-stage scale knobs** (both verify-volume controls for
  * the LSH gray zone — j just below threshold passes 8×2 banding with
  * high probability, so candidate volume can grow quadratically in
  * sub-threshold twin multiplicity while staying exactly-verified):
  *
  *   - **signature-agreement pre-screen** (`agreeFloor`): candidate
  *     pairs first join the persisted 16-long MinHash signatures
  *     (~130 B/side) and pairs agreeing on fewer than `agreeFloor`
  *     positions are dropped before the multi-KB gram arrays ship.
  *     Position agreement is Bernoulli(j) per hash, so agreement ~
  *     Binomial(16, j); the default floor sits 3σ below the expected
  *     agreement AT the verify threshold
  *     ([[NearDup.defaultAgreeFloor]]: 16·t − 3·√(16·t·(1−t)), = 4 at
  *     t = 0.6), and a banding candidate already carries 2 agreeing
  *     positions from its matched band, so the per-true-pair drop
  *     probability is P[≤1 of the other 14 agree | j ≥ 0.6] ≈ 6e-5 —
  *     recall is unchanged in expectation even over millions of true
  *     pairs. The floor is deliberately a tail guard, not a
  *     classifier: 16 hashes cannot separate j = 0.5 from j = 0.6
  *     (the distributions overlap by >2σ), so sharper pruning of the
  *     gray zone belongs to the bucket cap below.
  *   - **band-bucket cap with hub-star fallback** (`maxBandBucket`):
  *     an oversized bucket is the quadratic failure shape — k docs
  *     sharing one band key contribute k²/2 candidate pairs. Buckets
  *     over the cap are not dropped but REDUCED TO A STAR through
  *     their minimum member ([[NearDup.capToHub]]): k−1 hub pairs
  *     instead of k²/2, so a true dup cluster filling the bucket
  *     stays CONNECTED and the transitive closure downstream
  *     (components, retention, SemDeDup) recovers the same clusters.
  *     Measured at 10× replica scale (cap=64): 96.9% of cluster
  *     partitions bit-identical to the uncapped run (2957 → 2969
  *     clusters; the splits are gray-zone buckets whose hub fails the
  *     exact verify that some member–member pairs pass — a drop
  *     policy loses those buckets' connectivity entirely), and at
  *     100× the cap turns the ~70 GB-of-shuffle job that out-spills
  *     one box into a 2.4 GB / ~48 s run that avoids 1.89e9 candidate
  *     pairs (NearDupScale at cap 64, a scale main last present at
  *     commit fba91a5; numbers in README). Reduced volume is
  *     observable, not silent: [[NearDup.overCapBandBuckets]] lists
  *     every over-cap bucket with its size and
  *     [[NearDup.capReport]] aggregates the saved pair counts for
  *     logging. Default `Int.MaxValue` (off — exact candidate
  *     generation); the 100× probe uses 64.
  */
object NearDup {

  private val bands = 8
  private val rowsPerBand = 2
  private val nHashes = bands * rowsPerBand

  /** Default signature-agreement floor for a verify threshold: three
    * binomial standard deviations below the expected agreement of a
    * pair sitting exactly AT the threshold — `⌈n·t − 3·√(n·t·(1−t))⌉`
    * over n = 16 hashes (= 4 at t = 0.6). Pairs at or above the
    * threshold fall below this floor with probability < 1e-3
    * unconditionally, < 1e-4 conditioned on having matched a band.
    */
  def defaultAgreeFloor(threshold: Double): Int = {
    val mean = nHashes * threshold
    val sd = math.sqrt(nHashes * threshold * (1 - threshold))
    math.max(0, math.ceil(mean - 3 * sd).toInt)
  }

  /** A built near-dup index: `clusters` is the canonical-scale table
    * (fp, blocks…, canon_id, members, hashes — one row per distinct
    * (block, text)); `sigs` its 16-long MinHash signature table
    * (canon_id, blocks…, sig). Both persisted. LSH band keys
    * ([[bandRows]]) are a narrow projection over `sigs`, re-derived
    * on use so both sides of the candidate self-join share the one
    * signature cache. At 100 TB these are the tables a production
    * dedup service keeps on disk between crawl batches: the corpus
    * TEXT is read once at build time, and every later operation
    * (full pair listing, incremental batch, index merge) runs at
    * canonical scale from the stored gram hashes.
    */
  final case class Index(
      clusters: DataFrame,
      sigs: DataFrame,
      blockCols: Seq[String]) {

    /** Exploded LSH band keys (band, bk, canon_id) — block columns
      * folded into the key hash. */
    def bandRows: DataFrame = bandRowsOf(sigs, blockCols)

    /** Release both persisted tables (streaming epoch rotation). */
    def unpersist(): Unit = { clusters.unpersist(); sigs.unpersist() }
  }

  /** Near-dup pairs with exact Jaccard ≥ `threshold`, blocked by
    * `blockCols` (pairs are only sought within a block — the standard
    * entity-resolution guard that keeps candidate volume proportional
    * to true duplicates; this template-heavy corpus has ~8M unblocked
    * near-dup pairs among 5k documents vs ~10² within blocks). Pass
    * `Nil` for global cross-block search. `agreeFloor` -1 = derive
    * from the threshold ([[defaultAgreeFloor]]); 0 disables the
    * pre-screen.
    */
  def nearDupPairs(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.6,
      blockCols: Seq[String] = Seq("lang", "source"),
      agreeFloor: Int = -1,
      maxBandBucket: Int = Int.MaxValue): DataFrame =
    indexPairs(buildIndex(Tables(spark, dir).documentsSpread, blockCols),
      threshold, agreeFloor, maxBandBucket)

  /** Build the index from a documents frame (`doc_id`, `text`,
    * blockCols…). Tier 1 + feature extraction in ONE pass over the
    * corpus: fingerprint and hashed-sorted gram set per doc, collapsed
    * to canonical clusters (hashes are identical within a cluster —
    * identical text — so `first()` carries them without a
    * canonical-docs join); then the 16×xxhash64-min signature at
    * canonical scale.
    */
  def buildIndex(
      docs: DataFrame,
      blockCols: Seq[String] = Seq("lang", "source")): Index = {
    val blocks = blockCols.map(col)
    val clusters = docs
      .select(col("doc_id") +: blocks
        :+ md5(col("text").cast(BinaryType)).as("fp")
        :+ CharNgramHashesSorted(col("text"), 3).as("hashes"): _*)
      .groupBy(col("fp") +: blocks: _*)
      .agg(
        min(col("doc_id")).as("canon_id"),
        collect_list(col("doc_id")).as("members"),
        first(col("hashes")).as("hashes"))
      .persist()
    Index(clusters, sigsOf(clusters, blockCols), blockCols)
  }

  /** Re-derive an index from a clusters table (e.g. one reloaded from
    * disk or localCheckpointed to cut cross-batch lineage) — the
    * signature aggregation reads the stored gram hashes, no text
    * involved.
    */
  def indexFromClusters(clusters: DataFrame, blockCols: Seq[String]): Index =
    Index(clusters, sigsOf(clusters, blockCols), blockCols)

  /** The 16-long MinHash signature table of a clusters table — no
    * text scan: one projection explodes the STORED gram hashes and
    * takes the 16 per-seed minima. Persisted because every later
    * stage reads it (band keys twice via the candidate self-join,
    * then the agreement pre-screen twice): an unpersisted subtree
    * would re-run the explode + 16×xxhash64-min aggregation per use.
    */
  private def sigsOf(clusters: DataFrame, blockCols: Seq[String]): DataFrame = {
    val blocks = blockCols.map(col)
    clusters
      .select(col("canon_id") +: blocks :+ explode(col("hashes")).as("gh"): _*)
      .groupBy(col("canon_id") +: blocks: _*)
      .agg(
        min(xxhash64(lit(0), col("gh"))).as("h0"),
        (1 until nHashes).map(j => min(xxhash64(lit(j), col("gh"))).as(s"h$j")): _*)
      .select(col("canon_id") +: blocks
        :+ array((0 until nHashes).map(j => col(s"h$j")): _*).as("sig"): _*)
      .persist()
  }

  private def bandRowsOf(sigs: DataFrame, blockCols: Seq[String]): DataFrame = {
    val blocks = blockCols.map(col)
    sigs.select(col("canon_id"), posexplode(array(
      (0 until bands).map(b =>
        xxhash64((0 until rowsPerBand).map(r =>
          col("sig").getItem(b * rowsPerBand + r)) ++ blocks: _*)): _*))
      .as(Seq("band", "bk")))
  }

  /** Over-cap band buckets of an index: (band, bk, bucket_n) for every
    * bucket larger than `cap` — the audit view of which buckets a
    * capped run reduces to hub-stars. Empty ⇒ the cap changes nothing
    * for this corpus.
    */
  def overCapBandBuckets(index: Index, cap: Int): DataFrame =
    index.bandRows.groupBy("band", "bk").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)

  /** One-row aggregate of [[overCapBandBuckets]]: buckets capped to
    * hub-stars, band rows inside them, and the candidate pairs the
    * star form saves (`Σ (n·(n−1)/2 − (n−1))`) — the numbers a capped
    * production run logs alongside its output.
    */
  def capReport(index: Index, cap: Int): DataFrame =
    overCapBandBuckets(index, cap).agg(
      count(lit(1)).as("buckets_capped"),
      coalesce(sum(col("bucket_n")), lit(0L)).as("rows_in_capped"),
      coalesce(sum(col("bucket_n") * (col("bucket_n") - 1) / 2
        - (col("bucket_n") - 1)), lit(0L)).as("pairs_reduced"))

  /** Band rows with every over-cap bucket REPLACED BY ITS HUB (the
    * minimum canon_id): joining the other side against this frame
    * turns an oversized bucket's k²/2 candidate pairs into a k−1
    * hub-star — within-bucket CONNECTIVITY survives (a true dup
    * cluster filling the bucket stays connected through the hub, so
    * the transitive closure downstream recovers the same clusters)
    * while candidate volume goes linear. Pairs lost are exactly
    * member-member pairs of mixed oversized buckets whose docs do not
    * near-dup the hub — each such pair has the 7 other bands to
    * reappear in. The bucket-size aggregation and back-join are
    * canonical-scale and narrow — paid only when a cap is set.
    */
  private def capToHub(bandRows: DataFrame, maxBandBucket: Int): DataFrame =
    if (maxBandBucket == Int.MaxValue) bandRows
    else {
      val sizes = bandRows.groupBy("band", "bk")
        .agg(count(lit(1)).as("bucket_n"), min(col("canon_id")).as("hub"))
      val small = bandRows.join(
        sizes.filter(col("bucket_n") <= maxBandBucket).select("band", "bk"),
        Seq("band", "bk"))
      val hubs = sizes.filter(col("bucket_n") > maxBandBucket)
        .select(col("band"), col("bk"), col("hub").as("canon_id"))
      small.unionByName(hubs)
    }

  /** Candidate (ca < cb for self) pairs from banded rows — the join on
    * (band, bk), distinct over pairs. Self pairs are normalized with
    * least/greatest so a one-sided reduction of the right frame (the
    * hub-star cap) still emits its pairs in canonical order.
    */
  private def candidatesOf(aRows: DataFrame, bRows: DataFrame, selfPairs: Boolean): DataFrame = {
    val joined = aRows.select(col("band"), col("bk"), col("canon_id").as("ca"))
      .join(bRows.select(col("band"), col("bk"), col("canon_id").as("cb")), Seq("band", "bk"))
    (if (selfPairs)
      joined.filter(col("ca") =!= col("cb"))
        .select(least(col("ca"), col("cb")).as("ca"),
          greatest(col("ca"), col("cb")).as("cb"))
    else joined)
      .select("ca", "cb").distinct()
  }

  /** Verify candidate (ca, cb) canonical pairs and fan verified pairs
    * back out to members. Two stages: (1) the signature-agreement
    * pre-screen — candidates join the 16-long `sigs` of both sides
    * (~130 B/row through the candidate-scale shuffle) and drop below
    * `agreeFloor`; (2) surviving pairs join the cluster tables'
    * multi-KB gram arrays for the exact merge-walk Jaccard, and
    * members expand (identical texts ⇒ identical gram sets ⇒ the
    * canonical pair's Jaccard).
    */
  private def verifyExpand(
      candidates: DataFrame,
      a: Index,
      b: Index,
      threshold: Double,
      agreeFloor: Int): DataFrame = {
    val floor = if (agreeFloor < 0) defaultAgreeFloor(threshold) else agreeFloor
    val pre =
      if (floor <= 0) candidates
      else candidates
        .join(a.sigs.select(col("canon_id").as("ca"), col("sig").as("sa")), "ca")
        .join(b.sigs.select(col("canon_id").as("cb"), col("sig").as("sb")), "cb")
        .filter(LongPosAgreeCount(col("sa"), col("sb")) >= floor)
        .select("ca", "cb")
    val aSide = a.clusters.select(col("canon_id").as("ca"),
      col("hashes").as("ga"), col("members").as("ma"))
    val bSide = b.clusters.select(col("canon_id").as("cb"),
      col("hashes").as("gb"), col("members").as("mb"))
    pre
      .join(aSide, "ca").join(bSide, "cb")
      .withColumn("inter", SortedLongIntersectCount(col("ga"), col("gb")))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (size(col("ga")) + size(col("gb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(explode(col("ma")).as("da"), col("mb"), col("jaccard"))
      .select(col("da"), explode(col("mb")).as("db"), col("jaccard"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
  }

  /** Every within-cluster pair (identical texts) at Jaccard 1.0. */
  private def withinCluster(clusters: DataFrame): DataFrame =
    clusters.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("da"), col("members"))
      .select(col("da"), explode(col("members")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(1.0).as("jaccard"))

  /** All near-dup pairs in an index (the full-corpus listing). */
  def indexPairs(
      index: Index,
      threshold: Double = 0.6,
      agreeFloor: Int = -1,
      maxBandBucket: Int = Int.MaxValue): DataFrame = {
    val rows = index.bandRows
    verifyExpand(
      candidatesOf(rows, capToHub(rows, maxBandBucket), selfPairs = true),
      index, index, threshold, agreeFloor)
      .unionAll(withinCluster(index.clusters))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental batch: every near-dup pair INVOLVING a new document —
    * new-vs-corpus and new-vs-new — without touching the corpus text
    * or re-banding the corpus. The new batch is clustered and banded
    * (one scan of the BATCH only); candidates come from the new band
    * rows joined against the stored band table (corpus side) and
    * against themselves (within-batch side). Cost scales with the
    * batch, not the corpus — the daily-crawl shape at 100 TB.
    *
    * Assumes batch doc_ids are disjoint from the corpus. A batch doc
    * identical to a corpus doc shares every band key, so the pair
    * arrives as an LSH candidate and verifies at Jaccard 1.0 — no
    * special exact-dup path needed across the boundary.
    */
  def incrementalPairs(
      index: Index,
      newDocs: DataFrame,
      threshold: Double = 0.6,
      agreeFloor: Int = -1,
      maxBandBucket: Int = Int.MaxValue): DataFrame =
    incrementalPairsIndexed(index, buildIndex(newDocs, index.blockCols),
      threshold, agreeFloor, maxBandBucket)

  /** [[incrementalPairs]] with the batch already indexed — callers
    * that both list pairs AND merge (the streaming service) index the
    * batch once and share it.
    */
  def incrementalPairsIndexed(
      index: Index,
      fresh: Index,
      threshold: Double,
      agreeFloor: Int = -1,
      maxBandBucket: Int = Int.MaxValue): DataFrame = {
    // the cap reduces the CORPUS side (where replica-inflated buckets
    // live — batch buckets are batch-sized): new docs meet an
    // oversized corpus bucket through its hub
    val nb = fresh.bandRows
    val ob = capToHub(index.bandRows, maxBandBucket)
    verifyExpand(candidatesOf(nb, ob, selfPairs = false),
      fresh, index, threshold, agreeFloor)
      .unionAll(verifyExpand(
        candidatesOf(nb, capToHub(nb, maxBandBucket), selfPairs = true),
        fresh, fresh, threshold, agreeFloor))
      .unionAll(withinCluster(fresh.clusters))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Fold a new batch into the index for the next round: clusters with
    * the same (block, fingerprint) merge (members concatenate, canon =
    * min doc id), and the signature/band tables are re-derived from
    * the merged clusters' STORED hashes — the corpus text is never
    * re-read.
    */
  def mergeIndex(index: Index, newDocs: DataFrame): Index =
    mergeIndex(index, buildIndex(newDocs, index.blockCols))

  /** [[mergeIndex]] with the batch already indexed. */
  def mergeIndex(index: Index, fresh: Index): Index = {
    val blocks = index.blockCols.map(col)
    val merged = index.clusters.unionByName(fresh.clusters)
      .groupBy(col("fp") +: blocks: _*)
      .agg(
        min(col("canon_id")).as("canon_id"),
        flatten(collect_list(col("members"))).as("members"),
        first(col("hashes")).as("hashes"))
      .persist()
    Index(merged, sigsOf(merged, index.blockCols), index.blockCols)
  }
}
