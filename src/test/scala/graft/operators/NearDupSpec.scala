package graft.operators

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** The scale-path near-dup pipeline (LSH candidates → exact verify)
  * measured against the exhaustive pairwise verifier (q29) on the real
  * corpus: recall of the banding is reported and bounded, and every
  * pair found by both carries the identical exact Jaccard.
  */
class NearDupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("LSH-verified pipeline recalls the exhaustive near-dup pairs") {
    val exhaustive = SparkEntry.queries("q29_ngram_jaccard_pairs")(spark, dir)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val lsh = NearDup.indexPairs(
        NearDup.buildIndex(graft.Tables(spark, dir).documentsSpread), 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    assert(exhaustive.nonEmpty, "corpus should contain near-dups")
    val recalled = exhaustive.keySet.intersect(lsh.keySet)
    val recall = recalled.size.toDouble / exhaustive.size
    info(f"recall=$recall%.3f (${recalled.size}/${exhaustive.size}), candidates verified=${lsh.size}")
    // 8 bands × 2 rows: expected recall 1-(1-j²)^8 ≈ 0.97 at the 0.6
    // threshold and →1 for closer pairs
    assert(recall >= 0.9, f"LSH recall $recall%.3f below bound")

    // identical exact Jaccard for every pair both paths found
    recalled.foreach { k => assert(lsh(k) == exhaustive(k), s"jaccard mismatch for $k") }
  }

  test("signature-agreement pre-screen is lossless on the corpus") {
    val index = NearDup.buildIndex(graft.Tables(spark, dir).documentsSpread)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val screened = pairSet(NearDup.indexPairs(index, 0.6))
    val unscreened = pairSet(NearDup.indexPairs(index, 0.6, agreeFloor = 0))
    // floor 4 = 3σ below the expected agreement at j = 0.6; a true pair
    // already carries 2 agreements from its matched band, so the
    // per-pair drop probability is ~6e-5 — zero drops expected here
    assert(NearDup.defaultAgreeFloor(0.6) == 4)
    assert(screened == unscreened, "pre-screen changed the verified pair set")
  }

  test("incremental batch equals the full run restricted to new docs") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables(spark, dir).documentsSpread
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val newIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty)

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val full = pairSet(NearDup.indexPairs(NearDup.buildIndex(docs)))
    val fullTouchingNew = full.filter { case ((a, b), _) =>
      newIds.contains(a) || newIds.contains(b) }
    assert(fullTouchingNew.nonEmpty, "batch should participate in near-dup pairs")

    val index = NearDup.buildIndex(corpus)
    val incremental = pairSet(NearDup.incrementalPairs(index, batch))

    // same pairs, same exact Jaccard — the incremental path misses
    // nothing the full rebuild finds (and can ONLY differ by LSH
    // banding luck, which identical band construction rules out)
    assert(incremental == fullTouchingNew)
  }

  test("q97 triangle counts equal a brute-force enumeration of the pair graph") {
    val pairs = SparkEntry.queries("q29_ngram_jaccard_pairs")(spark, dir)
      .select("lang", "source", "doc_a", "doc_b")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val expected = pairs.view.mapValues { es =>
      // doc_a < doc_b by construction, so count a<b<c combinations
      es.toSeq.map { case (a, b) =>
        es.count { case (b2, c) => b2 == b && es.contains((a, c)) }.toLong
      }.sum
    }.filter(_._2 > 0).toMap

    val got = SparkEntry.queries("q97_neardup_triangles")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(expected.nonEmpty, "corpus should contain at least one triangle")
    assert(got == expected)
  }
}
