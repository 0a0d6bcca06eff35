package graft.operators

import graft.CacheScope

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.functions.{CharNgramHashesSorted, CharNgramsDistinct, LongPosAgreeCount, WordShingles}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType, IntegerType}

/** Text-analysis + deduplication operators over `documents` — the
  * training-data-pipeline surface: token/quality stats, heuristic
  * language-ID, exact dedup by content fingerprint, MinHash
  * signatures + LSH banding for near-dup candidates, SimHash, and
  * blocked n-gram Jaccard verification. Every query is paired with an
  * exactly-equivalent DuckDB oracle.
  *
  * Scale design notes (100 TB): the shingle/token explosions are
  * immediately re-aggregated with partial (map-side) min/sum combine,
  * so the shuffle carries one row per (doc, aggregate), not per
  * shingle; exact dedup shuffles on a 128-bit fingerprint (uniform,
  * skew-free); the pairwise Jaccard join is *blocked* (lang, source)
  * — at real scale the LSH-candidates operator is the intended path
  * and the pairwise join runs only on its small candidate set.
  */
object TextQueries {

  private val langsSql: String = langStopwords.map { case (lang, words) =>
    s"len(list_filter(string_split(text,' '), t -> t IN (${words.map(w => s"'$w'").mkString(",")}))) AS h_$lang"
  }.mkString(",\n  ")

  /** Four MinHash functions = four disjoint 8-hex-char slices of ONE
    * md5 per shingle (standard split-one-strong-hash trick): 4× less
    * hashing than salted variants, and fixed-width slices keep
    * min-aggregation state small. Identical construction both engines.
    */
  private def mhSqlCols: String =
    (1 to 4).map(j => s"min(substr(md5(s), ${(j - 1) * 8 + 1}, 8)) AS mh$j").mkString(", ")

  private val shinglesSql =
    """SELECT doc_id,
      |  unnest(list_transform(range(1, greatest(len(string_split(text,' '))-1,1)),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
      |FROM documents""".stripMargin

  private def sigSql =
    s"SELECT doc_id, $mhSqlCols FROM ($shinglesSql) GROUP BY doc_id"

  /** Shared MinHash-signature plan: tokenize once (bound column, see
    * [[TextFunctions.shinglesFromTokens]]), one md5 per shingle, then a
    * partial-aggregated min per slice — the shuffle carries one row per
    * document, not per shingle.
    */
  private[operators] def minhashSig(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val hx = Tables(s, dir).documentsSpread
      .select(col("doc_id"), explode(WordShingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), md5(col("s").cast(BinaryType)).as("hx"))
    hx.groupBy(col("doc_id")).agg(
      min(substring(col("hx"), 1, 8)).as("mh1"),
      (2 to 4).map(j => min(substring(col("hx"), (j - 1) * 8 + 1, 8)).as(s"mh$j")): _*)
  }

  private val simhashBits = 16
  private val hiHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** Blocked char-3-gram Jaccard pairs (threshold 0.6) — shared by q29
    * (the pairs themselves) and q69 (components over them). Pair
    * enumeration by block equi-join of DOC-level rows (one row per
    * document carrying its sorted gram-hash set), then one merge-walk
    * kernel call per pair — instead of exploding to per-gram rows and
    * re-aggregating an O(pairs · shared-grams) join intermediate. The
    * join shuffles only #docs rows; the quadratic-within-block pair
    * stream never hits an exchange (overlap and sizes come from the
    * same projection and are filtered immediately). Gram identity via
    * 64-bit hashes — collision odds across ~10⁵ grams are ~1e-10,
    * negligible.
    */
  private[operators] def jaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // DEFINED over the certification stratum (r9, extending the r8
    // q113/q114 precedent to the whole exhaustive tier): the stratum
    // filter is part of the query semantics, mirrored in
    // [[jaccardPairsSql]], a no-op at every real sf dir (ids ≈5e3)
    // and constant work under replica scaling. Within-block all-pairs
    // enumeration is quadratic in block size BY DEFINITION — at 100×
    // replication it is 10⁴× sf0.1's pair volume, which no engine
    // runs corpus-wide; the corpus-wide production paths are the
    // banded pipelines (q53 certifies them, q103 ships them).
    val docs = Tables(s, dir).documentsSpread
      .filter(col("doc_id") < GateStratumMaxDocId)
    val g = docs.select(col("lang"), col("source"), col("doc_id"),
      graft.functions.CharNgramHashesSorted(col("text"), 3).as("hs"))
    g.select(col("lang"), col("source"), col("doc_id").as("doc_a"), col("hs").as("ga"))
      .join(g.select(col("lang").as("lang_b"), col("source").as("source_b"),
        col("doc_id").as("doc_b"), col("hs").as("gb")),
        col("lang") === col("lang_b") && col("source") === col("source_b") &&
          col("doc_a") < col("doc_b"))
      .withColumn("overlap", graft.functions.SortedLongIntersectCount(col("ga"), col("gb")))
      .withColumn("jaccard",
        col("overlap").cast(DoubleType) / (size(col("ga")) + size(col("gb")) - col("overlap")))
      .filter(col("jaccard") >= 0.6)
  }

  /** Certification stratum for the exhaustive ground-truth gates
    * (q113/q114): docs with id below the replica shift constant —
    * `tools/make_sfbig.py` offsets replica ids by r×1e6, so the
    * stratum is exactly the un-replicated corpus at ANY replication
    * factor (and the whole corpus at every real sf dir, where ids top
    * out ≈5e3). The quadratic exhaustive tier thereby does CONSTANT
    * work as the corpus scales — the r7 suite could not finish at
    * 100× because these gates re-verified every replica all-pairs —
    * while still certifying banding recall / estimator accuracy on a
    * deterministic, content-complete sample. The production path
    * (q53/q103) is what runs corpus-wide.
    */
  private[operators] val GateStratumMaxDocId = 1000000L

  /** The q113 gate comparison, factored so the sensitivity spec can
    * feed a degraded candidate side and watch the booleans trip:
    * full-outer join of the incremental pair listing against the
    * exhaustive tier → (n_expected, precision_ok, jaccard_ok,
    * recall_ok). Columns: inc(doc_a, doc_b, j_lsh), ex(doc_a, doc_b,
    * j_ex).
    */
  private[operators] def incrementalGate(
      inc: org.apache.spark.sql.DataFrame,
      ex: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    inc.join(ex, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(col("j_ex")).as("n_ex"),
        count(when(col("j_ex").isNull, 1)).as("n_phantom"),
        count(when(col("j_lsh").isNotNull && col("j_ex").isNotNull
          && col("j_lsh") =!= col("j_ex"), 1)).as("n_mismatch"),
        count(when(col("j_lsh").isNotNull && col("j_ex").isNotNull, 1)).as("n_both"))
      .select(
        col("n_ex").as("n_expected"),
        (col("n_phantom") === 0).as("precision_ok"),
        (col("n_mismatch") === 0).as("jaccard_ok"),
        (col("n_both") >= col("n_ex") * 0.9).as("recall_ok"))

  /** The q114 gate aggregation, factored for the sensitivity spec:
    * scored(jaccard, est) → (n_pairs, mae_ok vs the 0.15 bound).
    */
  private[operators] def estimatorGate(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scored.agg(
        count(lit(1)).as("n_pairs"),
        avg(abs(col("est") - col("jaccard"))).as("mae"))
      .select(col("n_pairs"), (col("mae") <= 0.15).as("mae_ok"))

  /** Distinct (doc_id, p) token positions covered by a DUPLICATED
    * 8-token window (one that occurs ≥2 times corpus-wide) — the
    * detection core shared by q100 (measure) and q104 (strip).
    * `t` is (doc_id, tk: array<string>).
    */
  // NOTE the window-hash stream g is consumed by both the dup filter
  // and the join-back but deliberately NOT persisted: the r7 probe
  // measured the cached form SLOWER at 100× (q100 10.1→10.7 s, q104
  // 8.4→10.3 s) — even md5-per-window recomputes cheaper than the
  // token-window-sized cache writes+reads (same finding as q110's
  // bigram stream; the persist rule is shuffle/dedup subtrees only).
  private def dupSpanPositions(t: org.apache.spark.sql.DataFrame) = {
    val g = t.filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - 7)).as("i"))
      .select(col("doc_id"), col("i"),
        md5(concat_ws(" ", slice(col("tk"), col("i"), lit(8))).cast(BinaryType)).as("h"))
    // corpus-wide occurrence count as ONE window over the hash: the
    // r7–r10 form aggregated dup hashes separately and equi-joined
    // them back, which derived g TWICE (the differing projections of
    // the scan→split→explode→md5 subtree defeat exchange reuse) and
    // shuffled it twice. The window shuffles g once and counts in
    // place — no cache (g is position-exploded corpus, never worth
    // materializing at 100 TB), no skew cliff (a window's partition is
    // one hash bucket = the duplicate multiplicity itself, the same
    // rows the join form co-located on that key). Same-window
    // fresh-JVM A/B at /tmp/sf100: q100 8.6→5.9, q104 8.9→6.6,
    // q121 9.4→6.5 s; oracle hashes unchanged (the count is
    // row-identical to the agg+join).
    val wh = Window.partitionBy(col("h"))
    g.withColumn("c", count(lit(1)).over(wh))
      .filter(col("c") >= 2)
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + 7)).as("p"))
      .distinct()
  }

  /** DuckDB mirror of [[dupSpanPositions]] as CTE text ending in
    * `cov(doc_id, p)` (expects `documents` in scope).
    */
  private val dupSpanCovSql =
    """t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |g AS (SELECT doc_id, i, md5(array_to_string(tk[i:i+7], ' ')) AS h
      |      FROM (SELECT doc_id, tk,
      |              unnest(range(1, greatest(len(tk)-6, 1))) AS i FROM t)),
      |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, p FROM
      |        (SELECT doc_id, unnest(range(i, i+8)) AS p FROM g JOIN dup USING (h)))""".stripMargin

  /** q27's LSH candidate plan, shared with the q103 scale-path
    * retention. Persist the signature: the band self-join scans it
    * from cache instead of re-running the shingle/hash aggregation
    * per side. Band key = concat of two fixed-width slices, so one
    * equi-join over (band, key) replaces two separate band joins.
    */
  /** Band-bucket cap for the 2×2 candidate generator: buckets over
    * this size reduce to a hub STAR through their minimum member
    * (k−1 pairs instead of k²/2 — connectivity preserved for the
    * downstream transitive closure, volume linear). The cap is part
    * of the DEFINED semantics, mirrored in [[lshCandSql]], and sized
    * so it cannot bind at certification scales: measured max bucket
    * is 3 at sf0.01 and 8 at sf0.1 (BandProfile, a scale main last
    * present at commit fba91a5), so
    * every certification-scale bucket enumerates all pairs and the
    * oracle hash is unchanged — while at 100× replication, where the
    * LSH gray zone drives the max bucket to 569 and candidate volume
    * to 10.5M pairs (6.1M of them from buckets >64), the capped
    * listing collapses to ~0.4M pairs and the gram-array verify stays
    * one-box-sized. This is the same hub-star policy as
    * [[NearDup.capToHub]], here at the 2-band tier.
    */
  private[operators] val LshBucketCap = 16

  /** Hub-star cap for q66's 16-bit simhash-half buckets — the same
    * defined-semantics policy as [[LshBucketCap]], but sized to its
    * own measured collision profile (BandProfile's q66 mode): 16-bit
    * halves collide far more than 32-bit minhash bands, with max
    * buckets of 41 at sf0.01 and 404 at sf0.1 — so the cap sits at
    * 512 (> 404: provably non-binding at certification scales, the
    * oracle answer there is exhaustive) while at 100× replication
    * (max bucket 32,646, uncapped candidate volume 2.60e9 pairs) it
    * collapses oversized buckets to hub stars, leaving 29.2M pairs.
    */
  private[operators] val SimhashBucketCap = 512

  private[operators] def lshCandidates(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // the banded rows have THREE consumers (bucket-size aggregation +
    // the small-bucket pair join + the over-cap star join) — persist
    // them too, so each consumer reads one cache instead of re-running
    // the two-band union over the signature cache per consumer (r9
    // verdict item 5: the cap machinery re-read `bands` three times
    // and tripled q27's sf0.1 time). The signature stays persisted
    // separately: filling the bands cache reads it twice, and without
    // it each read re-runs the shingle/min-hash aggregation.
    val sig = CacheScope.scoped(minhashSig(s, dir))
    val bands = sig.select(col("doc_id"), lit(1).as("band"), concat(col("mh1"), col("mh2")).as("bk"))
      .unionAll(sig.select(col("doc_id"), lit(2).as("band"), concat(col("mh3"), col("mh4")).as("bk")))
    // bucket size + hub as ONE window pass over (band, bk): the r9
    // form aggregated sizes separately and joined them back (two
    // shuffles + a join); the window computes both in the single
    // shuffle that partitions the bands — and leaves `sized`
    // hash-partitioned on exactly the pair join's key, so the
    // small-bucket self-join below needs no further exchange. Persist
    // the rows WITH their size/hub attached: the pair join's two
    // sides and the star branch are then three cache reads (r9
    // verdict item 5: the cap machinery re-read `bands` three times
    // and tripled q27's sf0.1 time).
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bk"))
    val sized = CacheScope.scoped(bands
      .withColumn("bn", count(lit(1)).over(wb))
      .withColumn("hub", min(col("doc_id")).over(wb)))
    val small = sized.filter(col("bn") <= LshBucketCap)
    val a = small.select(col("band"), col("bk"), col("doc_id").as("doc_a"))
    val b = small.select(col("band"), col("bk"), col("doc_id").as("doc_b"))
    val allPairs = a.join(b, Seq("band", "bk")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val starPairs = sized.filter(col("bn") > LshBucketCap)
      .filter(col("doc_id") =!= col("hub"))
      .select(least(col("hub"), col("doc_id")).as("doc_a"),
        greatest(col("hub"), col("doc_id")).as("doc_b"))
    allPairs.unionAll(starPairs).distinct()
  }

  /** DuckDB mirror of [[lshCandidates]] — banding AND the hub-star
    * bucket cap (expects a `sig` CTE in scope).
    */
  private def lshCandSql: String =
    s"""SELECT doc_a, doc_b FROM (
      |  WITH bnd AS (
      |    SELECT doc_id, 1 AS band, mh1 || mh2 AS bk FROM sig
      |    UNION ALL
      |    SELECT doc_id, 2 AS band, mh3 || mh4 AS bk FROM sig),
      |  bsz AS (SELECT band, bk, COUNT(*) AS bn, MIN(doc_id) AS hub
      |          FROM bnd GROUP BY band, bk)
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bk = b.bk
      |    AND a.doc_id < b.doc_id
      |  JOIN bsz s ON s.band = a.band AND s.bk = a.bk AND s.bn <= $LshBucketCap
      |  UNION
      |  SELECT LEAST(s.hub, n.doc_id) AS doc_a, GREATEST(s.hub, n.doc_id) AS doc_b
      |  FROM bnd n JOIN bsz s ON s.band = n.band AND s.bk = n.bk
      |  WHERE s.bn > $LshBucketCap AND n.doc_id <> s.hub)""".stripMargin

  /** DuckDB mirror of [[jaccardPairs]] (no ORDER BY). */
  private val jaccardPairsSql =
    s"""WITH g AS (
      |  SELECT doc_id, lang, source,
      |    unnest(list_distinct(list_transform(range(1, greatest(length(text)-1, 1)),
      |      i -> substr(text, i, 3)))) AS gram
      |  FROM documents WHERE doc_id < $GateStratumMaxDocId),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT a.lang AS lang, a.source AS source,
      |    a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.lang = b.lang
      |    AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT lang, source, doc_a, doc_b,
      |  CAST(overlap AS DOUBLE) / (sa.sz + sb.sz - overlap) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(overlap AS DOUBLE) / (sa.sz + sb.sz - overlap) >= 0.6""".stripMargin

  /** SimHash signature over single-space tokens, one md5 per token,
    * bit j = sign of Σ ±1 over hex digit j's high bit — width-generic
    * (an md5 yields up to 32 hex digits = 32 bits). Shared by q28
    * (16-bit, reference width) and q66 (32-bit, hamming near-dup).
    */
  private[operators] def simhashSig(s: org.apache.spark.sql.SparkSession, dir: String, nBits: Int) = {
    val tok = Tables(s, dir).documentsSpread
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("hx", md5(col("t").cast(BinaryType)))
    val bitCols = (1 to nBits).map(j =>
      sum(when(substring(col("hx"), j, 1).isin(hiHex: _*), 1).otherwise(-1)).as(s"s_$j"))
    val bits = tok.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    bits.select(col("doc_id"),
      (1 to nBits).map(j =>
        when(col(s"s_$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** DuckDB mirror of [[simhashSig]] (no ORDER BY). */
  private def simhashSql(nBits: Int): String = {
    val bitSums = (1 to nBits).map(j =>
      s"SUM(CASE WHEN substr(md5(t), $j, 1) IN (${hiHex.map(h => s"'$h'").mkString(",")}) THEN 1 ELSE -1 END) AS s_$j")
      .mkString(",\n  ")
    val recon = (1 to nBits).map(j =>
      s"CASE WHEN s_$j > 0 THEN ${1L << (j - 1)} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST($recon AS BIGINT) AS simhash FROM bits""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q23 — per-document token/quality statistics.
    QueryDef.sql(
      "q23_text_stats",
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS n_distinct,
        |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE) / len(string_split(text,' ')) AS avg_token_len,
        |  (CAST(least(len(string_split(text,' ')), 100) AS DOUBLE) / 100)
        |    * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documentsSpread.select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        distinctTokenCount(col("text")).as("n_distinct"),
        avgTokenLen(col("text")).as("avg_token_len"),
        qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q24 — heuristic language-ID: stopword-hit argmax with fixed
    // priority tiebreak ("und" when nothing matches).
    QueryDef.sql(
      "q24_lang_id",
      s"""WITH h AS (SELECT doc_id,
         |  $langsSql
         |FROM documents)
         |SELECT doc_id,
         |  CASE WHEN h_en + h_es + h_de + h_fr = 0 THEN 'und'
         |       WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
         |       WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
         |       WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
         |       ELSE 'fr' END AS lang_pred,
         |  CAST(h_en AS INTEGER) AS h_en, CAST(h_es AS INTEGER) AS h_es,
         |  CAST(h_de AS INTEGER) AS h_de, CAST(h_fr AS INTEGER) AS h_fr
         |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // One kernel pass per language over bound hit columns; the argmax
      // CASE chain reads the columns instead of re-running the scorers
      // (the composable langId recomputes every hit count per branch).
      val d = Tables(s, dir).documentsSpread
      val withHits = langStopwords.foldLeft(d) { case (df, (lang, words)) =>
        df.withColumn(s"h_$lang", graft.functions.StopwordHits(col("text"), words))
      }
      val hitCols = langStopwords.map { case (lang, _) => col(s"h_$lang") }
      val best = greatest(hitCols: _*)
      val pred = when(hitCols.reduce(_ + _) === 0, lit("und"))
        .otherwise(langStopwords.foldRight(lit("fr"): org.apache.spark.sql.Column) {
          case ((lang, _), acc) =>
            if (lang == "fr") acc
            else when(col(s"h_$lang") === best, lit(lang)).otherwise(acc)
        })
      withHits.select(
        col("doc_id"),
        pred.as("lang_pred"),
        col("h_en"), col("h_es"), col("h_de"), col("h_fr"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q25 — exact dedup via content fingerprint (md5 of UTF-8 bytes):
    // canonical = lowest doc_id per group.
    QueryDef.sql(
      "q25_dedup_exact",
      """SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("fp"))
    },

    // ------------------------------------------------------------------
    // q26 — MinHash signatures over word-3-gram shingles (4 salted
    // hash functions; map-side min combine keeps the shuffle tiny).
    QueryDef.sql(
      "q26_minhash_signature",
      s"$sigSql ORDER BY doc_id") { (s, dir) =>
      minhashSig(s, dir).orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q27 — LSH banding over the MinHash signature (2 bands × 2 rows):
    // near-dup candidate pairs = docs sharing either full band.
    QueryDef.sql(
      "q27_lsh_candidates",
      s"""WITH sig AS ($sigSql)
         |$lshCandSql
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      lshCandidates(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },

    // ------------------------------------------------------------------
    // q28 — 16-bit SimHash from per-token md5 high-bits (sign-sum per
    // bit position, reconstructed as a BIGINT signature).
    QueryDef.sql(
      "q28_simhash",
      s"${simhashSql(simhashBits)} ORDER BY doc_id") { (s, dir) =>
      simhashSig(s, dir, simhashBits).orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q66 — SimHash hamming near-dup: pairs whose 32-bit signatures
    // differ in ≤1 bit. The scale path is pigeonhole banding — split
    // the signature into two 16-bit halves; hamming ≤1 means at most
    // one half differs, so every qualifying pair shares at least one
    // half verbatim and the equi-join on (band, half) finds it.
    // Candidates then verify with one xor+bit_count.
    //
    // The half buckets are hub-star CAPPED at [[SimhashBucketCap]] —
    // the r9/r10 defined-semantics bound, mirrored literally in the
    // oracle below: a 16-bit half over a skewed corpus collides far
    // more than a 32-bit minhash band (measured max bucket: 41 at
    // sf0.01, 404 at sf0.1, 32,646 at 100× replication where the
    // uncapped join's candidate volume reaches 2.60e9 pairs and the
    // r9 suite spent 99.1 s on it — BandProfile's q66 mode, a scale
    // main last present at commit fba91a5). Buckets over the cap emit
    // only their hub (min doc_id)
    // star — hub connectivity preserved, per-bucket volume linear,
    // 100× candidate volume 29.2M (90× down). The cap cannot bind at
    // certification scales (512 > 404), so the oracle answer there is
    // the exhaustive one, and ScaleSemanticsSpec pins both sides of
    // the bound synthetically. At 100 TB widen to 64 bits / 4 bands —
    // same algebra, same cap.
    QueryDef.sql(
      "q66_simhash_neardup",
      s"""WITH sig AS (${simhashSql(32)}),
         |bnd AS (
         |  SELECT doc_id, simhash, 1 AS band, (simhash >> 16) & 65535 AS bv FROM sig
         |  UNION ALL
         |  SELECT doc_id, simhash, 2 AS band, simhash & 65535 AS bv FROM sig),
         |bsz AS (SELECT band, bv, COUNT(*) AS bn, MIN(doc_id) AS hub
         |        FROM bnd GROUP BY band, bv),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, a.simhash AS sa, b.doc_id AS doc_b, b.simhash AS sb
         |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bv = b.bv
         |    AND a.doc_id < b.doc_id
         |  JOIN bsz s ON s.band = a.band AND s.bv = a.bv AND s.bn <= $SimhashBucketCap
         |  UNION ALL
         |  SELECT h.doc_id, h.simhash, n.doc_id, n.simhash
         |  FROM bnd n
         |  JOIN bsz s ON s.band = n.band AND s.bv = n.bv AND s.bn > $SimhashBucketCap
         |  JOIN bnd h ON h.band = n.band AND h.bv = n.bv AND h.doc_id = s.hub
         |  WHERE n.doc_id <> s.hub)
         |SELECT DISTINCT doc_a, doc_b,
         |  CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // bucket size + hub + the hub's signature as ONE window pass
      // over (band, bv) — the q27 fold applied to the simhash tier.
      // The prior form aggregated bucket sizes separately and joined
      // them back (which forced a second persist just to fill the
      // join's two reads), and the star branch self-joined the
      // over-cap rows to fetch the hub's signature; min_by over the
      // same window carries it on every row instead, so the star
      // branch is a pure filter+project. The single persist keeps the
      // sign-sum aggregation at one run for the pair join's two sides
      // plus the star branch, and leaves `sized` hash-partitioned on
      // exactly the pair join's key.
      val half = lit(0xFFFFL)
      val bandRows =
        simhashSig(s, dir, 32).select(col("doc_id"), col("simhash"),
          posexplode(array(
            shiftright(col("simhash"), 16).bitwiseAND(half),
            col("simhash").bitwiseAND(half))).as(Seq("band", "bv")))
      val wb = Window.partitionBy(col("band"), col("bv"))
      val sized = CacheScope.scoped(bandRows
        .withColumn("bn", count(lit(1)).over(wb))
        .withColumn("hub", min(col("doc_id")).over(wb))
        .withColumn("hubsim", min_by(col("simhash"), col("doc_id")).over(wb)))
      val small = sized.filter(col("bn") <= SimhashBucketCap)
      val allPairs = small
        .select(col("band"), col("bv"), col("doc_id").as("doc_a"), col("simhash").as("sa"))
        .join(small.select(col("band"), col("bv"), col("doc_id").as("doc_b"), col("simhash").as("sb")),
          Seq("band", "bv"))
        .filter(col("doc_a") < col("doc_b"))
      // hub = the bucket's min doc_id, so the hub side is always doc_a
      val starPairs = sized
        .filter(col("bn") > SimhashBucketCap && col("doc_id") =!= col("hub"))
        .select(col("hub").as("doc_a"), col("hubsim").as("sa"),
          col("doc_id").as("doc_b"), col("simhash").as("sb"))
      allPairs.select("doc_a", "doc_b", "sa", "sb")
        .unionAll(starPairs.select("doc_a", "doc_b", "sa", "sb"))
        .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
        .filter(col("hamming") <= 1)
        .select("doc_a", "doc_b", "hamming").distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ------------------------------------------------------------------
    // q29 — blocked character-3-gram Jaccard near-dup verification:
    // pairwise only within (lang, source) blocks, threshold 0.6.
    QueryDef.sql(
      "q29_ngram_jaccard_pairs",
      s"$jaccardPairsSql\nORDER BY lang, source, doc_a, doc_b") { (s, dir) =>
      jaccardPairs(s, dir)
        .select("lang", "source", "doc_a", "doc_b", "jaccard")
        .orderBy(col("lang"), col("source"), col("doc_a"), col("doc_b"))
    },

    // ------------------------------------------------------------------
    // q69 — dedup cluster assignment: connected components over the
    // q29 near-dup pair graph (size-adaptive — see
    // [[ConnectedComponents.runAdaptive]]; a pair table this side of
    // the bounded-collect tier labels via driver union-find in one
    // pass). Pairs say "a ~ b"; retention policy
    // needs the transitive closure. The oracle computes the same
    // closure with a recursive CTE (min reachable id per node).
    QueryDef.sql(
      "q69_neardup_components",
      s"""WITH RECURSIVE pairs AS ($jaccardPairsSql),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, label) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node)
         |SELECT node AS doc_id, MIN(label) AS component
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val edges = jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
      ConnectedComponents.runAdaptive(edges)
        .select(col("node").as("doc_id"), col("label").as("component"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q32 — multimodal binary plumbing: opaque bytes + typed metadata
    // (length + sha256 fingerprint) — the oracle-checkable slice of
    // [[graft.multimodal.MultimodalOps]].
    QueryDef.sql(
      "q32_multimodal_binary",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |  sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        length(col("text").cast(BinaryType)).as("byte_len"),
        sha2(col("text").cast(BinaryType), 256).as("sha"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q53 — the production near-dup pipeline (LSH candidates → exact
    // verify, [[NearDup]]), made ORACLE-ABLE as a self-judging gate
    // (the q89 pattern): the pair LISTING is engine-specific (the
    // banding uses Spark's xxhash64, which DuckDB cannot mirror) but
    // the pipeline's contract is not — precision is 1.0 by
    // construction (every emitted pair must appear in the exhaustive
    // q29 tier with the IDENTICAL exact Jaccard) and 8×2 banding
    // recall is ≥ 0.9 over this corpus's pair mix (measured 0.991).
    // Spark verifies all three against its own exhaustive tier via a
    // full-outer join and emits booleans plus the exhaustive pair
    // count; the oracle recomputes the count and emits literal TRUEs.
    // A banding or verify regression flips a boolean or shifts the
    // count and breaks the hash. (The gate runs the exhaustive tier
    // as ground truth — scale benching of the LSH path alone is q103.)
    // Both sides run on the [[GateStratumMaxDocId]] certification
    // stratum (r9; = the whole corpus at real sf dirs, like
    // q113/q114): a gate against an exhaustive tier can only ever be
    // computed where the exhaustive tier is computable, and the
    // stratum makes that work scale-invariant under replication.
    QueryDef.sql(
      "q53_neardup_pipeline",
      s"""WITH pairs AS ($jaccardPairsSql)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exhaustive,
         |  TRUE AS precision_ok, TRUE AS jaccard_ok, TRUE AS recall_ok
         |FROM pairs""".stripMargin) { (s, dir) =>
      val corpus = Tables(s, dir).documentsSpread
        .filter(col("doc_id") < GateStratumMaxDocId)
      val lsh = NearDup.indexPairs(NearDup.buildIndex(corpus), 0.6)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_lsh"))
      val ex = jaccardPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_ex"))
      lsh.join(ex, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          count(col("j_ex")).as("n_ex"),
          count(when(col("j_ex").isNull, 1)).as("n_phantom"),
          count(when(col("j_lsh").isNotNull && col("j_ex").isNotNull
            && col("j_lsh") =!= col("j_ex"), 1)).as("n_mismatch"),
          count(when(col("j_lsh").isNotNull && col("j_ex").isNotNull, 1)).as("n_both"))
        .select(
          col("n_ex").as("n_exhaustive"),
          (col("n_phantom") === 0).as("precision_ok"),
          (col("n_mismatch") === 0).as("jaccard_ok"),
          (col("n_both") >= col("n_ex") * 0.9).as("recall_ok"))
    },

    // ------------------------------------------------------------------
    // q34 — corpus token frequency top-20 (explode + count + top-k).
    QueryDef.sql(
      "q34_top_tokens",
      """SELECT t AS token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text,' ')) AS t FROM documents)
        |GROUP BY t ORDER BY n DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
      Tables(s, dir).documentsSpread
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },

    // ------------------------------------------------------------------
    // q70 — the end-to-end curation composition a training-data
    // pipeline actually runs: language-ID → quality gate → exact dedup
    // (keep lowest doc_id), in ONE DataFrame flow — one scan, the
    // kernel scorers in a single projection, one shuffle (the
    // fingerprint groupBy). Hash-checked whole: the oracle re-derives
    // every stage in SQL, so a drift in any stage (scorer, threshold
    // comparison, dedup rule) breaks the hash.
    QueryDef.sql(
      "q70_corpus_curation",
      s"""WITH h AS (SELECT doc_id, text,
         |  $langsSql
         |FROM documents),
         |scored AS (SELECT doc_id, text,
         |  CASE WHEN h_en + h_es + h_de + h_fr = 0 THEN 'und'
         |       WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
         |       WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
         |       WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
         |       ELSE 'fr' END AS lang_pred,
         |  (CAST(least(len(string_split(text,' ')), 100) AS DOUBLE) / 100)
         |    * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |       / len(string_split(text,' '))) AS quality
         |FROM h),
         |kept AS (SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.2)
         |SELECT MIN(doc_id) AS doc_id, MAX(quality) AS quality,
         |  CAST(COUNT(*) AS BIGINT) AS n_copies
         |FROM kept GROUP BY md5(text) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documentsSpread
      val withHits = langStopwords.foldLeft(d) { case (df, (lang, words)) =>
        df.withColumn(s"h_$lang", graft.functions.StopwordHits(col("text"), words))
      }
      val hitCols = langStopwords.map { case (lang, _) => col(s"h_$lang") }
      val best = greatest(hitCols: _*)
      val pred = when(hitCols.reduce(_ + _) === 0, lit("und"))
        .otherwise(langStopwords.foldRight(lit("fr"): org.apache.spark.sql.Column) {
          case ((lang, _), acc) =>
            if (lang == "fr") acc
            else when(col(s"h_$lang") === best, lit(lang)).otherwise(acc)
        })
      withHits
        .select(col("doc_id"), col("text"),
          pred.as("lang_pred"), qualityScore(col("text")).as("quality"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.2)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"),
          // identical text ⇒ identical quality; max() keeps the agg
          // deterministic without trusting first()'s ordering
          max(col("quality")).as("quality"),
          count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("quality"), col("n_copies"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q71 — leakage-safe train/val/test split: the split key is the
    // CONTENT fingerprint, not the row id, so exact duplicates always
    // land in the same split (doc-id hashing puts copies of one
    // document on both sides of the train/test wall — the classic
    // contamination bug). First md5 hex char partitions 16-ways:
    // '0'-'d' train (87.5%), 'e' val, 'f' test. Pure projection — no
    // shuffle at all; the split of 100 TB is a metadata-free map.
    QueryDef.sql(
      "q71_train_split",
      """SELECT doc_id,
        |  CASE WHEN substr(md5(text), 1, 1) = 'f' THEN 'test'
        |       WHEN substr(md5(text), 1, 1) = 'e' THEN 'val'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val c = substring(fingerprint(col("text")), 1, 1)
      Tables(s, dir).documents.select(
        col("doc_id"),
        when(c === "f", lit("test"))
          .when(c === "e", lit("val"))
          .otherwise(lit("train")).as("split"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q64 — rolling-hash fingerprint dedup, oracled by injectivity:
    // DuckDB cannot evaluate the engine's 64-bit Rabin–Karp hash, but
    // it can compute the ground truth the hash must reproduce — the
    // duplicate-group-size distribution when grouping by the TEXT
    // itself. A single collision anywhere in the corpus would merge
    // two groups and shift the distribution, failing the hash check.
    // At scale the fingerprint is one multiply-add per byte with no
    // allocation (vs md5's digest per row) and shuffles as a single
    // uniform long — the cheapest exact-dedup key.
    QueryDef.sql(
      "q64_fingerprint_dedup",
      """SELECT dup_count, COUNT(*) AS n_groups FROM (
        |  SELECT COUNT(*) AS dup_count FROM documents GROUP BY text)
        |GROUP BY dup_count ORDER BY dup_count""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .groupBy(graft.functions.RollingHash64(col("text")).as("fp"))
        .agg(count(lit(1)).as("dup_count"))
        .groupBy(col("dup_count"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("dup_count"))
    },

    // ------------------------------------------------------------------
    // q65 — BPE-style pre-tokenization count: subword units = letter
    // runs, single digits, and single punctuation marks (the shape a
    // byte-pair tokenizer's pre-split produces). fertility = subwords
    // per whitespace token is the standard tokenizer-cost metric for
    // a training corpus. The oracle's regex uses only constructs Java
    // regex and RE2 interpret identically; the engine side runs the
    // [[graft.functions.SubwordCount]] byte scanner instead of the
    // regex interpreter (the q73 kernel precedent — fuzz-pinned
    // against java.util.regex in TextKernelsSpec) and counts
    // whitespace tokens without materializing the split array. Scale
    // shape (r13): compute rides the SCAN partitions — the per-doc
    // counts are map-side projections, so the only exchange in the
    // plan is the output ORDER BY over the narrow (id, int, double)
    // rows; text never shuffles (the previous form hash-exchanged the
    // full text for parallelism the cheap kernel no longer needs).
    QueryDef.sql(
      "q65_subword_tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS INTEGER) AS n_subwords,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS fertility
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sub = graft.functions.SubwordCount(col("text"))
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          sub.as("n_subwords"),
          (sub.cast("double") /
            graft.functions.SpaceTokenCount(col("text"))).as("fertility"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q77 — cluster retention: the step that turns near-dup CLUSTERS
    // into a kept corpus. Pairs (q29 shape) → connected components
    // (q69 shape) → keep exactly one doc per cluster, the highest
    // quality score (doc_id tiebreak); singletons keep themselves.
    // This is the full dedup pipeline end-to-end — pair generation,
    // transitive closure, retention policy — hash-checked as one
    // result. Scale: pairs/components as audited in q29/q69; the
    // retention window partitions by component (bounded groups).
    QueryDef.sql(
      "q77_cluster_retention",
      s"""WITH RECURSIVE pairs AS ($jaccardPairsSql),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, label) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node),
         |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
         |scored AS (SELECT doc_id,
         |  (CAST(least(len(string_split(text,' ')), 100) AS DOUBLE) / 100)
         |    * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |       / len(string_split(text,' '))) AS quality
         |FROM documents),
         |wc AS (SELECT s.doc_id, COALESCE(c.component, s.doc_id) AS component, s.quality
         |       FROM scored s LEFT JOIN comp c ON c.node = s.doc_id)
         |SELECT doc_id, component, quality,
         |  CAST(CASE WHEN ROW_NUMBER() OVER (
         |    PARTITION BY component ORDER BY quality DESC, doc_id) = 1
         |    THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM wc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val edges = jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val scored = Tables(s, dir).documentsSpread
        .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      Retention.retainBest(edges, scored, "doc_id", "quality")
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q78 — TF-IDF top terms per document: the classic retrieval /
    // corpus-statistics operator. tf and df are exact integer counts;
    // idf = ln(N/df) happens once per TOKEN (not per posting), and the
    // final score is float32-cast before ranking so a 1-ulp libm
    // difference between engines cannot flip a rank. Scale: tf and df
    // are map-side-combinable aggregations of one token explosion; the
    // df side is vocabulary-sized (≪ corpus) so its join back
    // broadcasts; N is a scalar broadcast cross join, never a collect.
    // The top-3 window is EXCHANGE-FREE (documentsSpread co-locates
    // each doc, so partitionBy(doc_id) is satisfied; the cost is the
    // partition-local sort). NEGATIVE RESULT (r14, ProbeQ78 — a probe
    // main last present at commit 9aaeeb6 — at 100×, min-of-3):
    // replacing the window with a bounded top-k object aggregate
    // reads 7.63 s at Spark's default
    // ObjectHashAggregate fallback threshold (128 groups — it
    // degenerates to the very sort it tries to avoid, plus object
    // overhead) and 6.11 s vs the window's 7.36 only with the
    // threshold raised to 20M — a session-global memory-accounting
    // knob this engine won't flip for a 1.2× on one query (object
    // buffers are unaccounted; collect_list queries with tens of
    // millions of groups would run unbounded). The window stays;
    // same-day calm floor 5.92 s vs DuckDB 6.0.
    QueryDef.sql(
      "q78_tfidf_topk",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS REAL) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rk, token, tfidf FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documentsSpread
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      // ONE tokenize pass (r14, the count-table tier): tf's grain is
      // already distinct (doc_id, token), so df — the count of
      // documents containing the token — is a per-token COUNT OF ROWS
      // of the tf table. The r10 form derived df from its own
      // `tok.distinct()` subtree, which Catalyst shares with nothing:
      // the corpus was scanned, tokenized and exploded TWICE, plus a
      // (doc_id, token)-grain distinct exchange that tf's groupBy had
      // already paid. n_docs must still come from the corpus (a doc
      // with no tokens is absent from tf but counts in N) — a
      // column-less parquet count, metadata-cheap.
      val tf = graft.CacheScope.scoped(
        tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = Tables(s, dir).documents.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(df), "token").crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          (col("tf") * log(col("n_docs").cast(DoubleType) / col("df")))
            .cast(FloatType).as("tfidf"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("token"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // ------------------------------------------------------------------
    // q86 — unigram language-model quality score: per-doc mean token
    // log-probability under the corpus's own unigram distribution
    // (the order-1 degenerate of the KenLM-perplexity filter training
    // pipelines run; low scores flag gibberish/rare-token junk).
    // ln once per VOCAB entry, per-doc sum in token-position order
    // (the q79 ordered-list contract — double sums must not depend on
    // partition order), final float32 cast. The vocab side is
    // broadcast here; at web scale the vocabulary outgrows a
    // broadcast — drop the hint (plain shuffled equi-join on token)
    // or prune to the top-N vocab + OOV bucket, which is what
    // perplexity filters deploy anyway.
    QueryDef.sql(
      "q86_unigram_logprob",
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(string_split(text,' ')) + 1)) AS pos,
        |    unnest(string_split(text,' ')) AS token
        |  FROM documents),
        |vocab AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tok FROM tok),
        |lp AS (SELECT token, ln(c / n_tok) AS logp FROM vocab CROSS JOIN n),
        |per_doc AS (
        |  SELECT doc_id, list(logp ORDER BY pos) AS lps
        |  FROM tok JOIN lp USING (token) GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(len(lps) AS INTEGER) AS n_tokens,
        |  CAST(list_sum(lps) / len(lps) AS REAL) AS avg_logprob
        |FROM per_doc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documentsSpread
      val tok = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos0", "token")))
        .withColumn("pos", col("pos0") + 1)
      // n_tok = Σ vocab.c — the corpus token count folds off the
      // vocabulary count table instead of its own full tokenize pass
      // (r14: three corpus scans → two; the double sum over vocab
      // rows is the same exact integer-to-double total). The vocab
      // table persists only for the duration of the two derivations.
      val vocab = graft.CacheScope.scoped(
        tok.groupBy(col("token")).agg(count(lit(1)).as("c")))
      val n = vocab.agg(sum(col("c")).cast(DoubleType).as("n_tok"))
      val lp = vocab.crossJoin(broadcast(n))
        .select(col("token"), log(col("c") / col("n_tok")).as("logp"))
      // Position-ordered fold as a WINDOW running over (doc_id, pos)
      // (r17; replaces collect_list(struct) + the PosOrderedSum
      // kernel, deleted since): the collect_list TypedImperativeAggregate ran through
      // ObjectHashAggregate whose 128-key sort-based fallback fires on
      // every real partition (probe: findNextSortedGroup hot at 100×)
      // — so the rows were being SORTED anyway, plus per-doc object
      // buffers and the q128-class interpreted call sites
      // (getAccessor/BoundReference.eval megamorphic in-suite: 11.7 s
      // in-suite vs 6.05 isolated calm). The window form pays the
      // same doc_id exchange + an explicit codegen sort and nothing
      // else. Exactness: both unbounded-frame aggregates accumulate
      // rows IN SORT ORDER (pos ascending, unique per doc), so the
      // double sum is the identical left-to-right add chain the
      // kernel computed (0.0+v1 ≡ v1: ln never yields −0.0), count ≡
      // size, and the division promotes to double either way.
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val wAll = wd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      tok.join(broadcast(lp), "token")
        .select(col("doc_id"), col("pos"), col("logp"))
        .withColumn("tot", sum(col("logp")).over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1)
        .select(col("doc_id"),
          col("n").cast(IntegerType).as("n_tokens"),
          (col("tot") / col("n")).cast(FloatType).as("avg_logprob"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q97 — triangle counting on the near-dup graph: how CLIQUE-LIKE
    // is each (lang, source) block's duplicate structure? (Dense
    // triangles ⇒ template families that collapse safely to one
    // representative; triangle-free chains ⇒ drift series that need
    // the q77 retention policy.) Canonical doc_a < doc_b pairs make
    // each triangle count exactly once (a<b<c by construction); two
    // equi-joins over the (already near-dup-sparse) pair table, both
    // blocked — the standard distributed triangle enumeration, never
    // touching the corpus itself.
    QueryDef.sql(
      "q97_neardup_triangles",
      s"""WITH pairs AS ($jaccardPairsSql),
         |e AS (SELECT lang, source, doc_a AS a, doc_b AS b FROM pairs)
         |SELECT e1.lang, e1.source, CAST(COUNT(*) AS BIGINT) AS triangles
         |FROM e e1
         |JOIN e e2 ON e1.lang = e2.lang AND e1.source = e2.source AND e1.b = e2.a
         |JOIN e e3 ON e1.lang = e3.lang AND e1.source = e3.source
         |  AND e1.a = e3.a AND e2.b = e3.b
         |GROUP BY e1.lang, e1.source
         |ORDER BY e1.lang, e1.source""".stripMargin) { (s, dir) =>
      val e = CacheScope.scoped(jaccardPairs(s, dir)
        .select(col("lang"), col("source"), col("doc_a"), col("doc_b")))
      val ab = e.select(col("lang"), col("source"),
        col("doc_a").as("a"), col("doc_b").as("b"))
      val bc = e.select(col("lang"), col("source"),
        col("doc_a").as("b"), col("doc_b").as("c"))
      val ac = e.select(col("lang"), col("source"),
        col("doc_a").as("a"), col("doc_b").as("c"))
      ab.join(bc, Seq("lang", "source", "b"))
        .join(ac, Seq("lang", "source", "a", "c"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("triangles"))
        .orderBy(col("lang"), col("source"))
    },

    // ------------------------------------------------------------------
    // q100 — duplicated-span detection (the token-level dedup of
    // Lee et al.'s "Deduplicating Training Data Makes Language Models
    // Better": repeated ≥W-token spans are memorization fuel even when
    // whole documents are unique). W=8 here (the synthetic docs are
    // ~50 tokens; 50 in the paper). Every token position opens one
    // rolling window, each window collapses to one md5, a window is
    // "duplicated" when its hash occurs ≥2 times corpus-wide, and a
    // doc's dup_tokens = size of the UNION of its duplicated windows
    // (overlaps counted once, via the position explode + distinct —
    // W is a constant, so the explode is a bounded ×8, and the
    // interval-merge alternative is only worth it for W≥50).
    // Scale: the window stream re-aggregates on the hash with map-side
    // combine (shuffle carries one row per distinct window), the
    // dup-filter join is an equi-join on a uniform 128-bit key, and
    // nothing ever materializes all-pairs. The q99-style bloom
    // prefilter composes here when the dup set is sparse.
    QueryDef.sql(
      "q100_span_dedup",
      s"""WITH $dupSpanCovSql,
         |cn AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
         |  CAST(COALESCE(cn.dup_tokens, 0) AS INTEGER) AS dup_tokens,
         |  CAST(CAST(COALESCE(cn.dup_tokens, 0) AS DOUBLE) / len(tk) AS REAL) AS dup_frac
         |FROM t LEFT JOIN cn USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir).documentsSpread
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val cn = dupSpanPositions(t)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_tokens"))
      t.select(col("doc_id"), size(col("tk")).as("n_tokens"))
        .join(cn, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).cast(IntegerType).as("dup_tokens"),
          (coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) / col("n_tokens"))
            .cast(FloatType).as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q103 — retention on the SCALE path: q77's keep-best-per-cluster
    // policy rerun over LSH-BANDED candidates (the q27 plan) verified
    // by exact Jaccard ONLY on candidates — the composition a 100 TB
    // dedup actually ships (band finds, verify confirms, components
    // cluster, policy retains; never the all-pairs enumeration q77
    // uses as ground truth). Every stage is deterministic, so the
    // whole APPROXIMATE pipeline is oracle-expressible end-to-end:
    // both engines compute identical bands → candidates → verified
    // pairs → clusters → keeps, and the hash certifies the
    // approximation itself, not just its pieces.
    QueryDef.sql(
      "q103_retention_lsh",
      s"""WITH RECURSIVE sig AS ($sigSql),
         |cand AS ($lshCandSql),
         |g AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(list_transform(range(1, greatest(length(text)-1, 1)),
         |      i -> substr(text, i, 3)))) AS gram
         |  FROM documents),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS overlap
         |  FROM cand c JOIN g a ON a.doc_id = c.doc_a
         |  JOIN g b ON b.doc_id = c.doc_b AND b.gram = a.gram
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(overlap AS DOUBLE) / (sa.sz + sb.sz - overlap) >= 0.6),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, label) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node),
         |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
         |scored AS (SELECT doc_id,
         |  (CAST(least(len(string_split(text,' ')), 100) AS DOUBLE) / 100)
         |    * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |       / len(string_split(text,' '))) AS quality
         |FROM documents),
         |wc AS (SELECT s.doc_id, COALESCE(c.component, s.doc_id) AS component, s.quality
         |       FROM scored s LEFT JOIN comp c ON c.node = s.doc_id)
         |SELECT doc_id, component, quality,
         |  CAST(CASE WHEN ROW_NUMBER() OVER (
         |    PARTITION BY component ORDER BY quality DESC, doc_id) = 1
         |    THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM wc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documentsSpread
      val g = docs.select(col("doc_id"),
        graft.functions.CharNgramHashesSorted(col("text"), 3).as("hs"))
      val pairs = lshCandidates(s, dir)
        .join(g.select(col("doc_id").as("doc_a"), col("hs").as("ga")), "doc_a")
        .join(g.select(col("doc_id").as("doc_b"), col("hs").as("gb")), "doc_b")
        .withColumn("overlap",
          graft.functions.SortedLongIntersectCount(col("ga"), col("gb")))
        .withColumn("jaccard",
          col("overlap").cast(DoubleType)
            / (size(col("ga")) + size(col("gb")) - col("overlap")))
        .filter(col("jaccard") >= 0.6)
        .select(col("doc_a"), col("doc_b"))
      val scored = docs.select(col("doc_id"), qualityScore(col("text")).as("quality"))
      Retention.retainBest(pairs, scored, "doc_id", "quality")
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q110 — bigram language-model quality score: per-doc mean log
    // P(w | prev) under the corpus's own Laplace-smoothed bigram
    // distribution — the order-2 step from q86's unigram toward the
    // KenLM-style perplexity filters curation pipelines deploy (order
    // captures "plausible word SEQUENCES", which unigrams cannot).
    // ln happens once per distinct BIGRAM (vocab²-bounded, broadcast
    // back over the pair stream); per-doc sums run in token-position
    // order (the q86 ordered-fold contract — double addition must not
    // depend on partition order), final float32 cast. Context counts
    // and the vocabulary size are two broadcast-size aggregates; the
    // corpus explodes once into (prev, w, pos) and re-aggregates
    // map-side.
    QueryDef.sql(
      "q110_bigram_logprob",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |p AS (SELECT doc_id, i+1 AS pos, tk[i] AS prev, tk[i+1] AS w
        |      FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t)),
        |c2 AS (SELECT prev, w, COUNT(*) AS c2 FROM p GROUP BY 1, 2),
        |c1 AS (SELECT prev, COUNT(*) AS c1 FROM p GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vsz
        |      FROM (SELECT unnest(tk) AS tok FROM t)),
        |lp AS (SELECT prev, w, ln((c2 + 1.0)/(c1 + vsz)) AS logp
        |       FROM c2 JOIN c1 USING (prev) CROSS JOIN v),
        |pd AS (SELECT doc_id, list(logp ORDER BY pos) AS lps
        |       FROM p JOIN lp USING (prev, w) GROUP BY doc_id)
        |SELECT doc_id, CAST(len(lps) AS INTEGER) AS n_bigrams,
        |  CAST(list_sum(lps)/len(lps) AS REAL) AS avg_logprob
        |FROM pd ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documentsSpread
      val t = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      // the bigram stream feeds three consumers but is deliberately
      // NOT persisted: it is a map-side explode (no shuffle below it),
      // and the r7 measurement showed caching the token stream costs
      // MORE than recomputing it (13.7 s vs 9.9 s at the 100× probe) —
      // persist pays only when the shared subtree contains a shuffle
      // or dedup (q111/q126/q128), not a cheap codegen projection
      val p = t.filter(size(col("tk")) >= 2)
        .select(col("doc_id"), col("tk"),
          posexplode(slice(col("tk"), lit(1), size(col("tk")) - 1)).as(Seq("i0", "prev")))
        .select(col("doc_id"), (col("i0") + 2).as("pos"),
          col("prev"), element_at(col("tk"), col("i0") + 2).as("w"))
      val c2 = p.groupBy(col("prev"), col("w")).agg(count(lit(1)).as("c2"))
      val c1 = p.groupBy(col("prev")).agg(count(lit(1)).as("c1"))
      val v = t.select(explode(col("tk")).as("tok"))
        .agg(countDistinct(col("tok")).cast(DoubleType).as("vsz"))
      val lp = c2.join(broadcast(c1), "prev").crossJoin(broadcast(v))
        .select(col("prev"), col("w"),
          log((col("c2") + lit(1.0)) / (col("c1") + col("vsz"))).as("logp"))
      // position-ordered fold as the window running over (doc_id,
      // pos) — r17, same rewrite and same exactness argument as q86:
      // the unbounded-frame sum/count accumulate in sort order (the
      // kernel's left-to-right adds), and the object-agg fallback +
      // interpreted per-element access disappear from the plan
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val wAll = wd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      p.join(broadcast(lp), Seq("prev", "w"))
        .select(col("doc_id"), col("pos"), col("logp"))
        .withColumn("tot", sum(col("logp")).over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1)
        .select(col("doc_id"),
          col("n").cast(IntegerType).as("n_bigrams"),
          (col("tot") / col("n")).cast(FloatType).as("avg_logprob"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q104 — span STRIP: the action to q100's detection — rewrite every
    // document with its duplicated 8-token spans removed (what the
    // token-level dedup pass actually emits for training). The covered
    // position set joins back per doc as an array and a higher-order
    // filter keeps uncovered tokens IN ORDER — position arithmetic
    // stays inside whole-stage codegen, the corpus is never exploded a
    // second time, and docs with no duplicated spans pass through
    // byte-identical. n_removed is q100's dup_tokens by construction.
    QueryDef.sql(
      "q104_span_strip",
      s"""WITH $dupSpanCovSql,
         |cl AS (SELECT doc_id, list(p) AS ps FROM cov GROUP BY doc_id)
         |SELECT t.doc_id,
         |  COALESCE(array_to_string(list_filter(tk, (x, i) ->
         |    NOT list_contains(COALESCE(ps, []), i)), ' '), '') AS cleaned,
         |  CAST(COALESCE(len(ps), 0) AS INTEGER) AS n_removed
         |FROM t LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir).documentsSpread
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val cl = dupSpanPositions(t)
        .groupBy(col("doc_id")).agg(collect_list(col("p")).as("ps"))
      t.join(cl, Seq("doc_id"), "left")
        .withColumn("ps2", coalesce(col("ps"), expr("array()").cast("array<int>")))
        .select(col("doc_id"),
          concat_ws(" ", filter(col("tk"),
            (x, i) => !array_contains(col("ps2"), i + 1))).as("cleaned"),
          // size over the null-coalesced ps2, not the nullable ps:
          // under Spark 3 legacy defaults size(NULL) is -1, which
          // would silently report n_removed=-1 for clean docs
          size(col("ps2")).cast(IntegerType).as("n_removed"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // q121 — MAXIMAL duplicated spans: q100 detects the fixed 8-token
    // duplicated windows; this coalesces the covered positions into
    // the variable-length maximal ranges a substring-dedup report
    // actually shows (overlapping windows chain into one span). The
    // merge is gaps-and-islands — position minus its per-doc rank is
    // constant exactly within a consecutive run — so the whole
    // coalesce is one window + one aggregate. The per-doc window is
    // bounded by document length (never corpus-sized), and the
    // covered-position table it runs on is already dedup-output-
    // sized; both survive 100 TB untouched.
    QueryDef.sql(
      "q121_maximal_spans",
      s"""WITH $dupSpanCovSql,
         |isl AS (SELECT doc_id, p,
         |  p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
         |FROM cov)
         |SELECT doc_id, CAST(MIN(p) AS INTEGER) AS span_start,
         |  CAST(MAX(p) AS INTEGER) AS span_end,
         |  CAST(COUNT(*) AS INTEGER) AS span_len
         |FROM isl GROUP BY doc_id, g
         |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir).documentsSpread
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      dupSpanPositions(t)
        .withColumn("g", col("p") - row_number().over(w))
        .groupBy(col("doc_id"), col("g"))
        .agg(min(col("p")).cast(IntegerType).as("span_start"),
          max(col("p")).cast(IntegerType).as("span_end"),
          count(lit(1)).cast(IntegerType).as("span_len"))
        .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ------------------------------------------------------------------
    // q113 — the INCREMENTAL dedup contract as a driver-gated query
    // (q53's daily-crawl shape): the corpus is docs with doc_id % 5
    // ≠ 0, the arriving batch the rest; incrementalPairs must find
    // every near-dup pair INVOLVING a batch doc without re-banding
    // the corpus — cost scales with the batch. Gate shape mirrors
    // q53's self-judging contract: precision 1.0 and exact Jaccard
    // against the exhaustive tier restricted to batch-touching pairs,
    // banding recall ≥ 0.9; the oracle recomputes the restricted
    // exhaustive count and emits literal TRUEs. Both sides run on the
    // [[GateStratumMaxDocId]] certification stratum (= the whole
    // corpus at real sf dirs), so gate work is scale-invariant under
    // replication and a full-suite 100× run completes.
    QueryDef.sql(
      "q113_incremental_dedup",
      s"""WITH pairs AS ($jaccardPairsSql)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_expected,
         |  TRUE AS precision_ok, TRUE AS jaccard_ok, TRUE AS recall_ok
         |FROM pairs WHERE (doc_a % 5 = 0 OR doc_b % 5 = 0)
         |  AND doc_a < 1000000 AND doc_b < 1000000""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documentsSpread
        .filter(col("doc_id") < GateStratumMaxDocId)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val inc = NearDup.incrementalPairs(NearDup.buildIndex(corpus), batch)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_lsh"))
      val ex = jaccardPairs(s, dir)
        .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
        .filter(col("doc_a") < GateStratumMaxDocId && col("doc_b") < GateStratumMaxDocId)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_ex"))
      incrementalGate(inc, ex)
    },

    // ------------------------------------------------------------------
    // q114 — MinHash agreement as a Jaccard ESTIMATOR, accuracy-gated
    // (the statistic behind the near-dup pre-screen): each exhaustive
    // near-dup pair's 16-seed signature agreement, divided by 16, is
    // an unbiased Jaccard estimate with σ = √(j(1−j)/16) ≈ 0.12.
    // Spark recomputes the signatures (same xxhash64-min construction
    // as [[NearDup]]), scores the agreement with the codegen'd
    // [[LongPosAgreeCount]] kernel, and self-judges the mean absolute
    // error over all exhaustive pairs against 0.15 — a ~7σ margin on
    // the sample mean, so the boolean is stable, while a broken seed,
    // kernel, or banding construction lands far outside it. The
    // oracle recomputes the pair count and emits literal TRUE. Runs
    // on the [[GateStratumMaxDocId]] certification stratum (= the
    // whole corpus at real sf dirs) so the exhaustive tier's work is
    // scale-invariant under replication.
    QueryDef.sql(
      "q114_minhash_estimator",
      s"""WITH pairs AS ($jaccardPairsSql)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS mae_ok
         |FROM pairs WHERE doc_a < 1000000 AND doc_b < 1000000""".stripMargin) { (s, dir) =>
      val nh = 16
      val sig = Tables(s, dir).documentsSpread
        .filter(col("doc_id") < GateStratumMaxDocId)
        .select(col("doc_id"), explode(CharNgramHashesSorted(col("text"), 3)).as("gh"))
        .groupBy(col("doc_id"))
        .agg(
          min(xxhash64(lit(0), col("gh"))).as("h0"),
          (1 until nh).map(j => min(xxhash64(lit(j), col("gh"))).as(s"h$j")): _*)
        .select(col("doc_id"),
          array((0 until nh).map(j => col(s"h$j")): _*).as("sig"))
      estimatorGate(jaccardPairs(s, dir)
        .filter(col("doc_a") < GateStratumMaxDocId && col("doc_b") < GateStratumMaxDocId)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .select(col("jaccard"),
          (LongPosAgreeCount(col("sa"), col("sb")).cast(DoubleType) / nh).as("est")))
    },

    // ------------------------------------------------------------------
    // q117 — BM25 ranked retrieval (Robertson/Okapi, the Lucene
    // positive-idf variant): top-10 documents for a 3-term query. One
    // explode pass folds to a per-doc (dl, tf_t...) row — map-side
    // combined, one shuffle on doc_id — the corpus constants (N, Σdl,
    // df_t) reduce to ONE row broadcast back, and the score is a
    // single fixed-order double expression over exact longs, so the
    // ranking is bit-deterministic (same discipline as q85's moments;
    // float32 cast only at output). Scale: no per-term join — terms
    // are pivoted into conditional sums, so adding query terms widens
    // one aggregate instead of multiplying scans; TakeOrdered keeps
    // the top-10 without a global sort.
    QueryDef.sql(
      "q117_bm25_topk",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |d AS (SELECT doc_id, COUNT(*) AS dl,
        |    SUM(CASE WHEN t = 'vector' THEN 1 ELSE 0 END) AS tf0,
        |    SUM(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS tf1,
        |    SUM(CASE WHEN t = 'scan' THEN 1 ELSE 0 END) AS tf2
        |  FROM tok GROUP BY doc_id),
        |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, CAST(SUM(dl) AS DOUBLE) AS sdl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d)
        |SELECT doc_id, CAST(
        |    ln((nd - df0 + 0.5) / (df0 + 0.5) + 1.0) * (CAST(tf0 AS DOUBLE) * 2.2)
        |      / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / nd)))
        |  + ln((nd - df1 + 0.5) / (df1 + 0.5) + 1.0) * (CAST(tf1 AS DOUBLE) * 2.2)
        |      / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / nd)))
        |  + ln((nd - df2 + 0.5) / (df2 + 0.5) + 1.0) * (CAST(tf2 AS DOUBLE) * 2.2)
        |      / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / nd)))
        |  AS REAL) AS bm25
        |FROM d, s ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      val terms = Seq("vector", "hash", "scan")
      val k1 = 1.2; val b = 0.75
      val d = DoubleType
      val tok = Tables(s, dir).documentsSpread
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      val perDoc = tok.groupBy(col("doc_id")).agg(
        count(lit(1)).as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("t") === t, 1L).otherwise(0L)).as(s"tf$i")
        }: _*)
      val stats = perDoc.agg(
        count(lit(1)).cast(d).as("nd"),
        sum(col("dl")).cast(d).as("sdl") +:
          terms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast(d).as(s"df$i")): _*)
      val avgdl = col("sdl") / col("nd")
      def part(i: Int) = {
        val tf = col(s"tf$i").cast(d)
        val df = col(s"df$i")
        log((col("nd") - df + 0.5) / (df + 0.5) + 1.0) *
          (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(d) / avgdl))
      }
      perDoc.crossJoin(broadcast(stats))
        .select(col("doc_id"),
          terms.indices.map(part).reduce(_ + _).cast(FloatType).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
    }
  )
}
