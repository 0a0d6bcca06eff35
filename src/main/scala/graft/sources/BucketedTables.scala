package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout for repeat-join workloads.
  *
  * At 100 TB the dominant cost of a fact⋈fact join (orders⋈lineitem,
  * events⋈events) is the shuffle of both sides. Writing both tables
  * bucketed AND sorted by the join key pays that shuffle once at write
  * time; every subsequent equi-join on the key then planes as a
  * sort-merge join with **zero Exchange and zero Sort** on either side
  * (verified by `BucketedTablesSpec` against the physical plan).
  * Aggregations on the bucket key skip their exchange the same way.
  *
  * Rules that make this work (and that the writer enforces):
  *   - both sides bucketed by the same key into the same bucket count;
  *   - `spark.sql.sources.bucketing.enabled` on (default);
  *   - to also drop the Sort, `spark.sql.legacy.bucketedTableScan
  *     .outputOrdering=true` (safe here because the writer guarantees
  *     one file per bucket; Spark disabled it by default for
  *     multi-file buckets, SPARK-28632);
  *   - bucket count chosen so one bucket ≈ one task's worth of data
  *     (128-256 MB target at the expected table size).
  */
object BucketedTables {

  /** Write `df` as a managed bucketed+sorted table (parquet).
    *
    * The pre-write `repartition(numBuckets, key)` aligns write tasks
    * with buckets (same Murmur3 hash), yielding exactly one file per
    * bucket — required for the planner to trust the per-bucket sort
    * order and drop the join-side Sort (multi-file buckets are only
    * sorted per file).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      numBuckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = df.sparkSession
    // Pin maxRecordsPerFile=0 for the write: any inherited cap would
    // split bucket files, and the sort-trust config downstream
    // (`bucketedTableScan.outputOrdering`) is only safe when every
    // bucket is exactly one file — a multi-file bucket is sorted per
    // FILE, and a planner that trusts whole-bucket order would skip a
    // required Sort and silently mis-join (SPARK-28632; r13 ADVICE).
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    try
      df.repartition(numBuckets, df(key))
        .write
        .mode(mode)
        .format("parquet")
        .bucketBy(numBuckets, key)
        .sortBy(key)
        .saveAsTable(table)
    finally prev.fold(spark.conf.unset("spark.sql.files.maxRecordsPerFile"))(
      spark.conf.set("spark.sql.files.maxRecordsPerFile", _))
    // Verify the invariant the config pin is meant to guarantee —
    // construction arguments are not evidence. Fails the BUILD, the
    // only place the layout can be fixed cheaply.
    val (files, buckets) = bucketFileCensus(spark, table)
    require(files == buckets && buckets <= numBuckets,
      s"bucketed table $table wrote $files data files across $buckets " +
        s"bucket ids (numBuckets=$numBuckets) — some bucket holds more " +
        "than one file, so per-bucket sort order would not hold; " +
        "rewrite the table")
  }

  /** (data-file count, distinct bucket-id count) under `table`'s
    * location — the at-most-one-file-per-bucket evidence the
    * build-time assert above consumes (an EMPTY bucket writes no file
    * at all, which is sort-safe — only a multi-file bucket breaks the
    * trusted order). Bucket ids come from the writer's `_NNNNN.`
    * file-name component.
    */
  def bucketFileCensus(spark: SparkSession, table: String): (Int, Int) = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(loc).toSeq
      .filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val bucketId = "_(\\d{5})\\.".r
    val ids = names.flatMap(n => bucketId.findFirstMatchIn(n).map(_.group(1))).distinct
    (names.size, ids.size)
  }

  /** Equi-join two tables previously written by [[writeBucketed]] with
    * the same key and bucket count: shuffle-free, sort-free.
    */
  def coLocatedJoin(
      spark: SparkSession,
      left: String,
      right: String,
      key: String,
      joinType: String = "inner"): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key), joinType)
}
