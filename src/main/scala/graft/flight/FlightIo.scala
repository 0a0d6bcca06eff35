package graft.flight

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.time.ZonedDateTime
import java.time.format.DateTimeFormatter

/** Sources/sinks + path scheme of the medallion layout (reference
  * `/root/reference/src/load.py` and `src/main.py:28-54`,
  * `src/answers.py:197-203`), on the Hadoop FileSystem API so the same
  * code serves `file://` locally and `s3a://` on a cluster — no
  * object-store SDK needed.
  *
  * The `year=/month=/day=` segments mirror the reference's hand-built
  * layout (one leaf dir per run, NOT Hive `partitionBy` —
  * `load.py:43,75`).
  */
object FlightIo {

  val ParisZone: java.time.ZoneId = java.time.ZoneId.of("Europe/Paris")

  /** `{base}/year=Y/month=M/day=D/flights<yyyyMMddHHmmss>` in
    * Europe/Paris wall time (`load.py:31-44`).
    */
  def timestampedPath(base: String, now: ZonedDateTime): String = {
    val p = now.withZoneSameInstant(ParisZone)
    val ts = p.format(DateTimeFormatter.ofPattern("yyyyMMddHHmmss"))
    f"$base/year=${p.getYear}%04d/month=${p.getMonthValue}%02d/day=${p.getDayOfMonth}%02d/flights$ts"
  }

  /** Dim CSV: single file, header, overwrite (`load.py:17`). */
  def writeDimCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(path)

  /** Bronze CSV snapshot: timestamped path, no header (`load.py:31-47`). */
  def writeBronzeCsv(df: DataFrame, base: String, now: ZonedDateTime): String = {
    val path = timestampedPath(base, now)
    df.write.mode("overwrite").csv(path)
    path
  }

  /** Silver/gold parquet snapshot (`load.py:62-79`). */
  def writeParquetSnapshot(df: DataFrame, base: String, now: ZonedDateTime): String = {
    val path = timestampedPath(base, now)
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** A gold snapshot (or the fixture) read with the declared
    * [[FlightModel.goldSchema]]: no footer-reading inference job, so a
    * lookup fires no Spark job at all.
    */
  def readGold(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FlightModel.goldSchema).parquet(path)

  /** Newest-snapshot resolution (`answers.py:197-203`): list files
    * recursively, keep dirs containing parquet, lexicographic max —
    * same semantics as the reference's object listing, via Hadoop FS.
    * Only COMMITTED snapshots count: the dir's `_SUCCESS` marker is in
    * the same listing, and no dir below `base` starts with `_` — a
    * killed or in-flight write leaves its part files under
    * `_temporary/0/task_*` with no marker, and must never be read as
    * the newest gold.
    */
  def newestSnapshotDir(spark: SparkSession, base: String): Option[String] = {
    val path = new Path(base)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val baseDepth = fs.makeQualified(path).depth()
    def underScratch(dir: Path): Boolean =
      Iterator.iterate(dir)(_.getParent).takeWhile(_.depth() > baseDepth)
        .exists(_.getName.startsWith("_"))
    val it = fs.listFiles(path, true)
    val dataDirs = scala.collection.mutable.Set.empty[Path]
    val committed = scala.collection.mutable.Set.empty[Path]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName == "_SUCCESS") committed += f.getParent
      else if (f.getName.endsWith(".parquet")) dataDirs += f.getParent
    }
    dataDirs.intersect(committed).filterNot(underScratch).map(_.toString).maxOption
  }

  /** Storage bootstrap (`ensure_bucket_exists`, reference
    * `main.py:57-65`): make sure the base location exists before the
    * first write. Via the Hadoop FS API this is mkdir-p: idempotent,
    * true for pre-existing dirs, creates all missing parents. On
    * `file://` it is a literal mkdir -p; on `s3a://` it writes the
    * empty-dir marker inside an EXISTING bucket — creating the bucket
    * itself is an account-level control-plane call outside the
    * FileSystem API (and outside any data engine's job), matching the
    * reference which calls its object-store admin client for this.
    * Returns true when the location exists on return.
    */
  def ensureBucketExists(spark: SparkSession, base: String): Boolean = {
    val path = new Path(base)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(path) || fs.exists(path)
  }

  /** `_SUCCESS` existence probe (`main.py:41-45`). */
  def successExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Cache-or-extract for a dim (`get_or_create_df`, `main.py:28-54`):
    * if the CSV already exists (per `_SUCCESS`), read it back with the
    * supplied schema (the reference re-reads header-only all-string,
    * which is why gold re-casts; supplying the schema here keeps both
    * behaviors available — pass an all-string schema for reference
    * fidelity).
    */
  def getOrCreateDimCsv(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      build: () => DataFrame): DataFrame = {
    if (!successExists(spark, path)) writeDimCsv(build(), path)
    spark.read.option("header", "true").schema(schema).csv(path)
  }
}
