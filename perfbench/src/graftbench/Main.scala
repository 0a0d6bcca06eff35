package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{CacheScope, GraftSession, QueryDef, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Benchmark process entry. `perfbench/run.py` builds this package next
  * to the program's sources and starts it as
  * `graftbench.Main <mode> <settings.properties>`; the process writes
  * its raw samples, spans and counters as JSON lines to the settings'
  * `out` file, and `run.py` turns them into metrics.
  *
  * Modes: `suite` (query suite), `flight` (hourly flight day), `record`
  * (fingerprint every query twice) and `selftest`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(1)), StandardCharsets.UTF_8)
    try p.load(in) finally in.close()
    val settings = Settings(p)
    val out = new Out(settings("out"))
    try args(0) match {
      case "suite" => Suite.run(settings, out)
      case "flight" => FlightDay.run(settings, out)
      case "record" => Record.run(settings, out)
      case "selftest" => SelfTest.run(settings, out)
      case m => sys.error(s"unknown mode $m")
    } finally out.close()
  }
}

final case class Settings(p: java.util.Properties) {
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
  def int(k: String): Int = apply(k).toInt
  def flag(k: String): Boolean = apply(k) == "1"
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
}

/** JSON-lines sink, kept in memory and written on close. */
final class Out(path: String) {
  private val lines = ArrayBuffer.empty[String]
  def apply(fields: (String, Any)*): Unit = synchronized { lines += Out.obj(fields) }
  def close(): Unit = Files.write(Paths.get(path),
    lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
}

object Out {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Session set-up and the pieces both workloads share. */
object Common {
  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def open(cores: Int): SparkSession = {
    val spark = GraftSession.local(cores = cores, appName = "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set the session up `reps` times and record each set-up's seconds;
    * the first one (a cold JVM) also records its seconds from JVM start.
    * `each` runs inside every set-up, after the session exists.
    */
  def setUp(cores: Int, reps: Int, out: Out)(each: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    for (rep <- 0 until reps) {
      val t0 = System.nanoTime()
      val sinceJvmStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
      if (spark != null) spark.stop()
      spark = open(cores)
      each(spark)
      val s = secs(t0)
      out("k" -> "setup", "rep" -> rep, "s" -> s, "from_jvm_s" -> (sinceJvmStart + s))
    }
    spark
  }

  /** Timers of one query: build, the one write action, drain. */
  final case class QueryRun(
      t0: Long, t1: Long, t2: Long, t3: Long,
      fp: Option[Fingerprint], error: Option[String]) {
    def wall: Double = (t3 - t0) / 1e9
  }

  /** The library-caller contract: build, one write action, drain.
    * Persists that bypass `CacheScope` are cleared afterwards, outside
    * the timed window, so a later pass cannot read an earlier pass's
    * cached results.
    */
  def runQuery(spark: SparkSession, d: QueryDef, dir: String, id: String): QueryRun = {
    val t0 = System.nanoTime()
    var t1 = 0L
    var t2 = 0L
    var fp: Option[Fingerprint] = None
    var error: Option[String] = None
    try {
      val df = d.build(spark, dir)
      t1 = System.nanoTime()
      df.write.format(HashSink.Format).option("id", id).mode("overwrite").save()
      t2 = System.nanoTime()
      fp = HashSink.take(id)
      if (fp.isEmpty) error = Some("no fingerprint committed")
    } catch {
      case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val now = System.nanoTime()
    if (t1 == 0L) t1 = now
    if (t2 == 0L) t2 = now
    try CacheScope.drain()
    catch { case e: Throwable => if (error.isEmpty) error = Some(s"drain: ${e.getMessage}") }
    val t3 = System.nanoTime()
    spark.catalog.clearCache()
    QueryRun(t0, t1, t2, t3, fp, error)
  }

  /** Committed fingerprints: `name<TAB>rows<TAB>hash` per line. */
  def loadFingerprints(path: String): Map[String, Fingerprint] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, r, h) = l.split("\t")
        n -> Fingerprint(r.toLong, h.toLong)
      }.toMap

  def defsByName: Map[String, QueryDef] = SparkEntry.defs.map(d => d.name -> d).toMap

  /** JVM-wide GC and JIT milliseconds so far. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  def jitMs: Long = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  }
  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Regime fields the process itself can see. */
  def regime(spark: SparkSession, out: Out): Unit =
    out("k" -> "regime", "spark" -> spark.version,
      "cores" -> spark.sparkContext.defaultParallelism,
      "jvm" -> System.getProperty("java.version"))
}

/** Run every query twice on one data set and write each query's
  * fingerprint and whether the two executions agreed. The second
  * execution is traced, so the run also gives the full suite's layer
  * table (`perfbench/report.py`).
  */
object Record {
  def run(s: Settings, out: Out): Unit = {
    val spark = Common.open(s.int("cores"))
    val dir = s("data")
    val trace = new Trace(spark)
    trace.attach()
    SparkEntry.defs.sortBy(_.name).zipWithIndex.foreach { case (d, op) =>
      val a = Common.runQuery(spark, d, dir, d.name + "#1")
      trace.begin()
      val b = Common.runQuery(spark, d, dir, d.name + "#2")
      Suite.spansOf(trace, op, d.name, b, trace.finish(), out)
      out("k" -> "record", "name" -> d.name,
        "rows" -> a.fp.map(_.rows), "hash" -> a.fp.map(_.hash),
        "stable" -> (a.fp.isDefined && a.fp == b.fp),
        "error" -> a.error.orElse(b.error),
        "s1" -> a.wall, "s2" -> b.wall)
    }
    trace.detach()
    trace.write(out)
    spark.stop()
  }
}
