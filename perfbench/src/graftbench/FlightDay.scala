package graftbench

import java.time.{ZoneOffset, ZonedDateTime}

import scala.jdk.CollectionConverters._

import graft.flight.{Continents, FlightAnswers, FlightIo, FlightModel, FlightPipeline, FlightSource}
import graft.flight.FlightModel.{Airline, Airport, Flight, Zone}
import org.apache.spark.sql.SparkSession

/** Seeded stand-in for the flight API, in the shape of the reference's
  * paging source: two hemisphere root zones, pages truncated at the
  * caller's limit so the quadtree splitter must recurse.
  *
  * Each hour holds `flights` distinct flights, clustered around a few
  * hot spots so the quadtree splits unevenly, plus one exact duplicate
  * record for every nine flights (10% of the records) returned in the
  * same page as the original. About 3% of airport codes and 2% of
  * airline codes are outside the dimensions, so the gold joins drop
  * rows. The same seed gives the same hours.
  */
final class DaySource(seed: Long, flights: Int, hours: Int) extends FlightSource {
  import DaySource._

  override val zones: Seq[Zone] = Seq(Zone(90, -180, -90, 0), Zone(90, 0, -90, 180))

  override val airports: Seq[Airport] = (0 until AirportCount).map { i =>
    val r = new java.util.Random(seed * 31 + i)
    Airport(s"Airport ${code3(i)}", code3(i),
      Some((r.nextDouble() * 170 - 85).toFloat), Some((r.nextDouble() * 350 - 175).toFloat),
      Countries(i % Countries.size))
  }

  override val airlines: Seq[Airline] =
    (0 until AirlineCount).map(i => Airline(f"Airline $i%03d", f"IC$i%03d"))

  /** Records of each hour (duplicates included), sorted by longitude. */
  private val byHour: Array[Array[Flight]] = Array.tabulate(hours)(generate)
  private val lonIndex: Array[Array[Double]] =
    byHour.map(_.map(_.longitude.get.toDouble))

  @volatile private var hour = 0
  def setHour(h: Int): Unit = hour = h
  def records(h: Int): Array[Flight] = byHour(h)

  /** Calls, rows returned and nanoseconds spent in [[flightsInZone]]. */
  var pages = 0L
  var rows = 0L
  var nanos = 0L

  override def flightsInZone(zone: Zone, limit: Int): Seq[Flight] = {
    val t0 = System.nanoTime()
    val fs = byHour(hour)
    val xs = lonIndex(hour)
    val (x0, x1) = (math.min(zone.tlX, zone.brX), math.max(zone.tlX, zone.brX))
    val (y0, y1) = (math.min(zone.tlY, zone.brY), math.max(zone.tlY, zone.brY))
    val out = Vector.newBuilder[Flight]
    var n = 0
    var i = java.util.Arrays.binarySearch(xs, x0) match {
      case k if k >= 0 => firstAt(xs, k)
      case k => -k - 1
    }
    // x in [x0, x1), y in (y0, y1]: the four quadrants of a zone
    // partition it, so every record lands in exactly one leaf
    while (i < xs.length && xs(i) < x1 && n < limit) {
      val y = fs(i).latitude.get.toDouble
      if (y > y0 && y <= y1) { out += fs(i); n += 1 }
      i += 1
    }
    synchronized { pages += 1; rows += n; nanos += System.nanoTime() - t0 }
    out.result()
  }

  private def generate(h: Int): Array[Flight] = {
    val r = new java.util.Random(seed * 1000003L + h)
    val spots = Array.fill(HotSpots)((r.nextDouble() * 140 - 70, r.nextDouble() * 340 - 170))
    def clamp(v: Double, m: Double) = math.max(-m, math.min(m, v))
    def pick(pKnown: Double, count: Int, known: Int => String, unknown: Int => String) =
      if (r.nextDouble() < pKnown) {
        val u = r.nextDouble()
        known((u * u * count).toInt) // skewed: low indexes are busy
      } else unknown(r.nextInt(50))
    val base = new scala.collection.mutable.ArrayBuffer[Flight](flights + flights / 9 + 1)
    for (i <- 0 until flights) {
      val (lat, lon) =
        if (r.nextDouble() < 0.7) {
          val (cy, cx) = spots(r.nextInt(HotSpots))
          (clamp(cy + r.nextGaussian() * 3, 89.9), clamp(cx + r.nextGaussian() * 4, 179.9))
        } else (r.nextDouble() * 179.8 - 89.9, r.nextDouble() * 359.8 - 179.9)
      val f = Flight(
        id = "h" + h + "-" + i,
        aircraft_code = s"A${(r.nextDouble() * r.nextDouble() * 60).toInt}",
        time = Some(DayStart + h * 3600 + r.nextInt(3600)),
        latitude = Some(lat.toFloat),
        longitude = Some(lon.toFloat),
        origin_airport_iata = pick(0.97, AirportCount, code3, k => s"Z${code3(k).drop(1)}"),
        destination_airport_iata = pick(0.97, AirportCount, code3, k => s"Z${code3(k).drop(1)}"),
        number = s"N${r.nextInt(9999)}",
        on_ground = Some(r.nextInt(2)),
        airline_icao = pick(0.98, AirlineCount, k => f"IC$k%03d", k => f"XX$k%03d"))
      base += f
      if (i % 9 == 8) base += f
    }
    base.sortBy(_.longitude.get).toArray
  }
}

object DaySource {
  val AirportCount = 3000
  val AirlineCount = 400
  val HotSpots = 12
  /** 2026-08-15T00:00Z in unix seconds: hour 0 of the day. */
  val DayStart: Int = 1786752000
  val Countries: Vector[String] = Continents.table.keys.toVector.sorted

  def code3(i: Int): String = {
    val a = ('A' + i / 676 % 26).toChar
    val b = ('A' + i / 26 % 26).toChar
    val c = ('A' + i % 26).toChar
    s"$a$b$c"
  }

  private def firstAt(xs: Array[Double], k: Int): Int = {
    var i = k
    while (i > 0 && xs(i - 1) == xs(k)) i -= 1
    i
  }

  /** What one hour must produce, computed without Spark. */
  final case class Expected(raw: Long, silver: Long, gold: Long, topAirline: String, topCount: Long)

  def expected(src: DaySource, h: Int): Expected = {
    val recs = src.records(h)
    val distinct = recs.distinctBy(_.id)
    val iata = src.airports.map(_.iata).toSet
    val names = src.airlines.map(a => a.ICAO -> a.Name).toMap
    val gold = distinct.filter(f => iata(f.origin_airport_iata) &&
      iata(f.destination_airport_iata) && names.contains(f.airline_icao))
    val (top, n) = gold.groupBy(f => names(f.airline_icao)).view.mapValues(_.length.toLong)
      .toSeq.minBy { case (name, c) => (-c, name) }
    Expected(recs.length, distinct.length, gold.length, top, n)
  }
}

/** The flight-day workload: one client runs the hourly product path for
  * each hour of a day, as the scheduler and the CLI do: the pipeline
  * tick `FlightPipeline.run`, then `latestGold` and the six
  * `FlightAnswers`. A pass is one day in a fresh lake directory, so the
  * snapshot listing grows hour by hour within it, and every pass
  * repeats the same day, after a small warm-up hour. Row counts of each
  * layer and the Q1 answer are checked against [[DaySource.expected]]
  * after every hour, outside the timed calls.
  */
object FlightDay {
  val Day: ZonedDateTime = ZonedDateTime.of(2026, 8, 15, 0, 0, 0, 0, ZoneOffset.UTC)

  def run(s: Settings, out: Out): Unit = {
    val work = s("work")
    val hours = s.int("hours")
    val seed = s("seed").toLong
    var source: DaySource = null
    var expected: IndexedSeq[DaySource.Expected] = null
    val spark = Common.setUp(s.int("cores"), s.int("reps"), out) { _ =>
      source = new DaySource(seed, s.int("flights"), hours)
      expected = (0 until hours).map(DaySource.expected(source, _))
    }
    Common.regime(spark, out)

    val traced = s.flag("trace")
    val trace = if (traced) Some(new Trace(spark)) else None
    // warm the product path on a small hour in a scratch lake, not
    // measured, as the suite's warm round
    val warmLake = s"$work/warm"
    val warm = new FlightPipeline(spark, new DaySource(seed + 1, s.int("flights") / 20, 1), warmLake)
    warm.run(Day)
    answers(warm.latestGold().get)
    delete(spark, warmLake)
    val budgetNs = (s("seconds").toDouble * 1e9).toLong
    val start = System.nanoTime()
    val gc0 = Common.gcMs
    val jit0 = Common.jitMs
    Common.resetHeapPeak()
    var pass = 0
    var op = 0
    // at least four days (when traced, alternating untraced and traced
    // days): the metrics take each hour's fastest day
    while (pass < 4 || System.nanoTime() - start < budgetNs) {
      pass += 1
      val tracing = trace.filter(_ => pass % 2 == 0)
      trace.foreach(_.detach())
      tracing.foreach(_.attach())
      val lake = s"$work/day$pass"
      delete(spark, lake)
      val pipeline = new FlightPipeline(spark, source, lake)
      var dedupDropped = 0L
      var joinDropped = 0L
      val tp = System.nanoTime()
      for (h <- 0 until hours) {
        source.setHour(h)
        val now = Day.plusHours(h)
        val (pages0, rows0, nanos0) = (source.pages, source.rows, source.nanos)
        op += 1
        tracing.foreach(_.begin())
        val t0 = System.nanoTime()
        var goldPath: String = null
        var problem: Option[String] = None
        try goldPath = pipeline.run(now)
        catch { case e: Throwable => problem = Some(s"run: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val t1 = System.nanoTime()
        val tickEvents = tracing.map(_.finish())
        val sourceNs = source.nanos - nanos0
        tracing.foreach(t => tickSpans(t, op, t0, t1, tickEvents.get, sourceNs, out))

        op += 1
        tracing.foreach(_.begin())
        val a0 = System.nanoTime()
        var q1: org.apache.spark.sql.Row = null
        val marks = scala.collection.mutable.ArrayBuffer(a0)
        var aProblem: Option[String] = None
        try {
          val gold = pipeline.latestGold().getOrElse(sys.error("no gold snapshot"))
          marks += System.nanoTime()
          q1 = answers(gold, () => marks += System.nanoTime())
        } catch { case e: Throwable => aProblem = Some(s"answers: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val a1 = System.nanoTime()
        tracing.foreach { t =>
          t.finish()
          val ms = (ns: Long) => t.now() - (System.nanoTime() - ns) / 1e6
          val root = t.span("answers", ms(a0), ms(a1), -1, op)
          val names = "snapshot_lookup" +: (1 to 6).map(i => s"answer_q$i")
          marks.zip(marks.drop(1)).zip(names).foreach { case ((b, e), n) =>
            t.span(n, ms(b), ms(e), root, op)
          }
        }
        // correctness, outside the timed calls
        val exp = expected(h)
        if (problem.isEmpty) {
          val (bronze, silver, gold) = layerRows(spark, lake, now, goldPath)
          dedupDropped += bronze - silver
          joinDropped += silver - gold
          if ((bronze, silver, gold) != (exp.raw, exp.silver, exp.gold))
            problem = Some(s"rows bronze/silver/gold ${(bronze, silver, gold)}, " +
              s"expected ${(exp.raw, exp.silver, exp.gold)}")
        }
        if (aProblem.isEmpty && q1 != null &&
            (q1.getString(0) != exp.topAirline || q1.getLong(1) != exp.topCount))
          aProblem = Some(s"Q1 ${q1.getString(0)}=${q1.getLong(1)}, expected ${exp.topAirline}=${exp.topCount}")
        out("k" -> "op", "kind" -> "tick", "pass" -> pass, "op" -> (op - 1), "name" -> s"hour$h",
          "s" -> (t1 - t0) / 1e9, "ok" -> problem.isEmpty, "error" -> problem,
          "pages" -> (source.pages - pages0), "rows" -> (source.rows - rows0),
          "source_s" -> sourceNs / 1e9)
        out("k" -> "op", "kind" -> "answers", "pass" -> pass, "op" -> op, "name" -> s"hour$h",
          "s" -> (a1 - a0) / 1e9, "ok" -> aProblem.isEmpty, "error" -> aProblem)
      }
      val dayS = Common.secs(tp)
      val (bytes, files) = written(lake)
      out("k" -> "pass", "pass" -> pass, "traced" -> tracing.isDefined, "s" -> dayS,
        "written_bytes" -> bytes, "files_written" -> files,
        "dedup_dropped" -> dedupDropped, "join_dropped" -> joinDropped)
      delete(spark, lake)
    }
    out("k" -> "jvm", "gc_s" -> (Common.gcMs - gc0) / 1e3, "jit_s" -> (Common.jitMs - jit0) / 1e3,
      "heap_peak_mb" -> Common.heapPeakMb, "measured_s" -> Common.secs(start))
    trace.foreach { t =>
      t.detach()
      t.write(out)
    }
    spark.stop()
  }

  /** The six answers in CLI order; `mark` runs after each one. */
  def answers(gold: org.apache.spark.sql.DataFrame, mark: () => Unit = () => ()): org.apache.spark.sql.Row = {
    val q1 = FlightAnswers.airlineWithMostFlights(gold); mark()
    FlightAnswers.mostActiveAirlinePerContinent(gold); mark()
    FlightAnswers.flightWithLongestTrajectory(gold); mark()
    FlightAnswers.averageFlightLengthPerContinent(gold); mark()
    FlightAnswers.topThreeAircraftPerCountry(gold); mark()
    FlightAnswers.airportWithMostDiffInOutFlight(gold); mark()
    q1
  }

  /** Spans of one traced tick. The pipeline runs its layers in turn, so
    * each layer's span runs from the end of the one before it (driver
    * work building its frame) to the end of its own write, named by the
    * write's output path; `extract` runs from the tick's start to the
    * first write (quadtree paging plus building the bronze frame). Jobs
    * nest under the layer they ran in.
    */
  private def tickSpans(t: Trace, op: Int, t0: Long, t1: Long, e: Trace.OpEvents,
      sourceNs: Long, out: Out): Unit = {
    val ms = (ns: Long) => t.now() - (System.nanoTime() - ns) / 1e6
    val (s0, s1) = (ms(t0), ms(t1))
    val root = t.span("tick", s0, s1, -1, op)
    val paths = e.queries.map { case (id, _, path, _) => id -> path }.toMap
    val writes = e.sqlExec.toSeq.filter(!_._2._2.isNaN).sortBy(_._2._1)
      .map { case (id, iv) => (paths.getOrElse(id, ""), iv) }
    val firstStart = writes.headOption.map(_._2._1).getOrElse(s1)
    var prevEnd = math.max(s0, math.min(firstStart, s1))
    val layers = scala.collection.mutable.ArrayBuffer(
      (t.span("extract", s0, prevEnd, root, op), s0, prevEnd))
    writes.foreach { case (p, (st, en)) =>
      val layer = Seq("bronze", "silver", "gold", "airports", "airlines")
        .find(l => p.contains(s"/$l")).map(l => if (l.startsWith("air")) "dims" else l)
        .getOrElse("other")
      val end = math.min(en, s1)
      // an unattributed execution keeps only its own interval
      val begin = if (layer == "other") st else math.min(prevEnd, st)
      layers += ((t.span(layer, begin, end, root, op), begin, end))
      if (layer != "other") prevEnd = math.max(prevEnd, end)
    }
    e.jobs.foreach { case (st, en) =>
      val parent = layers.findLast { case (_, b, x) => st >= b && st < x }.map(_._1).getOrElse(root)
      t.span("job", st, en, parent, op)
    }
    out("k" -> "opstats", "op" -> op, "name" -> "tick", "wall_ms" -> (s1 - s0),
      "build_jobs" -> 0, "jobs" -> e.jobs.size, "stages" -> e.stages, "tasks" -> e.tasks,
      "task_ms" -> e.taskMs, "task_cpu_ms" -> e.taskCpuNs / 1e6,
      "busy_ms" -> Trace.coveredWithin(e.taskIntervals.toSeq, s0, s1),
      "shuffle_write_bytes" -> e.shuffleWriteBytes, "spill_bytes" -> e.spillBytes,
      "input_bytes" -> e.inputBytes, "cache_bytes" -> e.cacheBytes,
      "scan_nodes" -> e.queries.map(_._4).sum, "source_ms" -> sourceNs / 1e6)
  }

  /** Row counts of the hour's bronze, silver and gold snapshots. */
  private def layerRows(spark: SparkSession, lake: String, now: ZonedDateTime,
      goldPath: String): (Long, Long, Long) = (
    spark.read.schema(FlightModel.flightSilverSchema)
      .csv(FlightIo.timestampedPath(s"$lake/bronze", now)).count(),
    spark.read.parquet(FlightIo.timestampedPath(s"$lake/silver", now)).count(),
    spark.read.parquet(goldPath).count())

  private def delete(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  /** Bytes and data files (no markers or checksums) under `dir`. */
  private def written(dir: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val data = files.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toSeq
      (data.map(java.nio.file.Files.size).sum, data.size.toLong)
    } finally files.close()
  }
}
