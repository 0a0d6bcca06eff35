package graft.tools

import graft.GraftSession
import graft.flight._
import graft.flight.FlightModel.{Airline, Airport, Flight, Zone}
import org.apache.spark.sql.functions._

import java.time.{ZoneOffset, ZonedDateTime}

/** The flight ETL above golden-fixture scale (r10 verdict item 3):
  * the reference pipeline's full path — fake quadtree source →
  * bronze CSV → silver dedup → gold triple-broadcast enrichment +
  * haversine (`FlightEtl.scala` vs
  * `/root/reference/src/transform.py:197-264`) — driven at a
  * few-million synthetic flights, with the gold plan SHAPE asserted
  * (exactly three BroadcastHashJoins, no sort-merge/nested-loop
  * fallback, no non-codegen islands) and the gold stage's file scans
  * ledger-counted. Emits one JSON line (the committed FLIGHTBENCH
  * artifact) with per-stage walls, row counts, plan booleans, and the
  * ledger.
  *
  * The source is a deterministic fake of the reference's paging API:
  * zones whose area exceeds a leaf threshold return exactly `limit`
  * rows (the truncation sentinel), forcing the quadtree splitter to
  * recurse — the same split-on-truncation capability E1–E3's specs
  * pin at fixture scale, here exercised ~680 internal nodes deep ×
  * 2048 leaves. Extraction is driver-side Seq[Flight] BY DESIGN: the
  * reference's extraction is a remote paging API (inherently a
  * driver/client activity); the engine-side scale story starts at
  * bronze, which is what this bench measures.
  *
  * Usage: runMain graft.tools.FlightScaleBench [leafRows=1465] [out.json]
  */
object FlightScaleBench {

  /** Deterministic synthetic source. World = 2 root zones; zones
    * wider than `leafWidthDeg` return `limit` rows (forcing a split),
    * leaves return `leafRows` flights derived arithmetically from the
    * zone center. Ids collide at ~10% (dedup work for silver);
    * iata/icao codes land inside the dims so the inner joins retain
    * most rows.
    */
  final class SyntheticSource(leafRows: Int) extends FlightSource {
    val leafWidthDeg = 180.0 / 32 // depth-5 leaves from 180-wide roots: 2048 of them

    override def zones: Seq[Zone] =
      Seq(Zone(90, -180, -90, 0), Zone(90, 0, -90, 180))

    private def code3(i: Int): String = {
      val a = ('A' + i / 676 % 26).toChar
      val b = ('A' + i / 26 % 26).toChar
      val c = ('A' + i % 26).toChar
      s"$a$b$c"
    }

    val countries: Vector[String] = Vector(
      "France", "Germany", "China", "Brazil", "Australia", "Canada",
      "Egypt", "Atlantis", "Chile", "Finland") // one Unknown on purpose

    override def airports: Seq[Airport] = (0 until 3000).map { i =>
      Airport(s"Airport ${code3(i)}", code3(i),
        Some((i % 171 - 85).toFloat + 0.5f),
        Some((i % 359 - 179).toFloat + 0.25f),
        countries(i % countries.size))
    }

    override def airlines: Seq[Airline] =
      (0 until 500).map(i => Airline(s"Airline $i", f"IC${i}%03d"))

    override def flightsInZone(zone: Zone, limit: Int): Seq[Flight] = {
      val width = zone.tlX.max(zone.brX) - zone.tlX.min(zone.brX)
      if (width > leafWidthDeg + 1e-9)
        // truncated page: the splitter must subdivide
        Vector.tabulate(limit)(i => mkFlight(zone, i))
      else Vector.tabulate(leafRows)(i => mkFlight(zone, i))
    }

    private def mkFlight(zone: Zone, i: Int): Flight = {
      val cy = (zone.tlY + zone.brY) / 2
      val cx = (zone.tlX + zone.brX) / 2
      // stable per-zone seed from the center; exactly 10% duplicate
      // ids (every 10th row repeats its predecessor's id) — the
      // silver dedup workload
      val seed = ((cy + 90) * 720).toLong * 100000 + ((cx + 180) * 2).toLong
      val uid = seed * 2048 + i
      val idIdx = if (i % 10 == 9) i - 1 else i
      Flight(
        id = s"f${seed}_$idIdx",
        aircraft_code = s"A${(uid % 37).toInt}",
        time = Some((1700000000L + uid % 86400).toInt),
        latitude = Some((cy + (i % 100) / 1000.0).toFloat),
        longitude = Some((cx + (i % 100) / 1000.0).toFloat),
        origin_airport_iata = code3((uid % 3000).toInt),
        destination_airport_iata = code3(((uid / 7) % 3000).toInt),
        number = s"N${uid % 9999}",
        on_ground = Some((uid % 2).toInt),
        airline_icao = f"IC${(uid % 500).toInt}%03d")
    }
  }

  def main(args: Array[String]): Unit = {
    val leafRows = args.headOption.map(_.toInt).getOrElse(1465)
    // uid = seed*2048 + i: the per-zone uid stride is 2048 wide, so a
    // leafRows ≥ 2048 would fold one zone's uid tail onto the next
    // zone's head — silently changing the derived-column workload
    // (duplicate times/codes beyond the designed 10% id-dup rate)
    require(leafRows < 2048,
      s"leafRows=$leafRows >= the 2048 per-zone uid stride; widen the stride first")
    val outPath = args.drop(1).headOption.getOrElse("FLIGHTBENCH_r11.json")
    val spark = GraftSession.local(appName = "flight-scale-bench")
    import spark.implicits._
    val base = "/tmp/flight_scale"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    val now = ZonedDateTime.of(2026, 8, 15, 12, 0, 0, 0, ZoneOffset.UTC)
    val source = new SyntheticSource(leafRows)
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // --- extract: EXECUTOR-SIDE quadtree paging (the scale path —
    // pages never transit the driver; ProbeBronze (a probe main last
    // present at commit 9aaeeb6) pinned the r11
    // 18 s bronze floor to driver-resident row shipping, not the
    // write). extract_sec = the level-synchronous fetch sweep that
    // caches every page cluster-side; nRaw from the cached frames.
    var t0 = System.nanoTime()
    val raw = FlightExtract.allFlightsDistributed(spark, source, limit = 1500)
    val tExtract = secs(t0)

    // --- bronze: cached executor-side rows -> declared schema -> CSV
    // (nRaw rides the write via observe — no separate counting pass)
    t0 = System.nanoTime()
    val rawObs = org.apache.spark.sql.Observation()
    val bronze = raw.toDF().to(FlightModel.flightSilverSchema)
      .observe(rawObs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val bronzePath = FlightIo.writeBronzeCsv(bronze, s"$base/bronze", now)
    val nRaw = rawObs.get("n").asInstanceOf[Long]
    val tBronze = secs(t0)

    graft.CacheScope.drain() // free the extract's page cache

    // --- silver: re-read bronze (schema-on-read, no infer), dedup ---
    t0 = System.nanoTime()
    val bronzeBack = spark.read.schema(FlightModel.flightSilverSchema).csv(bronzePath)
    val silverPath = FlightIo.writeParquetSnapshot(
      FlightEtl.silver(bronzeBack), s"$base/silver", now)
    val tSilver = secs(t0)

    // --- gold: triple-broadcast enrichment + haversine, ledgered ----
    val pipeline = new FlightPipeline(spark, source, base)
    val airports = pipeline.airportsDf
    val airlines = pipeline.airlinesDf
    assert(airports.schema == FlightModel.airportSchema,
      "airports dim must be schema-on-read (declared schema, no infer)")
    val silver = spark.read.parquet(silverPath)
    t0 = System.nanoTime()
    FlightIo.writeParquetSnapshot(
      FlightEtl.gold(silver, airports, airlines), s"$base/gold", now)
    val tGold = secs(t0)

    // --- plan gate + scan census on the gold plan at THIS scale ------
    val goldExec = FlightEtl.gold(silver, airports, airlines)
      .queryExecution.executedPlan
    val goldPlan = goldExec.toString
    val nBroadcast = goldPlan.linesIterator.count(_.contains("BroadcastHashJoin"))
    val noSmj = !goldPlan.contains("SortMergeJoin")
    val noNlj = !goldPlan.contains("NestedLoop") && !goldPlan.contains("CartesianProduct")
    val noPython = !goldPlan.contains("BatchEvalPython")
    // structural scan census by medallion layer (the gold write is one
    // action, so the plan census IS the action's scan ledger): the
    // fact must be scanned once, airports once per role-play, airlines
    // once — nothing else
    val scanPaths = scala.collection.mutable.Buffer[String]()
    def walkScans(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
      n match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          scanPaths ++= f.relation.location.rootPaths.map(_.toString)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walkScans(a.inputPlan)
        case _ => ()
      }
      n.children.foreach(walkScans)
      n.subqueries.foreach(walkScans)
    }
    walkScans(goldExec)
    val ledger = scanPaths
      .groupBy(p => Seq("airports", "airlines", "silver", "bronze")
        .find(p.contains).getOrElse("other"))
      .view.mapValues(_.size).toMap
    assert(ledger.getOrElse("silver", 0) == 1,
      s"gold must scan the silver fact exactly once, ledger=$ledger")
    assert(ledger.getOrElse("airports", 0) == 2 &&
      ledger.getOrElse("airlines", 0) == 1 &&
      ledger.getOrElse("bronze", 0) == 0 && ledger.getOrElse("other", 0) == 0,
      s"gold dim scans out of budget: $ledger")

    // --- counts + newest-snapshot read-back --------------------------
    val nSilver = spark.read.parquet(silverPath).count()
    val gold = FlightIo.newestSnapshotDir(spark, s"$base/gold")
      .map(spark.read.parquet(_)).get
    val nGold = gold.count()
    val distanceOk = gold.agg(
      sum(when(col("distance").isNull || col("distance") < 0, 1).otherwise(0)))
      .head().getLong(0) == 0L

    assert(nBroadcast == 3, s"gold plan must broadcast all 3 dims, saw $nBroadcast")
    assert(noSmj && noNlj && noPython, "gold plan fell off the broadcast path")
    assert(nSilver < nRaw, "silver dedup must drop duplicate ids")
    assert(nGold > 0 && distanceOk)

    val ledgerJson = ledger.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"flight_etl","rows_raw":$nRaw,"rows_silver":$nSilver,""" +
        s""""rows_gold":$nGold,"extract_sec":${f"$tExtract%.1f"},""" +
        s""""bronze_sec":${f"$tBronze%.1f"},"silver_sec":${f"$tSilver%.1f"},""" +
        s""""gold_sec":${f"$tGold%.1f"},"broadcast_joins":$nBroadcast,""" +
        s""""no_smj":$noSmj,"no_nlj":$noNlj,"no_python":$noPython,""" +
        s""""gold_ledger":$ledgerJson,"leaf_rows":$leafRows}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
