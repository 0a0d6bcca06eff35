package graftbench

import graft.flight.FlightExtract

/** Checks of the harness itself that need the JVM: fingerprints repeat
  * over two executions, and the flight generator produces the shape it
  * declares. Each check writes one `selftest` record; `perfbench/tests`
  * asserts on them.
  */
object SelfTest {
  def run(s: Settings, out: Out): Unit = {
    def check(name: String, ok: Boolean, detail: String): Unit =
      out("k" -> "selftest", "name" -> name, "ok" -> ok, "detail" -> detail)

    // generator: declared counts, duplicate share, codes outside the
    // dimensions, and a quadtree that must split
    val flights = 20000
    val src = new DaySource(7L, flights, 2)
    val again = new DaySource(7L, flights, 2)
    for (h <- 0 until 2) {
      val recs = src.records(h)
      check(s"records_h$h", recs.length == flights + flights / 9,
        s"${recs.length} records for $flights flights")
      check(s"same_seed_same_hour_h$h", recs.sameElements(again.records(h)), "")
      val dupShare = 1.0 - recs.map(_.id).distinct.length.toDouble / recs.length
      check(s"duplicate_share_h$h", math.abs(dupShare - 0.1) < 0.001, f"$dupShare%.4f")
      src.setHour(h)
      val pages0 = src.pages
      val got = FlightExtract.allFlights(src)
      check(s"quadtree_returns_every_record_h$h",
        got.sortBy(_.id).sameElements(recs.sortBy(_.id)), s"${got.length} of ${recs.length}")
      check(s"quadtree_splits_h$h", src.pages - pages0 > src.zones.size * 4,
        s"${src.pages - pages0} pages")
      val e = DaySource.expected(src, h)
      val joinDrop = 1.0 - e.gold.toDouble / e.silver
      check(s"joins_drop_rows_h$h", joinDrop > 0.03 && joinDrop < 0.15, f"$joinDrop%.4f")
    }
    check("seed_changes_hours",
      !new DaySource(8L, flights, 1).records(0).sameElements(src.records(0)), "")

    // fingerprints repeat over two executions of the same queries
    val spark = Common.open(s.int("cores"))
    val defs = Common.defsByName
    s.list("queries").foreach { n =>
      val a = Common.runQuery(spark, defs(n), s("data"), s"$n#a")
      val b = Common.runQuery(spark, defs(n), s("data"), s"$n#b")
      check(s"fingerprint_repeats_$n", a.error.isEmpty && a.fp.isDefined && a.fp == b.fp,
        s"${a.fp} ${b.fp} ${a.error.orElse(b.error).getOrElse("")}")
    }
    spark.stop()
  }
}
