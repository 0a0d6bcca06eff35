package graft.operators

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DistributedRankSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Integer division, SQL's `div`. */
  private def div(n: Column, d: Long): Column = call_function("div", n, lit(d))

  /** The median-straddling ranks ⌊h⌋+1 and ⌈h⌉+1, h = (n−1)/2. */
  private def medianRanks(n: Column): Seq[Column] = {
    val h = (n - 1).cast("double") * lit(0.5)
    Seq(floor(h) + 1, ceil(h) + 1)
  }

  test("rowNumber equals the plain window rank exactly (total order)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val plain = li.withColumn("rn", row_number().over(w).cast("long"))
    val dist = DistributedRank.rowNumber(li,
      Seq("l_returnflag"),
      Seq("l_extendedprice", "l_orderkey", "l_linenumber"), "rn",
      numPartitions = 7) // deliberately odd so groups straddle partitions
    assert(dist.count() == li.count())
    assert(plain.exceptAll(dist).count() == 0 && dist.exceptAll(plain).count() == 0)
  }

  test("rowNumber == plain window on random data incl. empty groups, skew, and no groupCols") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      // skewed: 80% of rows in one group; values with deliberate ties
      val rows = Seq.tabulate(500 + rng.nextInt(500)) { i =>
        val g = if (rng.nextInt(5) > 0) "hot" else s"g${rng.nextInt(4)}"
        (g, rng.nextInt(20).toLong, i.toLong) // (group, value-with-ties, unique id)
      }
      val df = rows.toDF("g", "v", "id")
      val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
      val plain = df.withColumn("rn", row_number().over(w).cast("long"))
      val dist = DistributedRank.rowNumber(df, Seq("g"), Seq("v", "id"), "rn",
        numPartitions = 3 + trial)
      assert(plain.exceptAll(dist).count() == 0 && dist.exceptAll(plain).count() == 0,
        s"trial $trial mismatch")
      // groupless global rank
      val plainG = df.withColumn("rn",
        row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      val distG = DistributedRank.rowNumber(df, Seq.empty, Seq("v", "id"), "rn",
        numPartitions = 5)
      assert(plainG.exceptAll(distG).count() == 0 && distG.exceptAll(plainG).count() == 0,
        s"trial $trial groupless mismatch")
    }
  }

  test("rowNumberAdaptive is identical either side of the threshold") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val rows = Seq.tabulate(700) { i =>
      val g = if (rng.nextInt(4) > 0) "hot" else s"g${rng.nextInt(3)}"
      (g, rng.nextInt(15).toLong, i.toLong)
    }
    val df = rows.toDF("g", "v", "id")
    for (groups <- Seq(Seq("g"), Seq.empty[String])) {
      // the two tiers called directly; a test-sized frame is under the
      // stats gate, so the adaptive entry must pick the window tier
      val viaWindow = DistributedRank.rowNumberWindow(df, groups, Seq("v", "id"), "rn")
      val viaKernel = DistributedRank.rowNumber(df, groups, Seq("v", "id"), "rn")
      val viaGate = DistributedRank.rowNumberAdaptive(df, groups, Seq("v", "id"), "rn")
      assert(viaWindow.schema == viaKernel.schema,
        s"schema drift across the threshold for groups=$groups")
      assert(viaWindow.exceptAll(viaKernel).count() == 0 &&
        viaKernel.exceptAll(viaWindow).count() == 0,
        s"rank drift across the threshold for groups=$groups")
      assert(!viaGate.queryExecution.analyzed.toString.contains("__pid"),
        s"the gate did not pick the window tier for groups=$groups")
      graft.CacheScope.drain()
    }
  }

  test("valuesAtRanks returns exactly the window-ranked rows at each target") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val rows = Seq.tabulate(400 + rng.nextInt(400)) { i =>
        val g = if (rng.nextInt(5) > 0) "hot" else s"g${rng.nextInt(4)}"
        (g, rng.nextInt(20).toLong, i.toLong)
      }
      val df = rows.toDF("g", "v", "id")
      // median-straddling ranks, plus an out-of-range probe that must drop
      def ranks(n: Long): Seq[Long] = {
        val h = (n - 1) * 0.5
        Seq(math.floor(h).toLong + 1, math.ceil(h).toLong + 1, 1L, n, n + 7)
      }
      val got = DistributedRank.valuesAtRanksWindow(df, Seq("g"), Seq("v", "id"),
        n => array(medianRanks(n) ++ Seq(lit(1L), n, n + 7): _*), "rn", outTotal = "n")
      val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
      val nPer = df.groupBy(col("g")).agg(count(lit(1)).as("n"))
      val expect = df
        .withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(nPer), "g")
        .as[(String, Long, Long, Long, Long)]
        .collect()
        .filter { case (_, _, _, rn, n) => ranks(n).filter(k => k >= 1 && k <= n).contains(rn) }
        .toSet
      val gotSet = got.select(col("g"), col("v"), col("id"), col("rn"), col("n"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(gotSet == expect, s"trial $trial valuesAtRanks mismatch")
      // exactly one row per surviving (group, target) — no dupes
      assert(got.count() == gotSet.size)
      graft.CacheScope.drain()
    }
  }

  test("runningSum equals the plain cumulative window, long and decimal, with nulls") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = Seq.tabulate(700) { i =>
      val g = if (rng.nextInt(4) > 0) "hot" else s"g${rng.nextInt(3)}"
      val v: java.lang.Long = if (rng.nextInt(10) == 0) null else rng.nextInt(100).toLong
      (g, rng.nextInt(30).toLong, i.toLong, v)
    }
    val df = rows.toDF("g", "ord", "id", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plain = df.withColumn("cum", sum(col("v")).over(w))
    val dist = DistributedRank.runningSum(df, Seq("g"), Seq("ord", "id"), "v", "cum",
      numPartitions = 5)
    assert(plain.exceptAll(dist).count() == 0 && dist.exceptAll(plain).count() == 0)
    // decimal path (exact sums survive the driver prefix), groupless
    val ddf = df.withColumn("v", col("v").cast("decimal(12,2)"))
    val wg = Window.orderBy(col("ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plainD = ddf.withColumn("cum", sum(col("v")).over(wg))
    val distD = DistributedRank.runningSum(ddf, Nil, Seq("ord", "id"), "v", "cum",
      numPartitions = 4)
    assert(plainD.exceptAll(distD).count() == 0 && distD.exceptAll(plainD).count() == 0)
    // double value columns are refused, not silently nondeterministic
    intercept[IllegalArgumentException] {
      DistributedRank.runningSum(df.withColumn("v", col("v").cast("double")),
        Seq("g"), Seq("ord", "id"), "v")
    }
    // outTotal carries the group's full sum on every row
    val withTot = DistributedRank.runningSum(df, Seq("g"), Seq("ord", "id"), "v", "cum",
      numPartitions = 5, outTotal = "tot")
    val expTot = df.groupBy(col("g")).agg(sum(col("v")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotTot = withTot.select(col("g"), col("tot")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotTot == expTot)
  }

  test("runningSumAdaptive is identical either side of the dispatch, all output columns") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = Seq.tabulate(600) { i =>
      val g = if (rng.nextInt(4) > 0) "hot" else s"g${rng.nextInt(3)}"
      val v: java.lang.Long = if (rng.nextInt(10) == 0) null else rng.nextInt(100).toLong
      (g, rng.nextInt(30).toLong, i.toLong, v)
    }
    for (dec <- Seq(false, true); groups <- Seq(Seq("g"), Seq.empty[String])) {
      val base = rows.toDF("g", "ord", "id", "v")
      val df = if (dec) base.withColumn("v", col("v").cast("decimal(12,2)")) else base
      // the two tiers of runningSumAdaptive, called directly
      val viaWindow = DistributedRank.runningSumWindow(
        df, groups, Seq("ord", "id"), "v", "cum",
        outTotal = "tot", outRank = "rk")
      val viaKernel = DistributedRank.runningSum(
        df, groups, Seq("ord", "id"), "v", "cum",
        outTotal = "tot", outRank = "rk")
      assert(viaWindow.schema.map(f => (f.name, f.dataType)) ==
        viaKernel.schema.map(f => (f.name, f.dataType)),
        s"type drift across the dispatch for dec=$dec groups=$groups: " +
          s"${viaWindow.schema} vs ${viaKernel.schema}")
      assert(viaWindow.exceptAll(viaKernel).count() == 0 &&
        viaKernel.exceptAll(viaWindow).count() == 0,
        s"value drift across the dispatch for dec=$dec groups=$groups")
      graft.CacheScope.drain()
    }
    // all-null group: outTotal is 0 (not null) on both sides
    val nulls = Seq(("a", 1L, 1L, null: java.lang.Long),
      ("a", 2L, 2L, null: java.lang.Long)).toDF("g", "ord", "id", "v")
    for ((name, tier) <- Seq(
        "window" -> DistributedRank.runningSumWindow(
          nulls, Seq("g"), Seq("ord", "id"), "v", "cum", outTotal = "tot"),
        "distributed" -> DistributedRank.runningSum(
          nulls, Seq("g"), Seq("ord", "id"), "v", "cum", outTotal = "tot"))) {
      val r = tier.select(col("cum"), col("tot")).collect()
      assert(r.forall(x => x.isNullAt(0) && x.getLong(1) == 0L),
        s"all-null semantics drift on the $name tier: ${r.mkString}")
    }
    graft.CacheScope.drain()
  }

  test("runningSum outRank equals the plain window row_number") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = Seq.tabulate(600) { i =>
      val g = if (rng.nextInt(4) > 0) "hot" else s"g${rng.nextInt(3)}"
      val v: java.lang.Long = if (rng.nextInt(10) == 0) null else rng.nextInt(100).toLong
      (g, rng.nextInt(30).toLong, i.toLong, v)
    }
    val df = rows.toDF("g", "ord", "id", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("ord"), col("id"))
    val plain = df
      .withColumn("cum", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", row_number().over(w).cast("long"))
    val dist = DistributedRank.runningSum(df, Seq("g"), Seq("ord", "id"), "v", "cum",
      numPartitions = 5, outRank = "rk")
    assert(plain.exceptAll(dist).count() == 0 && dist.exceptAll(plain).count() == 0)
  }

  test("runningMax equals the plain cumulative-max window, doubles and nulls, grouped and groupless") {
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val rows = Seq.tabulate(600) { i =>
      val g = if (rng.nextInt(4) > 0) "hot" else s"g${rng.nextInt(3)}"
      val v: java.lang.Double =
        if (rng.nextInt(10) == 0) null else rng.nextDouble() * 100
      (g, rng.nextInt(30).toLong, i.toLong, v)
    }
    val df = rows.toDF("g", "ord", "id", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plain = df.withColumn("m", max(col("v")).over(w))
    val dist = DistributedRank.runningMax(df, Seq("g"), Seq("ord", "id"), "v", "m",
      numPartitions = 5)
    assert(plain.exceptAll(dist).count() == 0 && dist.exceptAll(plain).count() == 0)
    val wg = Window.orderBy(col("ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plainG = df.withColumn("m", max(col("v")).over(wg))
    val distG = DistributedRank.runningMax(df, Nil, Seq("ord", "id"), "v", "m",
      numPartitions = 4)
    assert(plainG.exceptAll(distG).count() == 0 && distG.exceptAll(plainG).count() == 0)
    // exclusive form: 1-PRECEDING frame, null on each group's first row
    val wx = Window.partitionBy(col("g")).orderBy(col("ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val plainX = df.withColumn("m", max(col("v")).over(wx))
    val distX = DistributedRank.runningMax(df, Seq("g"), Seq("ord", "id"), "v", "m",
      numPartitions = 5, exclusive = true)
    assert(plainX.exceptAll(distX).count() == 0 && distX.exceptAll(plainX).count() == 0)
  }

  test("NULL group keys form their own group, matching PARTITION BY (no dropped rows)") {
    import spark.implicits._
    val rows = Seq.tabulate(300) { i =>
      val g: java.lang.Long = if (i % 4 == 0) null else (i % 3).toLong
      (g, (i % 17).toLong, i.toLong)
    }
    val df = rows.toDF("g", "v", "id")
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    // rowNumber
    val plainRn = df.withColumn("rn", row_number().over(w).cast("long"))
    val distRn = DistributedRank.rowNumber(df, Seq("g"), Seq("v", "id"), "rn",
      numPartitions = 5)
    assert(distRn.count() == 300) // no NULL-keyed rows dropped
    assert(plainRn.exceptAll(distRn).count() == 0 && distRn.exceptAll(plainRn).count() == 0)
    // runningSum
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plainCum = df.withColumn("c", sum(col("v")).over(wr))
    val distCum = DistributedRank.runningSum(df, Seq("g"), Seq("v", "id"), "v", "c",
      numPartitions = 5)
    assert(plainCum.exceptAll(distCum).count() == 0 && distCum.exceptAll(plainCum).count() == 0)
    // runningMax
    val plainMax = df.withColumn("m", max(col("v")).over(wr))
    val distMax = DistributedRank.runningMax(df, Seq("g"), Seq("v", "id"), "v", "m",
      numPartitions = 5)
    assert(plainMax.exceptAll(distMax).count() == 0 && distMax.exceptAll(plainMax).count() == 0)
    // valuesAtRanksWindow: the NULL group's median row must surface too
    val gotMed = DistributedRank.valuesAtRanksWindow(df, Seq("g"), Seq("v", "id"),
      n => array(div(n + 1, 2)), "rn")
    // expected via window count, NOT an equi-join on g (which would
    // itself drop the NULL group — the very bug under test)
    val expMed = plainRn
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("rn") === ((col("n") + 1) / 2).cast("long"))
      .drop("n")
    assert(gotMed.count() == 4) // 3 non-null groups + the NULL group
    assert(expMed.exceptAll(gotMed).count() == 0 && gotMed.exceptAll(expMed).count() == 0)
    graft.CacheScope.drain()
  }

  test("kept tiers match plain windows with AQE and codegen off") {
    // a session clone carries AQE off and whole-stage codegen off, so
    // every kernel plans and runs under them; the reference windows
    // run there too
    val s2 = SparkBridge.cloneSession(spark)
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    import s2.implicits._
    val rng = new scala.util.Random(47)
    // few groups (one hot, a NULL group, ties, null values) and 2,000
    // groups of 1–7 rows each
    val few = Seq.tabulate(600) { i =>
      val g: java.lang.Long =
        if (i % 13 == 0) null else if (rng.nextInt(4) > 0) 0L else rng.nextInt(3).toLong + 1
      val v: java.lang.Long = if (rng.nextInt(10) == 0) null else rng.nextInt(25).toLong
      (g, v, i.toLong)
    }.toDF("g", "v", "id")
    val many = Seq.tabulate(8000) { i =>
      (java.lang.Long.valueOf(i % 2000L), java.lang.Long.valueOf(i % 7L), i.toLong)
    }.toDF("g", "v", "id")
    def same(what: String, got: DataFrame, want: DataFrame): Unit =
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, what)
    for ((input, label) <- Seq(few -> "few groups", many -> "2,000 groups")) {
      val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rn = input.withColumn("rn", row_number().over(w).cast("long"))
      same(s"rowNumber, $label", DistributedRank.rowNumber(
        input, Seq("g"), Seq("v", "id"), "rn", numPartitions = 5), rn)
      same(s"rowNumberWindow, $label", DistributedRank.rowNumberWindow(
        input, Seq("g"), Seq("v", "id"), "rn"), rn)
      val cum = input
        .withColumn("c", sum(col("v")).over(wRun))
        .withColumn("t", coalesce(sum(col("v")).over(Window.partitionBy(col("g"))), lit(0L)))
        .withColumn("k", row_number().over(w).cast("long"))
      same(s"runningSum, $label", DistributedRank.runningSum(input, Seq("g"),
        Seq("v", "id"), "v", "c", numPartitions = 5, outTotal = "t", outRank = "k"), cum)
      same(s"runningSumWindow, $label", DistributedRank.runningSumWindow(input,
        Seq("g"), Seq("v", "id"), "v", "c", outTotal = "t", outRank = "k"), cum)
      same(s"runningMax, $label", DistributedRank.runningMax(input, Seq("g"),
        Seq("v", "id"), "v", "m", numPartitions = 5),
        input.withColumn("m", max(col("v")).over(wRun)))
      // rank selection: the values at ranks 1, ⌊(n+1)/2⌋ and n
      def ranks(n: Column): Column = array(lit(1L), div(n + 1, 2), n)
      val want = rn.withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
        .filter(col("rn") === 1 || col("rn") === col("n") ||
          col("rn") === expr("(n + 1) div 2"))
        .select(col("g"), col("v"), col("rn"), col("n"))
      same(s"valuesAtRanksWindow, $label", DistributedRank.valuesAtRanksWindow(input,
        Seq("g"), Seq("v", "id"), ranks, "rn", outTotal = "n")
        .select(col("g"), col("v"), col("rn"), col("n")), want)
      same(s"valuesAtRanksByValue, $label", DistributedRank.valuesAtRanksByValue(input,
        Seq("g"), "v", ranks, "rn", outTotal = "n"), want)
      val counts = graft.CacheScope.scoped(
        input.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
      same(s"valuesAtRanksFromCounts, $label", DistributedRank.valuesAtRanksFromCounts(
        counts, Seq("g"), "v", "c", ranks, "rn", outTotal = "n"), want)
      // medianMad: the row-level two-pass cascade over plain windows
      val dbl = input.withColumn("v", col("v").cast("double"))
      def medianOf(rows: DataFrame, v: String, out: String): DataFrame = {
        val h = (col("n") - 1).cast("double") * lit(0.5)
        val lo = min(when(col("rn") === floor(h) + 1, col(v)))
        val hi = min(when(col("rn") === ceil(h) + 1, col(v)))
        rows
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("g")).orderBy(col(v), col("id"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
          .groupBy(col("g")).agg((lo + (max(h) - floor(max(h))) * (hi - lo)).as(out))
      }
      def onGroup(left: DataFrame, right: DataFrame): DataFrame = {
        val r = right.withColumnRenamed("g", "rg")
        left.join(broadcast(r), col("g") <=> col("rg")).drop("rg")
      }
      val med = medianOf(dbl, "v", "med")
      val devs = onGroup(dbl, med).withColumn("dev", abs(col("v") - col("med")))
      same(s"medianMad, $label",
        DistributedRank.medianMad(dbl.select(col("g"), col("v")), "g", "v"),
        onGroup(med, medianOf(devs, "dev", "mad")))
      graft.CacheScope.drain()
    }
  }

  test("window tier agrees with sort-selection and by-value on ties, nulls, and null groups") {
    import spark.implicits._
    val rng = new scala.util.Random(43)
    for (trial <- 1 to 3) {
      // same adversarial shape as the by-value test: heavy ties, a
      // null-valued block, and a NULL group key — the window tier
      // must produce the identical (g, v, rn, n) rows as both kernels
      val rows = Seq.tabulate(400 + rng.nextInt(300)) { i =>
        val g: java.lang.Long =
          if (i % 11 == 0) null else if (rng.nextInt(5) > 0) 0L else rng.nextInt(3).toLong + 1
        val v: java.lang.Long = if (rng.nextInt(9) == 0) null else rng.nextInt(12).toLong
        (g, v, i.toLong)
      }
      val df = rows.toDF("g", "v", "id")
      def ranks(n: Column): Column = array(lit(1L) +: medianRanks(n) :+ n :+ (n + 5): _*)
      // a test-sized frame is under the stats gate → window tier; the
      // by-value tier is the one above it
      val byWindow = DistributedRank.valuesAtRanksAdaptive(df, Seq("g"), "v", Seq("id"),
        ranks, "rn", outTotal = "n")
      val byValue = DistributedRank.valuesAtRanksByValue(df, Seq("g"), "v",
        ranks, "rn", outTotal = "n")
      assert(byWindow.schema.map(f => (f.name, f.dataType)) ==
        byValue.schema.map(f => (f.name, f.dataType)),
        s"trial $trial schema drift window vs by-value")
      assert(byWindow.exceptAll(byValue).count() == 0 &&
        byValue.exceptAll(byWindow).count() == 0,
        s"trial $trial row drift window vs by-value")
      graft.CacheScope.drain()
    }
  }

  test("valuesAtRanksByValue selects the same values as sort-selection on ties, nulls, and null groups") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      // heavy ties (value domain ~12 distinct), a null-valued block,
      // and a NULL group key — every edge both paths must agree on
      val rows = Seq.tabulate(500 + rng.nextInt(300)) { i =>
        val g: java.lang.Long =
          if (i % 11 == 0) null else if (rng.nextInt(5) > 0) 0L else rng.nextInt(3).toLong + 1
        val v: java.lang.Long = if (rng.nextInt(9) == 0) null else rng.nextInt(12).toLong
        (g, v, i.toLong)
      }
      val df = rows.toDF("g", "v", "id")
      def ranks(n: Column): Column = array(lit(1L) +: medianRanks(n) :+ n :+ (n + 5): _*)
      val byWindow = DistributedRank.valuesAtRanksWindow(df, Seq("g"), Seq("v", "id"),
          ranks, "rn", outTotal = "n")
        .select(col("g"), col("v"), col("rn"), col("n"))
      val byValue = DistributedRank.valuesAtRanksByValue(df, Seq("g"), "v",
        ranks, "rn", outTotal = "n")
      assert(byWindow.exceptAll(byValue).count() == 0 &&
        byValue.exceptAll(byWindow).count() == 0, s"trial $trial grouped mismatch")
      // exactly one row per surviving (group, target)
      assert(byValue.count() == byWindow.count(), s"trial $trial cardinality")
      // groupless
      val byWindowG = DistributedRank.valuesAtRanksWindow(df, Nil, Seq("v", "id"),
          ranks, "rn", outTotal = "n")
        .select(col("v"), col("rn"), col("n"))
      val byValueG = DistributedRank.valuesAtRanksByValue(df, Nil, "v",
        ranks, "rn", outTotal = "n")
      assert(byWindowG.exceptAll(byValueG).count() == 0 &&
        byValueG.exceptAll(byWindowG).count() == 0, s"trial $trial groupless mismatch")
    }
    graft.CacheScope.drain()
  }

  test("valuesAtRanksAdaptive picks identical values either side of the threshold") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i % 5, i % 23, i)).toDF("g", "v", "id")
    def ranks(n: Column): Column = array(lit(1L), div(n + 1, 2), n)
    // the window tier (a test-sized frame is under the stats gate)
    // and the by-value tier above it
    val small = DistributedRank.valuesAtRanksAdaptive(df, Seq("g"), "v", Seq("id"),
      ranks, "rn", outTotal = "n")
    val large = DistributedRank.valuesAtRanksByValue(df, Seq("g"), "v",
      ranks, "rn", outTotal = "n")
    // both sides share the uniform (g, v, rn, n) schema and the rows agree
    assert(small.columns.toSeq == Seq("g", "v", "rn", "n"))
    assert(large.columns.toSeq == Seq("g", "v", "rn", "n"))
    assert(small.exceptAll(large).count() == 0 && large.exceptAll(small).count() == 0)
    graft.CacheScope.drain()
  }

  test("fused value-domain MAD cascade matches the row-level two-pass cascade") {
    import spark.implicits._
    // the q95 shape: median of v per group, then median of |v − med|,
    // computed (a) as two row-level sort selections over the fact and
    // (b) as the fused cascade — one groupBy(g, v) count table, the
    // second stage's counts DERIVED from the first by arithmetic +
    // re-aggregation (valuesAtRanksFromCounts). Both must emit the
    // exact same interpolated doubles.
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(900) { i =>
      (i % 3, rng.nextInt(40).toDouble * 1.25, i.toLong)
    }
    val df = rows.toDF("g", "v", "id")
    def ranks(n: Column): Column = array(medianRanks(n): _*)
    def interp(hits: org.apache.spark.sql.DataFrame, v: String, out: String) = {
      val h = (col("n") - 1).cast("double") * lit(0.5)
      val lo = min(when(col("rn") === floor(h).cast("long") + 1, col(v)))
      val hi = min(when(col("rn") === ceil(h).cast("long") + 1, col(v)))
      hits.groupBy(col("g")).agg((lo + (max(h) - floor(max(h))) * (hi - lo)).as(out))
    }
    // (a) row-level two-pass
    val medsA = interp(DistributedRank.valuesAtRanksWindow(df, Seq("g"), Seq("v", "id"),
      ranks, "rn", outTotal = "n"), "v", "med")
    val devsA = df.join(broadcast(medsA), "g")
      .withColumn("dev", abs(col("v") - col("med")))
    val madsA = interp(DistributedRank.valuesAtRanksWindow(devsA, Seq("g"), Seq("dev", "id"),
      ranks, "rn", outTotal = "n"), "dev", "mad")
    val a = medsA.join(madsA, "g").as[(Int, Double, Double)].collect().toSet
    graft.CacheScope.drain()
    // (b) fused value-domain cascade
    val vc = graft.CacheScope.scoped(
      df.groupBy(col("g"), col("v")).agg(count(lit(1)).as("__cnt")))
    val medsB = interp(DistributedRank.valuesAtRanksFromCounts(vc, Seq("g"), "v",
      "__cnt", ranks, "rn", outTotal = "n"), "v", "med")
    val vcDev = graft.CacheScope.scoped(
      vc.join(broadcast(medsB), "g")
        .select(col("g"), abs(col("v") - col("med")).as("dev"), col("__cnt"))
        .groupBy(col("g"), col("dev")).agg(sum(col("__cnt")).as("__cnt")))
    val madsB = interp(DistributedRank.valuesAtRanksFromCounts(vcDev, Seq("g"), "dev",
      "__cnt", ranks, "rn", outTotal = "n"), "dev", "mad")
    val b = medsB.join(madsB, "g").as[(Int, Double, Double)].collect().toSet
    graft.CacheScope.drain()
    assert(a == b)
    assert(a.size == 3)

    // (c) the medianMad kernel, pinned against (a): it must emit the
    // exact same interpolated doubles as the row-level cascade.
    val c = DistributedRank.medianMad(df.select(col("g"), col("v")), "g", "v")
      .as[(Int, Double, Double)].collect().toSet
    graft.CacheScope.drain()
    assert(c == a)
  }

  test("valuesAtRanksFromCounts == the row-level window tier (nulls, long values, a NULL group)") {
    import spark.implicits._
    // long values + null values + a null group key; ranks at the
    // edges and middle. The count-table kernel must select the same
    // (group, value, rank, total) rows as the window over the rows
    // the table counts.
    val rng = new scala.util.Random(11)
    val df = Seq.tabulate(3000) { i =>
      (if (i % 7 == 0) None else Some(i % 3),
        if (i % 11 == 0) None else Some(rng.nextInt(5000).toLong))
    }.toDF("g", "v")
    val vc = graft.CacheScope.scoped(
      df.groupBy(col("g"), col("v")).agg(count(lit(1)).as("__cnt")))
    def ranks(n: Column): Column = array(lit(1L), div(n + 1, 2), n)
    val viaCounts = DistributedRank.valuesAtRanksFromCounts(vc, Seq("g"), "v",
      "__cnt", ranks, "rn", outTotal = "n")
      .collect().map(_.toSeq).toSet
    val viaWindow = DistributedRank.valuesAtRanksWindow(df, Seq("g"), Seq("v"),
      ranks, "rn", outTotal = "n")
      .collect().map(_.toSeq).toSet
    graft.CacheScope.drain()
    assert(viaCounts.size == 12) // 3 groups + the NULL group, 3 ranks each
    assert(viaCounts == viaWindow)
  }

  test("weightedMedian: distributed tier == window form (decimal weights, ties, all-NULL group)") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = Seq.tabulate(400) { i =>
      (i % 3, Option(rng.nextInt(50) * 0.5), BigDecimal(rng.nextInt(9) + 1).setScale(2))
    } ++ Seq.tabulate(5) { i =>
      // group 3: every value NULL — the crossing is reached, but no
      // non-null value exists at or past it
      (3, Option.empty[Double], BigDecimal(i + 1).setScale(2))
    }
    val w = rows.toDF("g", "v", "q")
      .groupBy(col("g"), col("v"))
      .agg(sum(col("q").cast(org.apache.spark.sql.types.DecimalType(12, 2))).as("w"))
      .persist()
    // reference: the plain window crossing
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("v").rowsBetween(Long.MinValue, 0)
    val tot = w.groupBy("g").agg(sum("w").as("tw"))
    val want = w.withColumn("cw", sum("w").over(win))
      .join(tot, "g")
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("g").agg(min("v").as("wmedian"))
      .as[(Int, Option[Double])].collect().toSet
    val got = DistributedRank.weightedMedian(w, Seq("g"), "v", "w")
      .as[(Int, Option[Double])].collect().toSet
    w.unpersist()
    graft.CacheScope.drain()
    assert(want.contains((3, None)))
    assert(want.count(_._2.isDefined) == 3)
    assert(got == want)
  }

  test("medianMad: null values rank first, null group is its own group") {
    import spark.implicits._
    // null-heavy group x: median lands on nulls -> null med/mad; group
    // y: clean odd count; the null GROUP gets its own row
    val df = Seq[(Option[String], Option[Double])](
      (Some("x"), None), (Some("x"), None), (Some("x"), None),
      (Some("x"), Some(4.0)),
      (Some("y"), Some(1.0)), (Some("y"), Some(5.0)), (Some("y"), Some(9.0)),
      (None, Some(2.0)), (None, Some(4.0)))
      .toDF("g", "v")
    val got = DistributedRank.medianMad(df, "g", "v")
      .as[(Option[String], Option[Double], Option[Double])].collect().toSet
    graft.CacheScope.drain()
    assert(got == Set(
      (Some("x"), None, None),
      (Some("y"), Some(5.0), Some(4.0)),
      (None, Some(3.0), Some(1.0))))
  }

  test("valuesAtRanks handles the groupless global-quantile shape") {
    import spark.implicits._
    val df = (1L to 101L).map(i => (i % 13, i)).toDF("v", "id")
    val got = DistributedRank.valuesAtRanksWindow(df, Seq.empty, Seq("v", "id"),
      n => array(lit(1L), div(n + 1, 2), n), "rn", outTotal = "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheScope.drain()
    val sorted = (1L to 101L).map(i => (i % 13, i)).sortBy(identity)
    val expect = Set(1L, 51L, 101L).map { k =>
      (sorted(k.toInt - 1)._1, sorted(k.toInt - 1)._2, k, 101L)
    }
    assert(got == expect)
  }
}
