package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared timing kernel for [[Bench]] (the driver's one-JSON-line
  * contract) and [[BenchServe]] (the interleaved engine/DuckDB pair
  * runner). ONE implementation of the methodology — session shape,
  * noop-write materialization, between-timing hygiene — so the two
  * entry points cannot drift apart and an interleaved pair measures
  * exactly what the driver's bench measures.
  */
private[graft] object BenchKernel {

  /** In-process heap pinning (r14, verdict item 1). The r13 suite-tax
    * finding: the between-timings `System.gc()` lets G1 SHRINK the
    * committed heap, and the next heavy query re-grows it through the
    * kernel's page-fault/THP path INSIDE its timed window, booked as
    * inflated user/sys CPU (measured: an in-suite q07 slot at 2014 s
    * thread-CPU for 74.5 s wall with gc only 5.5 s; same-code pass
    * pair 686.6 → 518.6 s once pinned). The r13 fix lived in
    * `tools/run_bench.sh` (-Xms=-Xmx + AlwaysPreTouch) — but the
    * driver's harness launches `graft.Bench` its own way, so the
    * OFFICIAL artifact stayed exposed (BENCH_r13.json paid 20 s gc +
    * ~49 s storm inflation the same-code builder pass didn't).
    *
    * Two layers, both no-ops under an already-pinned launcher:
    *  1. [[engage]] sets the manageable HotSpot flag
    *     `MaxHeapFreeRatio=100` so a full GC can never uncommit heap,
    *     then grows+touches the committed heap to max ONCE, outside
    *     any timed window.
    *  2. [[regrow]] runs after every between-timings `System.gc()` as
    *     the self-healing fallback (flag not settable on some JVM, or
    *     an uncommit path the flag doesn't cover): if committed has
    *     fallen below max, re-grow and re-fault it there and then —
    *     outside the next timed window — instead of letting the next
    *     heavy query pay it in-band. One long comparison when pinned.
    */
  object HeapPin {
    @volatile private var flagSet = false
    def engaged: Boolean = flagSet

    def engage(): Unit = {
      try {
        val bean = java.lang.management.ManagementFactory.getPlatformMXBean(
          classOf[com.sun.management.HotSpotDiagnosticMXBean])
        bean.setVMOption("MaxHeapFreeRatio", "100")
        flagSet = true
      } catch { case _: Throwable => () }
      regrow()
    }

    /** Grow the committed heap to ~max and fault every page, holding
      * the allocations only for the duration of the call. The JVM's
      * array zeroing already writes each page; the explicit stride-4K
      * touch guards against pre-zeroed-memory paths. Stops 256 MB
      * short of max (allocation headroom), backs off on OOM — and
      * ALSO stops while less than 512 MB is free (r14 ADVICE: the
      * committed-vs-max check alone let live fill arrays drive free
      * memory to ~0 between growth steps, and a concurrent allocation
      * on another thread — listener bus, netty timers — would take
      * the OOM this catch can't see).
      */
    def regrow(): Unit = {
      val rt = Runtime.getRuntime
      val headroom = 256L << 20
      val freeFloor = 512L << 20
      if (rt.maxMemory() - rt.totalMemory() <= headroom) return
      val hold = new java.util.ArrayList[Array[Byte]]()
      try
        while (rt.maxMemory() - rt.totalMemory() > headroom &&
               rt.freeMemory() + (rt.maxMemory() - rt.totalMemory()) > freeFloor + (32L << 20)) {
          val a = new Array[Byte](32 << 20)
          var i = 0
          while (i < a.length) { a(i) = 1; i += 4096 }
          hold.add(a): Unit
        }
      catch { case _: OutOfMemoryError => () }
      finally hold.clear()
    }
  }

  def buildSession(): SparkSession = {
    HeapPin.engage()
    val spark = GraftSession.local(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Full materialization of every output column via a `noop`-format
    * write — no driver collect, no disk sink in the timing path
    * (`count()` would let Spark skip column evaluation entirely).
    */
  def exec(spark: SparkSession, sfDir: String, name: String): Unit =
    try SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    finally CacheScope.drain()

  /** Per-query IO accounting (r11 regime fields): shuffle bytes
    * written + spill across the tasks of a timing window. Registered
    * once per session; [[timeOnce]] snapshots the monotone totals
    * before and after each timed run. `unreported` counts task-end
    * events that arrived without metrics: when it moves inside a
    * window, that window's input/CPU totals are incomplete.
    */
  private final class TaskIoListener extends org.apache.spark.scheduler.SparkListener {
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong()
    val spill = new java.util.concurrent.atomic.AtomicLong()
    // r13 suite-tax attribution triple: source bytes read, task wall,
    // task CPU. In-suite inflation with flat task_cpu and inflated
    // (run − cpu) points at IO/scheduling; inflated cpu at JIT/GC/
    // allocation state — the discriminator three rounds of "suite
    // state tax" labels lacked.
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong()
    val taskCpuMs = new java.util.concurrent.atomic.AtomicLong()
    val unreported = new java.util.concurrent.atomic.AtomicLong()
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m == null) unreported.incrementAndGet(): Unit
      else {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuMs.addAndGet(m.executorCpuTime / 1000000L): Unit
      }
    }
  }
  private val ioListener = new TaskIoListener
  // keyed to the CONTEXT, not a one-shot boolean: a second session in
  // the same JVM (tools, specs) must re-register on its own bus or
  // every regime row would silently read zero deltas
  private val ioContext =
    new java.util.concurrent.atomic.AtomicReference[org.apache.spark.SparkContext](null)
  private def ensureIoListener(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (ioContext.getAndSet(sc) ne sc) sc.addSparkListener(ioListener)
  }

  /** Suite-level regime accumulators — aggregated into the bench
    * line's `regime_all_runs` object so the committed artifact records
    * the host weather it was measured under (r10 verdict item 4).
    * SCOPE: deltas from EVERY timed run — the repeat/min methodology
    * times each query 2–3×, so the IO totals here cover ~2× the work
    * behind the adjacent `value` (which sums per-query MINIMA); the
    * key name and the `timed_runs` count make that explicit (r11
    * ADVICE: the old `regime` name read as same-scope-as-value). The
    * ratio fields (sys_share, iowait_share) are scope-free.
    */
  final class RegimeTotals {
    var shuffleWriteMb: Long = 0
    var spillMb: Long = 0
    var utimeMs: Long = 0
    var stimeMs: Long = 0
    var iowaitTicks: Long = 0
    var hostTicks: Long = 0
    var gcMs: Long = 0
    var timedRuns: Long = 0
    def sysShare: Double =
      if (utimeMs + stimeMs <= 0) -1 else stimeMs.toDouble / (utimeMs + stimeMs)
    def iowaitShare: Double =
      if (hostTicks <= 0) -1 else iowaitTicks.toDouble / hostTicks
    def json: String =
      s"""{"shuffle_write_mb":$shuffleWriteMb,"spill_mb":$spillMb,""" +
        f""""sys_share":$sysShare%.3f,"host_iowait_share":$iowaitShare%.3f,""" +
        s""""gc_sec":${gcMs / 1000},"timed_runs":$timedRuns,""" +
        // artifact self-description (r14): was the heap shrink-proofed
        // in-process, and at what committed size did the suite end —
        // an unpinned-looking artifact is adjudicable at a glance
        s""""heap_pin":${HeapPin.engaged},""" +
        s""""heap_mb":${Runtime.getRuntime.totalMemory() >> 20}}"""
  }

  private def regimeLine(line: String): Unit =
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_regime.jsonl"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }

  /** Start a fresh regime sidecar for this invocation — the file
    * records ONE suite/session, not an append-forever mixture of every
    * ad-hoc run since the last manual reset.
    */
  def resetRegimeLog(): Unit =
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("bench_regime.jsonl")): Unit
    catch { case _: Throwable => () }

  /** Process user/system CPU and host iowait/steal/total — the regime
    * counters (r10 verdict item: the measurement regime lived in
    * prose; now each bench row carries the sys-time share and iowait
    * share of its own window). Ticks are converted at the canonical
    * USER_HZ=100; consumers only ever use deltas and RATIOS of these,
    * so the constant cancels even where a kernel deviates. A counter
    * that cannot be read is −1.
    */
  private def cpuTimes: Map[String, Long] = {
    val self = try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      // fields 14/15 (utime/stime) land at rest(11)/rest(12): rest(0)
      // is field 3
      Seq("proc_utime_ms" -> rest(11).toLong * 10,
        "proc_stime_ms" -> rest(12).toLong * 10)
    } catch { case _: Throwable => Seq("proc_utime_ms" -> -1L, "proc_stime_ms" -> -1L) }
    val host = try {
      // first 8 fields only (user..steal): guest/guest_nice are
      // already included inside user/nice, and summing them would
      // double-count VM time and bias the iowait share low
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      // steal (field 8) = cycles the HYPERVISOR ran someone else while
      // this guest's vCPU was runnable. Invisible to thread-CPU
      // accounting (the guest books stolen time as if the thread ran),
      // so it is the only direct witness for the 3-30× single-slot
      // storms measured r13: wall and "CPU" inflate together, iowait
      // stays 0, and no in-process counter moves.
      Seq("host_iowait_ticks" -> cpu(4), "host_total_ticks" -> cpu.sum,
        "host_steal_ticks" -> cpu(7))
    } catch { case _: Throwable =>
      Seq("host_iowait_ticks" -> -1L, "host_total_ticks" -> -1L,
        "host_steal_ticks" -> -1L) }
    (self ++ host).toMap
  }

  /** Bounded wait until the block-manager scratch dirs stop shrinking
    * — the r10 suite-state-tax fix: a GC only ENQUEUES the
    * ContextCleaner's disk deletes, and if a predecessor left tens of
    * GB of aborted shuffle/spill files the deletes would otherwise
    * run CONCURRENTLY with the next timing's IO (SUITETAX_r10.json: r9's
    * failed uncapped q106 left 74 GB on a 100%-full disk, still
    * 73.6 GB at q107's start, and q107 ran 2.1× slow while they
    * drained mid-query). A no-op (one directory walk) whenever
    * scratch is already small.
    */
  def settleScratch(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    var prev = Long.MaxValue
    var bytes = org.apache.spark.sql.graftbridge.SparkBridge.diskUsage(sc)._2
    while (bytes > (1L << 30) && bytes < prev && System.nanoTime() < deadline) {
      prev = bytes
      Thread.sleep(500)
      bytes = org.apache.spark.sql.graftbridge.SparkBridge.diskUsage(sc)._2
    }
  }

  /** One sample's storm-relevant regime fields, alongside the wall
    * time (r15, verdict item 3): enough for [[stormSignature]] to
    * decide in-process whether a PAIR of timings hides a storm even
    * when their wall clocks agree. `taskCpuMs` and `inputMb` read −1
    * when the window's IO accounting went unreported (a task-end
    * event without metrics, or a listener-bus flush that timed out).
    */
  final case class Timing(
      sec: Double, taskCpuMs: Long, inputMb: Long,
      sysShare: Double, stealShare: Double)

  /** The floors tool's storm rule, in-process: `slow` vs `fast`
    * samples of the SAME query. Task-CPU inflation at flat input means
    * the work itself ran slow (the r13 storm class: user thread-CPU
    * inflated 2–4× while sys/iowait stay quiet); host steal, or a
    * sys-share step the faster sample didn't pay, means the host was
    * interfering. Either way the slot earns another sample — even when
    * both wall clocks agreed because both stormed together (the
    * failure mode the r14 official artifact paid ~30 s through).
    */
  def stormSignature(fast: Timing, slow: Timing): Boolean = {
    // the cpu-inflation arm needs BOTH input counts actually present
    // (r15 ADVICE): a sample whose IO metrics failed to report reads
    // −1 (unreported, never a measured 0) and must not default to
    // "flat input" and buy extra samples on ordinary CPU jitter; such
    // samples fall back to the hostAnomaly arm and the caller's >1.5×
    // wall-spread rule.
    // r16 verdict gap: queries whose scans round to 0 MB on BOTH
    // samples (q92/q93 class) thereby lost cpu-inflation protection
    // entirely, and the r16 driver pass published a 6× phantom
    // regression on q93. A CONSISTENT double-zero is a genuinely
    // sub-MB scan, not a miss (a miss reads −1, which neither input
    // clause admits); the fast side's 100 ms task-CPU floor keeps
    // trivial-work jitter from buying samples where CPU inflation is
    // meaningless anyway.
    val flatInput =
      (fast.inputMb > 0 && slow.inputMb > 0 &&
        math.abs(fast.inputMb - slow.inputMb).toDouble <=
          0.1 * math.max(math.max(fast.inputMb, slow.inputMb), 1L)) ||
      (fast.inputMb == 0 && slow.inputMb == 0 && fast.taskCpuMs >= 100)
    val cpuInflated = flatInput && fast.taskCpuMs > 0 &&
      slow.taskCpuMs > fast.taskCpuMs * 1.4
    val hostAnomaly = slow.stealShare > 0.02 ||
      (slow.sysShare > 0.35 && fast.sysShare >= 0 &&
        slow.sysShare > fast.sysShare * 1.5)
    cpuInflated || hostAnomaly
  }

  /** The table layout every artifact measured: plain parquet, the
    * only layout the suite reads. Stamped on the stdout line so
    * artifacts from older runs over the removed bucketed/twin
    * warehouse (stamped "bucketed"/"twins") never compare silently.
    */
  val layoutName: String = "plain"

  def timeOnce(
      spark: SparkSession,
      sfDir: String,
      name: String,
      totals: RegimeTotals = null): Double =
    timeOnceDetail(spark, sfDir, name, totals).sec

  /** One timed execution with the full between-timing hygiene;
    * sec = −1.0 on failure. Every timing appends one regime row
    * (shuffle write, spill, process sys-time share, host iowait share,
    * GC) to `bench_regime.jsonl` and, when `totals` is given,
    * accumulates the same deltas for the suite line's `regime` object.
    */
  def timeOnceDetail(
      spark: SparkSession,
      sfDir: String,
      name: String,
      totals: RegimeTotals = null): Timing = {
    ensureIoListener(spark)
    // queries that persist() intermediates (q53 clusters/bandRows)
    // register them in the plan-canonicalized CacheManager — without
    // this the repeat run reads round-1 caches and times nothing
    spark.catalog.clearCache()
    // ContextCleaner reclaims dead broadcast/shuffle state only on
    // driver GC; after ~100 query executions the leftover blocks
    // inflate allocation-heavy queries 3-5× (measured on q53).
    // Explicit GC between timings isolates each query's own cost.
    System.gc()
    // re-commit + re-fault any heap the GC just uncommitted, OUTSIDE
    // the timed window (no-op when the MaxHeapFreeRatio pin held)
    HeapPin.regrow()
    settleScratch(spark)
    val cpu0 = cpuTimes
    val gc0 = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    // r16 (suite-tax attribution): JIT compilation time and loaded-class
    // deltas per slot. 132 queries in one JVM generate thousands of
    // codegen classes; if a slot's tax over its fresh-JVM floor came
    // from compiler threads competing for cores or class-load churn,
    // these two fields show it — if they read near zero on a taxed
    // slot, the JIT hypothesis is refuted for that slot.
    val jit0 = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(-1L)
    val cls0 = java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    val sw0 = ioListener.shuffleWrite.get()
    val sp0 = ioListener.spill.get()
    val br0 = ioListener.bytesRead.get()
    val tr0 = ioListener.taskRunMs.get()
    val tc0 = ioListener.taskCpuMs.get()
    val ur0 = ioListener.unreported.get()
    val t0 = System.nanoTime()
    val ok = try { exec(spark, sfDir, name); true } catch { case _: Throwable => false }
    val dt = (System.nanoTime() - t0) / 1e9
    // the listener bus is async: drain it so the window's last tasks'
    // shuffle/spill bytes land in THIS query's row, not the next one's;
    // a timeout leaves the window's IO totals incomplete, so the
    // timing goes on with input/CPU marked unreported
    val flushed =
      try { org.apache.spark.sql.graftbridge.SparkBridge.waitUntilEmpty(spark.sparkContext); true }
      catch { case _: java.util.concurrent.TimeoutException => false }
    val reported = flushed && ioListener.unreported.get() == ur0
    val cpu1 = cpuTimes
    val gc1 = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    val jit1 = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(-1L)
    val cls1 = java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    val jitMs = if (jit0 < 0 || jit1 < 0) -1L else jit1 - jit0
    // CodeHeap occupancy at slot end (MB, all segments summed): the
    // JVM's compiled-code arena is a fixed 240 MB by default, and a
    // long suite's thousands of codegen classes can push it into
    // sweep/flush territory where hot methods run deoptimized — the
    // q128-class suite tax. A taxed slot at near-capacity occupancy
    // confirms the mechanism; one far below refutes it.
    val codeCacheMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / (1 << 20)
    val swMb = (ioListener.shuffleWrite.get() - sw0) / (1 << 20)
    val spMb = (ioListener.spill.get() - sp0) / (1 << 20)
    def d(k: String): Long =
      if (cpu0(k) < 0 || cpu1(k) < 0) -1 else cpu1(k) - cpu0(k)
    val (du, ds) = (d("proc_utime_ms"), d("proc_stime_ms"))
    val (dio, dtot) = (d("host_iowait_ticks"), d("host_total_ticks"))
    val dsteal = d("host_steal_ticks")
    val sysShare = if (du + ds <= 0) -1.0 else ds.toDouble / (du + ds)
    val ioShare = if (dtot <= 0) -1.0 else dio.toDouble / dtot
    val stealShare = if (dtot <= 0 || dsteal < 0) -1.0 else dsteal.toDouble / dtot
    val brMb = if (reported) (ioListener.bytesRead.get() - br0) / (1 << 20) else -1L
    val trMs = ioListener.taskRunMs.get() - tr0
    val tcMs = if (reported) ioListener.taskCpuMs.get() - tc0 else -1L
    regimeLine(s"""{"q":"$name","ok":$ok,"sec":${f"$dt%.3f"},""" +
      s""""shuffle_write_mb":$swMb,"spill_mb":$spMb,""" +
      f""""sys_share":$sysShare%.3f,"host_iowait_share":$ioShare%.3f,""" +
      s""""gc_ms":${gc1 - gc0},""" +
      f""""host_steal_share":$stealShare%.3f,""" +
      s""""input_mb":$brMb,"task_ms":$trMs,"task_cpu_ms":$tcMs,""" +
      s""""jit_ms":$jitMs,"classes_loaded":${cls1 - cls0},""" +
      s""""code_cache_mb":$codeCacheMb}""")
    if (totals != null && ok) {
      totals.timedRuns += 1
      totals.shuffleWriteMb += swMb
      totals.spillMb += spMb
      if (du >= 0) { totals.utimeMs += du; totals.stimeMs += ds }
      if (dtot >= 0) { totals.iowaitTicks += dio; totals.hostTicks += dtot }
      totals.gcMs += gc1 - gc0
    }
    Timing(if (ok) dt else -1.0, tcMs, brMb, sysShare, stealShare)
  }
}

/** Benchmark main (driver contract): times every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Methodology: one untimed warmup query first (JVM/codegen/catalog
  * warm), then each query executed with a `noop`-format write — full
  * materialization of every output column, no driver collect, no disk
  * sink in the timing path. Each query runs TWICE and reports the min:
  * single-shot timings on a shared microVM can be off by 40× from GC /
  * page-fault / contention spikes (round 1 recorded a 1.6 s query at
  * 75 s); the min of two is the plan's cost, not the machine's mood.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchKernel.buildSession()
    BenchKernel.resetRegimeLog()

    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // warmup: cheapest scan-agg query, untimed
    try BenchKernel.exec(spark, sfDir, "q06_forecast_revenue")
    catch { case _: Throwable => () }

    val regime = new BenchKernel.RegimeTotals
    // SPARK_GRAFT_RUNS=1 drops the repeat/min methodology — for long
    // large-SF artifact runs (100× replicas) where each query is tens
    // of seconds, proportional host noise is small and a second pass
    // doubles a multi-hour wall clock. Artifacts record which mode ran.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").trim match {
      case "1" => 1
      case "2" => 2
      case other => sys.error(
        s"SPARK_GRAFT_RUNS must be '1' or '2', got '$other' — failing fast before any query runs")
    }
    def sample(name: String): BenchKernel.Timing =
      BenchKernel.timeOnceDetail(spark, sfDir, name, regime)
    // per-query EXTRA sample counts (r15 ADVICE): storm-aware
    // re-sampling makes the published metric min-of-up-to-4, and a
    // lower min is partly expected from more draws even under pure
    // noise — the artifact records which queries drew extras so
    // cross-round ratio claims can be audited for sampling asymmetry
    // (the suite-level timed_runs alone can't say WHERE)
    val extraSamples = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // Compact keys + 3-decimal values: rounds 1-2 emitted the full
    // query names and raw nanosecond-derived doubles, pushing the JSON
    // line past the harness' stdout-tail parse window (BENCH_r01/r02
    // both recorded "parsed": null with the line intact but truncated
    // at the front). "q01_pricing_summary" -> "q01",
    // "flight_q1_airline_counts" -> "fq1"; the full mapping is the
    // sorted SparkEntry.queries key list.
    def shortKey(name: String): String =
      if (name.startsWith("flight_q")) "fq" + name.stripPrefix("flight_q").takeWhile(_.isDigit)
      else name.takeWhile(_ != '_')
    val results = names.map { name =>
      val a = sample(name)
      val b = if (runs <= 1) a else if (a.sec >= 0) sample(name) else a
      if (a.sec < 0 || b.sec < 0) name -> -1.0
      else if (runs <= 1) name -> a.sec
      else {
        // Storm-aware re-sampling (r15): the two best samples
        // disagreeing by >1.5× always meant one caught a host spike
        // (this microVM swings 3×+); ALSO re-sample on a >10%
        // disagreement whose slow side carries the storm signature
        // (task-CPU inflation at flat input, host steal, sys-share
        // step) — the r14 official artifact paid ~30 s through pairs
        // that agreed because both samples stormed together. Bounded:
        // at most two extra samples per query.
        val samples = scala.collection.mutable.Buffer(a, b)
        def suspect: Boolean = {
          val s = samples.filter(_.sec >= 0).sortBy(_.sec)
          s(0).sec > 0.3 && s(1).sec > s(0).sec * 1.10 &&
            (s(1).sec > s(0).sec * 1.5 || BenchKernel.stormSignature(s(0), s(1)))
        }
        var extras = 0
        while (extras < 2 && suspect) { samples += sample(name); extras += 1 }
        if (extras > 0) extraSamples(shortKey(name)) = extras
        name -> samples.map(_.sec).filter(_ >= 0).min
      }
    }
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // extra_samples: ONLY the queries that drew storm re-samples (the
    // default is runs-per-query = 2, or 1 under SPARK_GRAFT_RUNS=1) —
    // empty on a calm pass. r17: compact STRING form "q92,q93x2"
    // (name alone = 1 extra, xN for more): the r17 zero-input storm
    // fallback makes many more sub-MB queries eligible for extras, and
    // the old per-key object form pushed a 59-extras sf0.001 line to
    // 2406 bytes against the driver's ~2.5 KB stdout-tail parse window
    // (the rounds-1-2 overflow failure mode). Worst case (132 queries
    // all drawing extras) now costs ~800 bytes instead of ~1.5 KB.
    val es = extraSamples
      .map { case (k, v) => if (v == 1) k else s"${k}x$v" }
      .mkString(",")
    // regime: the aggregate host-weather fields for THIS artifact
    // (per-query rows live in bench_regime.jsonl); ~110 chars, inside
    // the driver's stdout-tail parse budget
    // layout: which table layout the artifact measured (r16 verdict
    // item 6) — cross-round comparisons must not silently span layouts
    val layout = BenchKernel.layoutName
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"queries":$qs,"base_runs":$runs,"extra_samples":"$es","regime_all_runs":${regime.json},"layout":"$layout","sf":"$sfDir"}"""
    // Durable copy for humans/tools that miss the stdout tail.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_last.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // Stop Spark BEFORE printing: the metric line must be the program's
    // last stdout so nothing (driver-side shutdown logs included) lands
    // between it and the harness' tail parse.
    spark.stop()
    println(line)
  }
}

/** Interleaved-pair server: reads query names from stdin (one per
  * line), times each with the SAME kernel as [[Bench]], and prints
  * one `{"q":name,"sec":s}` JSON line per request (sec = −1 on
  * failure). `tools/interleaved_bench.py` drives it, alternating each
  * engine timing with the matching DuckDB oracle timing inside the
  * same minutes-window, so the shared microVM's weather — which
  * swings identical fresh-JVM runs 8× across an evening
  * (ISOLATED100_r10 q48 control) — hits both engines of a pair
  * roughly equally and largely cancels out of the RATIO, the number
  * the 2×-of-baseline bar is actually about. A blank line or EOF
  * ends the session. Names are timed as requested — repeats and
  * min-taking are the orchestrator's job.
  */
object BenchServe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchKernel.buildSession()
    BenchKernel.resetRegimeLog()
    try BenchKernel.exec(spark, sfDir, "q06_forecast_revenue")
    catch { case _: Throwable => () }
    println("""{"ready":true}""")
    Console.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim.nonEmpty) {
      val name = line.trim
      val sec =
        if (SparkEntry.queries.contains(name)) BenchKernel.timeOnce(spark, sfDir, name)
        else -1.0
      println(s"""{"q":"$name","sec":${if (sec < 0) "-1" else f"$sec%.3f"}}""")
      Console.out.flush()
      line = in.readLine()
    }
    spark.stop()
  }
}
