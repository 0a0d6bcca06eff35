package graftbench

import org.apache.spark.sql.SparkSession

/** The query suite workload: a closed loop of one client issuing the
  * given queries in the given order. Each execution is the
  * library-caller contract (`QueryDef.build`, one write into
  * [[HashSink]], `CacheScope.drain()`) and its fingerprint is compared
  * with the committed one.
  *
  * Set-up (repeated `reps` times) is a session plus one query. A warm
  * round runs every query once; measured rounds then run them all again
  * until the run's seconds are spent, at least three times, each round
  * starting one query further along the order. The metrics take each
  * query's fastest round, as `graft.Bench` takes the fastest of its
  * repeats, so bursts of host noise on a shared machine and a query's
  * place in the JIT's warm-up do not set them. With tracing on, rounds
  * alternate untraced and traced.
  */
object Suite {
  val WarmQuery = "q06_forecast_revenue"

  def run(s: Settings, out: Out): Unit = {
    val dir = s("data")
    val names = s.list("queries")
    val defs = Common.defsByName
    val expected = Common.loadFingerprints(s("fingerprints"))
    val unknown = names.filterNot(defs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    var op = 0
    def check(name: String, r: Common.QueryRun): Option[String] =
      r.error.orElse(r.fp.flatMap { fp =>
        expected.get(name) match {
          case None => Some("no committed fingerprint")
          case Some(e) if e != fp => Some(s"fingerprint $fp, committed $e")
          case _ => None
        }
      })
    def execute(spark: SparkSession, name: String, phase: String, pass: Int): Common.QueryRun = {
      op += 1
      val r = Common.runQuery(spark, defs(name), dir, s"$name#$op")
      val problem = check(name, r)
      out("k" -> "op", "kind" -> "query", "phase" -> phase, "pass" -> pass, "op" -> op,
        "name" -> name, "s" -> r.wall, "ok" -> problem.isEmpty, "error" -> problem)
      r
    }

    val spark = Common.setUp(s.int("cores"), s.int("reps"), out) { sp =>
      execute(sp, WarmQuery, "setup", -1): Unit
    }
    Common.regime(spark, out)

    val traced = s.flag("trace")
    val trace = if (traced) Some(new Trace(spark)) else None
    val budgetNs = (s("seconds").toDouble * 1e9).toLong
    names.foreach(n => execute(spark, n, "warm", 0))
    val start = System.nanoTime()
    val gc0 = Common.gcMs
    val jit0 = Common.jitMs
    Common.resetHeapPeak()
    var round = 0
    while (round < (if (traced) 4 else 3) || System.nanoTime() - start < budgetNs) {
      // each round starts one query further along the order, so every
      // query is measured at several positions of the JIT's warm-up
      val shifted = names.drop(round % names.size) ++ names.take(round % names.size)
      round += 1
      // traced runs alternate untraced and traced rounds: the untraced
      // ones are the reference for the tracing overhead
      val tracing = trace.filter(_ => round % 2 == 0)
      trace.foreach(_.detach())
      tracing.foreach(_.attach())
      shifted.foreach { name =>
        tracing match {
          case None => execute(spark, name, "measure", round)
          case Some(t) =>
            t.begin()
            val r = execute(spark, name, "traced", round)
            spansOf(t, op, name, r, t.finish(), out)
        }
      }
    }
    out("k" -> "jvm", "gc_s" -> (Common.gcMs - gc0) / 1e3, "jit_s" -> (Common.jitMs - jit0) / 1e3,
      "heap_peak_mb" -> Common.heapPeakMb, "measured_s" -> Common.secs(start))
    trace.foreach { t =>
      t.detach()
      t.write(out)
    }
    spark.stop()
  }

  /** Spans and counters of one traced query. Timers give the query,
    * build, action and drain spans; the listeners add Spark's planning
    * phases and SQL executions inside the action, and every job under
    * whichever of build, action or drain it started in.
    */
  private[graftbench] def spansOf(t: Trace, op: Int, name: String, r: Common.QueryRun,
      e: Trace.OpEvents, out: Out): Unit = {
    val ms = (ns: Long) => t.now() - (System.nanoTime() - ns) / 1e6
    val (q0, q1, q2, q3) = (ms(r.t0), ms(r.t1), ms(r.t2), ms(r.t3))
    val root = t.span("query", q0, q3, -1, op)
    val build = t.span("build", q0, q1, root, op)
    val action = t.span("action", q1, q2, root, op)
    val drain = t.span("drain", q2, q3, root, op)
    // Spark's planning phases and SQL executions of the write, placed in
    // the action by their own clocks
    val actionExecs = e.sqlExec.toSeq.filter { case (_, (st, en)) => st >= q1 - 1 && st <= q2 && !en.isNaN }
    val execSpans = actionExecs.map { case (_, (st, en)) =>
      (t.span("execution", st, math.min(en, q2), action, op), st, math.min(en, q2))
    }
    val actionIds = actionExecs.map(_._1).toSet
    e.queries.foreach { case (id, phases, _, _) =>
      if (actionIds(id)) phases.foreach { case (phase, (st, en)) => t.span(phase, st, en, action, op) }
    }
    // each job under the innermost of execution, build, action, drain it started in
    val parents = execSpans ++ Seq((build, q0, q1), (action, q1, q2), (drain, q2, q3))
    e.jobs.foreach { case (st, en) =>
      val parent = parents.find { case (_, b, x) => st >= b && st < x }.map(_._1).getOrElse(root)
      t.span("job", st, en, parent, op)
    }
    val buildJobs = e.jobs.count(_._1 < q1)
    val busyMs = Trace.coveredWithin(e.taskIntervals.toSeq, q0, q3)
    out("k" -> "opstats", "op" -> op, "name" -> name, "wall_ms" -> (q3 - q0),
      "build_jobs" -> buildJobs, "jobs" -> e.jobs.size,
      "stages" -> e.stages, "tasks" -> e.tasks, "task_ms" -> e.taskMs,
      "task_cpu_ms" -> e.taskCpuNs / 1e6, "busy_ms" -> busyMs,
      "shuffle_write_bytes" -> e.shuffleWriteBytes, "spill_bytes" -> e.spillBytes,
      "input_bytes" -> e.inputBytes, "cache_bytes" -> e.cacheBytes,
      "scan_nodes" -> e.queries.map(_._4).sum)
  }
}
