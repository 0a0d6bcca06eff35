package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (same knob
    // as Bench); the driver never sets it, so its runs stay complete
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // Job-level scan ledger per query (r9): every action a query runs
    // — dump write, rank/offset pre-passes, adjacency
    // materializations — has its file scans counted and checked
    // against the declared budgets (plan budget + build actions).
    // Emitted as scan_ledger.json next to the dumps; an over-budget
    // query WARNs here (ScanLedgerSpec is the hard gate) so a driver
    // run still completes while leaving the evidence.
    // name -> (counts, over-budget subset); the over-budget map makes
    // the artifact self-describing (r9 nit: the WARN went only to
    // stderr, so the committed json could not show whether a budget
    // fired). tools/oracle_check.py re-checks it offline.
    val ledgers = scala.collection.mutable.TreeMap[String, (Map[String, Int], Map[String, Int])]()
    SparkEntry.defs
      .filter(d => only.forall(_.contains(d.name)))
      .foreach { d =>
      val name = d.name
      // queries that persist() intermediates (q53 clusters/sigs, the
      // PQ sub-distance tables) would otherwise accumulate cache
      // entries across all ~132 dumps — bound each query to its own
      spark.catalog.clearCache()
      try {
        val (_, counts) = plans.ScanLedger.measure(spark) { s =>
          d.build(s, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        val over = counts.filter { case (t, c) => c > d.ledgerBudget(t) }
        ledgers(name) = (counts, over)
        over.foreach { case (t, c) =>
          System.err.println(
            s"[verify] $name OVER-BUDGET: $t scanned ${c}x across all jobs, budget ${d.ledgerBudget(t)}")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally CacheScope.drain()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    def obj(m: Map[String, Int]): String = m.toSeq.sorted
      .map { case (t, c) => s"${q(t)}: $c" }.mkString("{", ",", "}")
    val ledgerJson = ledgers
      .map { case (name, (counts, over)) =>
        s"${q(name)}: {${q("counts")}: ${obj(counts)}, ${q("over_budget")}: ${obj(over)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scan_ledger.json"), ledgerJson)
    spark.stop()
  }
}
