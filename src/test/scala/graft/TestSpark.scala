package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SparkBridge

/** One shared local session across all suites. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixturePath(name: String): String =
    getClass.getResource(s"/$name").toString

  /** `body`'s result and the call sites of the Spark jobs started
    * while it runs, one per job (its stages' names joined by " / ").
    */
  def jobSitesWhile[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        sites.add(job.stageInfos.map(_.name).mkString(" / "))
    }
    SparkBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    val out =
      try {
        val a = body
        SparkBridge.waitUntilEmpty(sc)
        a
      } finally sc.removeSparkListener(listener)
    (out, sites.toArray(Array.empty[String]).toSeq)
  }
}
