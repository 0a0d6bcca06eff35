package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads with declared schemas, so a corpus whose files drift
  * from them would read a missing or renamed column as nulls; these
  * cases pin the declarations to what Spark infers from every corpus.
  */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val corpora = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  for (dir <- corpora) {
    test(s"every table's declared schema equals the schema inferred from ${dir.split('/').last}") {
      val files = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
      assert(files.map(_.stripSuffix(".parquet")).toSet == Tables.schemas.keySet)
      val drifted = Tables.schemas.toSeq.sortBy(_._1).collect {
        case (name, declared) if spark.read.parquet(s"$dir/$name.parquet").schema != declared =>
          s"$name: declared ${declared.toDDL}, inferred " +
            spark.read.parquet(s"$dir/$name.parquet").schema.toDDL
      }
      assert(drifted.isEmpty, drifted.mkString("\n"))
    }
  }

  test("opening all ten tables starts no job and leaves the session conf unchanged") {
    val session = spark.newSession()
    val before = session.conf.getAll
    val t = Tables(session, corpora.head)
    val (_, sites) = TestSpark.jobSitesWhile(Seq(t.region, t.nation, t.customer, t.supplier,
      t.part, t.orders, t.lineitem, t.events, t.documents, t.embeddings))
    assert(sites.isEmpty, s"jobs started while opening tables: $sites")
    assert(session.conf.getAll == before)
  }
}
