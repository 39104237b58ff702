package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per suite,
  * shared here process-wide since Test/fork gives us a dedicated JVM).
  */
object SparkTest {
  lazy val session: SparkSession = {
    val s = SparkSessionFactory.build(
      appName = "graft-test",
      master = "local[4]",
      // static conf: needed by the bucketing spec's saveAsTable
      configOptions = Map("spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkTest.session
  val sfDir = "/root/testdata/sf0.001"
}
