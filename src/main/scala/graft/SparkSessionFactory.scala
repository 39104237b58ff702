package graft

import org.apache.spark.sql.SparkSession

/** Session factory ≙ reference `get_spark_session(app_name, config_options,
  * jars, packages)` (`lambda_function.py:54-80`), Spark-4 idiomatic: scale
  * defaults (AQE, UTC, sized shuffle partitions) applied first, caller
  * config layered on top. The only session builder in the repo: Bench,
  * Verify, PlanDump, the test suite and perfbench all call [[build]], so
  * the sessions that are verified and benched share one configuration.
  */
object SparkSessionFactory {

  def build(
      appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      configOptions: Map[String, String] = Map.empty,
      jars: Seq[String] = Nil): SparkSession = {
    // local[N] and local[N,maxRetries] both carry a thread count; anything
    // else (including local[*]) falls back to the machine's core count
    val LocalN = """local\[(\d+)(?:,\d+)?\]""".r
    val shufflePartitions = master match {
      case LocalN(n) => n
      case _ => Runtime.getRuntime.availableProcessors().toString
    }
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata parquet carries tz-naive timestamp[us]; read it as the
      // session-tz TIMESTAMP (the DuckDB oracle's reading), not NTZ —
      // NTZ breaks unix_micros() and streaming watermarks
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    val withJars = if (jars.nonEmpty) b.config("spark.jars", jars.mkString(",")) else b
    configOptions.foldLeft(withJars) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
  }
}
