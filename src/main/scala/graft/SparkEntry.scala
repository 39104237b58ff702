package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries._

/** One registered query: its name, how to build it over an input dir, and
  * its oracle, the DuckDB-equivalent ANSI SQL over the same parquet tables
  * that its result is compared against. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 registers one [[QuerySpec]]
  * in its module's `specs`; `queries` and `oracleSql` are views of that one
  * list, so a query and its oracle cannot drift apart.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01Pricing(spark, "/root/testdata/sf0.001")

  /** Every module's specs, in module order. */
  lazy val specs: Seq[QuerySpec] =
    Relational.specs ++ Windows.specs ++ Scalars.specs ++
      EtlQueries.specs ++ TextQueries.specs ++
      SimilarityQueries.specs ++ StreamingQueries.specs ++
      ExtensionQueries.specs ++ SurfaceQueries.specs ++
      AdvancedQueries.specs ++ ApiSurfaceQueries.specs ++
      ScaleQueries.specs ++ CurationQueries.specs ++
      RelationalPlus.specs ++ GraphQueries.specs ++
      RetrievalQueries.specs ++ MiningQueries.specs ++
      CorpusQueries.specs ++ EvalQueries.specs ++
      TimeSeriesQueries.specs ++ EmbeddingQueries.specs ++
      ProfilingQueries.specs ++ graft.pipeline.CurationRun.specs ++
      graft.pipeline.RetrievalRun.specs ++
      graft.pipeline.DedupAuditRun.specs

  /** Query name → builder over an input dir. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.run).toMap

  /** Query name → oracle SQL, runnable by DuckDB on the same tables. */
  lazy val oracleSql: Map[String, String] =
    specs.map(s => s.name -> s.oracle).toMap
}
