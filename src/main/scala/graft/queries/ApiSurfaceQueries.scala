package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}

/** Remaining DataFrame/Dataset API surface: pivot, null handling
  * (DataFrameNaFunctions), typed Dataset operations.
  */
object ApiSurfaceQueries {
  import Exact._

  /** Pivot: order counts and totals per priority × status. Explicit pivot
    * values keep the plan single-pass (no distinct-values pre-query) —
    * the required form at scale. The oracle is portable conditional
    * aggregation.
    */
  def q65Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("o_orderpriority"))

  val q65Oracle: String =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** DataFrameNaFunctions: synthesize nulls (nullif), then fill one column
    * and drop rows where another stayed null — the ETL cleaning trio.
    */
  def q66NaHandling(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("segment"),
        when(col("c_acctbal") > 5000, col("c_acctbal")).as("big_bal"))
      .na.fill(Map("segment" -> "UNKNOWN"))
      .na.drop(Seq("big_bal"))
      .select(col("c_custkey"), col("segment"),
        money(col("big_bal")).as("big_bal"))
      .orderBy(col("c_custkey"))

  val q66Oracle: String =
    """SELECT c_custkey,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'UNKNOWN') AS segment,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS big_bal
      |FROM customer
      |WHERE c_acctbal > 5000
      |ORDER BY c_custkey""".stripMargin

  case class OrderRow(
      o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double)
  case class StatusStats(status: String, n: Long, total_cents: Long)

  /** Typed Dataset surface: as[T] → filter → groupByKey → mapGroups with
    * compile-time row types. Money is carried as exact integer cents inside
    * the typed code so the oracle comparison stays exact.
    */
  def q67TypedOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .as[OrderRow]
      .filter(_.o_totalprice > 100000.0)
      .groupByKey(_.o_orderstatus)
      .mapGroups { (status, rows) =>
        var n = 0L
        var cents = 0L
        rows.foreach { r =>
          n += 1
          cents += math.round(r.o_totalprice * 100)
        }
        StatusStats(status, n, cents)
      }
      .toDF()
      .orderBy(col("status"))
  }

  val q67Oracle: String =
    """SELECT o_orderstatus AS status, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders
      |WHERE o_totalprice > 100000
      |GROUP BY o_orderstatus
      |ORDER BY status""".stripMargin

  /** `Dataset.observe` + `Observation` — the in-flight metrics surface: a
    * pipeline attaches named aggregate metrics to a frame and reads them
    * off the SAME pass that materializes it (no second scan, no separate
    * monitoring query; the production use is data-quality counters on
    * every batch). The gate materializes the observed frame through the
    * noop sink, then returns the captured metrics as a 1-row frame the
    * oracle recomputes independently.
    */
  def q98ObserveMetrics(spark: SparkSession, dir: String): DataFrame = {
    import Exact._
    val obs = new org.apache.spark.sql.Observation("graft_metrics")
    Tables.events(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        out2(sum(dec2(col("value")))).as("sum_value"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    // Row + explicit schema, not tuple unboxing: on an empty/all-null
    // input the observed sum is null, and `.asInstanceOf[Double]` would
    // silently coerce it to 0.0 where the oracle's SUM yields NULL
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(m("n_rows"), m("sum_value"), m("n_purchase"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("n_purchase", org.apache.spark.sql.types.LongType))))
  }

  val q98Oracle: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
      |FROM events""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q98_observe_metrics", q98ObserveMetrics, q98Oracle),
    QuerySpec("q65_pivot", q65Pivot, q65Oracle),
    QuerySpec("q66_na_handling", q66NaHandling, q66Oracle),
    QuerySpec("q67_typed_ops", q67TypedOps, q67Oracle))
}
