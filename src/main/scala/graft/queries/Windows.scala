package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}

/** Tier-B window functions and top-k (SURVEY.md §2.B B10–B11).
  *
  * Window specs partition on a key, so the only shuffle is one hash
  * repartition per distinct (partitionBy, orderBy) pair — Spark reuses the
  * exchange across multiple window functions over the same spec. Rankings
  * over a non-unique sort key always carry a unique tie-break column so
  * results are deterministic and oracle-comparable.
  */
object Windows {
  import Exact._

  /** B10 ranking trio. row_number gets a unique tie-break (custkey); rank /
    * dense_rank run on the raw sort key so ties are visible.
    */
  def q14WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val byBal = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val byBalTies = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc)
    Tables.customer(spark, dir)
      .select(
        col("c_mktsegment"), col("c_custkey"),
        money(col("c_acctbal")).as("balance"),
        row_number().over(byBal).as("rn"),
        rank().over(byBalTies).as("rnk"),
        dense_rank().over(byBalTies).as("drnk"),
        ntile(4).over(byBal).as("quartile"),
        percent_rank().over(byBalTies).as("pct_rank"),
        cume_dist().over(byBalTies).as("cume"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  val q14Oracle: String =
    """SELECT c_mktsegment, c_custkey,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS balance,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn,
      |  CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INTEGER) AS rnk,
      |  CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INTEGER) AS drnk,
      |  CAST(NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS quartile,
      |  PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS pct_rank,
      |  CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS cume
      |FROM customer
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** B10 lag/lead over a per-customer order timeline. */
  def q15WindowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("total", money(col("o_totalprice")))
      .select(
        col("o_custkey"), col("o_orderkey"), col("total"),
        lag(col("total"), 1).over(w).as("prev_total"),
        lead(col("total"), 1).over(w).as("next_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q15Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total,
      |  LAG(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 1) OVER w AS prev_total,
      |  LEAD(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 1) OVER w AS next_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** B10 running aggregate with an explicit ROWS frame. */
  def q16WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("total", dec2(col("o_totalprice")))
      .select(
        col("o_custkey"), col("o_orderkey"),
        out2(sum(col("total")).over(w)).as("running_total"),
        count(lit(1)).over(w).as("running_n"),
        first(col("total")).over(w).cast(DoubleType).as("first_total"),
        last(col("total")).over(w).cast(DoubleType).as("latest_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q16Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DECIMAL(38,2)) AS DOUBLE) AS running_total,
      |  COUNT(*) OVER w AS running_n,
      |  CAST(FIRST_VALUE(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS first_total,
      |  CAST(LAST_VALUE(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS latest_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** B11 global top-k. Spark plans this as TakeOrderedAndProject: each
    * partition keeps its local top-10, only k rows per partition reach the
    * driver-side merge — no full sort at any scale.
    */
  def q17TopKGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), money(col("o_totalprice")).as("total"))

  val q17Oracle: String =
    """SELECT o_orderkey, o_custkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** B11 top-k per group via row_number — one shuffle on the group key, the
    * rank filter drops rows before any further stage.
    */
  def q18TopKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .select(
        col("c_mktsegment"), col("c_custkey"),
        money(col("c_acctbal")).as("balance"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  val q18Oracle: String =
    """SELECT c_mktsegment, c_custkey, balance, rn FROM (
      |  SELECT c_mktsegment, c_custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS balance,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
      |  FROM customer)
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** B10 RANGE-frame window — the time-based rolling aggregate rows-frames
    * can't express: per user, the count and exact value sum of events in
    * the TRAILING HOUR of each event (frame bounds follow the ORDER-BY
    * VALUE, so ties share a frame and sparse gaps shrink it). Ordering is
    * on epoch seconds — numeric range frames are portable; interval
    * range-frame syntax is not.
    */
  def q97WindowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"))
      .rangeBetween(-3600, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("ts_sec"),
        dec2(col("value")).as("v"))
      .select(
        col("user_id"), col("event_id"), col("ts_sec"),
        count(lit(1)).over(w).as("n_last_hour"),
        out2(sum(col("v")).over(w)).as("sum_last_hour"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))
  }

  val q97Oracle: String =
    """SELECT user_id, event_id, ts_sec,
      |  COUNT(*) OVER w AS n_last_hour,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DECIMAL(38,2)) AS DOUBLE) AS sum_last_hour
      |FROM (SELECT user_id, event_id, value, epoch_ms(ts) // 1000 AS ts_sec FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts_sec, event_id""".stripMargin

  /** B10 navigation functions with IGNORE NULLS — the gap-fill toolkit.
    * Sparse observations (nulls planted on a deterministic key slice) are
    * imputed per user timeline: `locf` carries the last observation
    * forward (last_value over the growing frame), `next_obs` pulls the
    * next non-null ahead (lead IGNORE NULLS), and first/nth over the full
    * frame anchor the series. Same one-exchange shape as every window
    * query — all five functions share one (partitionBy, orderBy) spec.
    */
  def q100WindowNavigation(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val grow = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_id") % 7 === 0, lit(null).cast(DoubleType))
          .otherwise(money(col("value"))).as("v"))
      .select(
        col("user_id"), col("event_id"), col("ts"), col("v"),
        last(col("v"), ignoreNulls = true).over(grow).as("locf"),
        lead(col("v"), 1, null, ignoreNulls = true).over(ord).as("next_obs"),
        first(col("v"), ignoreNulls = true).over(full).as("first_obs"),
        nth_value(col("v"), 2, ignoreNulls = true).over(full).as("second_obs"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val q100Oracle: String =
    """SELECT user_id, event_id, ts, v,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
      |  lead(v, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_obs,
      |  first_value(v IGNORE NULLS) OVER wf AS first_obs,
      |  nth_value(v, 2 IGNORE NULLS) OVER wf AS second_obs
      |FROM (SELECT user_id, event_id, ts,
      |        CASE WHEN event_id % 7 = 0 THEN NULL
      |             ELSE CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) END AS v
      |      FROM events)
      |WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id, ts, event_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q97_window_range_frame", q97WindowRangeFrame, q97Oracle),
    QuerySpec("q100_window_navigation", q100WindowNavigation, q100Oracle),
    QuerySpec("q14_window_rank", q14WindowRank, q14Oracle),
    QuerySpec("q15_window_lag", q15WindowLag, q15Oracle),
    QuerySpec("q16_window_running", q16WindowRunning, q16Oracle),
    QuerySpec("q17_topk_global", q17TopKGlobal, q17Oracle),
    QuerySpec("q18_topk_pergroup", q18TopKPerGroup, q18Oracle))
}
