package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}

/** Shared decimal-exactness helpers for DuckDB-oracle parity (SURVEY.md §5).
  *
  *   - money-like doubles are cast to DECIMAL(12,2) before aggregation so
  *     sums are exact decimal arithmetic in both engines (no float
  *     summation-order drift);
  *   - averages are computed as cast(sum_decimal as double)/count — a single
  *     IEEE division of identical operands, hence bit-identical;
  *   - every query ends in an orderBy over a unique key (or aggregates to a
  *     fully-ordered low-cardinality result);
  *   - FINAL outputs are double, never decimal: the exact decimal result is
  *     pinned to DECIMAL(38,s) and then cast once to double in BOTH engines.
  *     A single IEEE cast of identical decimal operands is bit-identical,
  *     and a double output avoids representation drift in downstream
  *     readers (a decimal carries its scale — Decimal('5.70') — while other
  *     engines hand back the float 5.7; stringified or hashed, those
  *     diverge even though the values are equal).
  */
object Exact {
  val D2: DecimalType = DecimalType(12, 2) // money columns (2-dec doubles)
  val D1: DecimalType = DecimalType(5, 2)  // small rates: discount/tax in [0,1)

  def dec2(c: Column): Column = c.cast(D2)
  def rate(c: Column): Column = c.cast(D1)
  val one: Column = lit(1).cast(D1)
  def out2(c: Column): Column = c.cast(DecimalType(38, 2)).cast(DoubleType)
  def out4(c: Column): Column = c.cast(DecimalType(38, 4)).cast(DoubleType)
  def out6(c: Column): Column = c.cast(DecimalType(38, 6)).cast(DoubleType)
  /** Money source column as a final output: exact 2-dec decimal → double. */
  def money(c: Column): Column = dec2(c).cast(DoubleType)

  /** Sign-split integral division `a/b` (b > 0) as a SQL fragment: both
    * engines truncate TOWARD ZERO on the absolute value and re-sign, so
    * Spark's `div` (Java semantics) and DuckDB's `//` (floor semantics)
    * agree on negative numerators — q322's convention, ONE definition
    * (round-14 review: three drifting copies is how a sign bug ships). */
  def sdiv(a: String, b: String, op: String): String =
    s"(CASE WHEN ($a) >= 0 THEN ($a) $op ($b) ELSE -((-($a)) $op ($b)) END)"

  /** FLOOR division `⌊a/b⌋` (b > 0) as a Spark SQL fragment — matches
    * DuckDB's `//` on NEGATIVE numerators where Spark's `div` truncates
    * toward zero. For time bucketing (epoch µs → hour index) floor is
    * the correct semantic AND the oracle's native one. */
  def fdiv(a: String, b: String): String =
    s"((($a) div ($b)) - (CASE WHEN ($a) % ($b) != 0 AND ($a) < 0" +
      s" THEN 1 ELSE 0 END))"

  /** Float-seeded ±2-corrected integer square root of column `v`
    * (DECIMAL/BIGINT, ≥ 0) into LONG column `out` — the q320/q328
    * construction, ONE definition for every consumer (q328, q354, q357,
    * q365). Exact while √v·2⁻⁵⁴ ≤ 2 (v ≲ 1.3·10³³); beyond that engine
    * PARITY still holds because the oracle replays the identical seed +
    * cascade ([[isqrtSql]]). */
  def isqrtStage(v: String, out: String)(df: DataFrame): DataFrame = df
    .withColumn(s"__r0_$out",
      expr(s"CAST(FLOOR(SQRT(CAST($v AS DOUBLE))) AS BIGINT)"))
    .withColumn(out, greatest(lit(0L), col(s"__r0_$out") - 2 + expr(
      s"""CASE
         |  WHEN CAST(__r0_$out + 2 AS DECIMAL(38,0)) * (__r0_$out + 2)
         |    <= $v THEN 4L
         |  WHEN CAST(__r0_$out + 1 AS DECIMAL(38,0)) * (__r0_$out + 1)
         |    <= $v THEN 3L
         |  WHEN CAST(__r0_$out AS DECIMAL(38,0)) * __r0_$out <= $v THEN 2L
         |  WHEN CAST(__r0_$out - 1 AS DECIMAL(38,0)) * (__r0_$out - 1)
         |    <= $v THEN 1L
         |  ELSE 0L END""".stripMargin)))
    .drop(s"__r0_$out")

  /** DuckDB twin of [[isqrtStage]]'s correction cascade, given the seed
    * column `r0` (= FLOOR(SQRT(CAST(v AS DOUBLE)))) and the radicand
    * `v` — splice into the oracle after staging r0 in a CTE. */
  def isqrtSql(v: String, r0: String): String =
    s"""GREATEST(0, $r0 - 2 + CASE
       |      WHEN CAST($r0 + 2 AS HUGEINT) * ($r0 + 2) <= $v THEN 4
       |      WHEN CAST($r0 + 1 AS HUGEINT) * ($r0 + 1) <= $v THEN 3
       |      WHEN CAST($r0 AS HUGEINT) * $r0 <= $v THEN 2
       |      WHEN CAST($r0 - 1 AS HUGEINT) * ($r0 - 1) <= $v THEN 1
       |      ELSE 0 END)""".stripMargin
}

/** Tier-B relational operators: filters, projections, joins, aggregates
  * (SURVEY.md §2.B B1–B9).
  *
  * Scale posture (100 TB): dimension joins are broadcast, fact-fact joins
  * shuffle on their equi-keys (sort-merge under AQE), every aggregation is
  * partial map-side by construction, and filters/projections sit directly on
  * the parquet scan so pushdown + pruning apply. Nothing collects to the
  * driver.
  */
object Relational {
  import Exact._

  /** B7 hash aggregate — TPC-H Q1-shaped pricing summary. Filter pushed to
    * the parquet scan; 6-row result, so the shuffle is negligible at any
    * scale.
    */
  def q01Pricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        out2(sum(dec2(col("l_quantity")))).as("sum_qty"),
        out2(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
        out4(sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount")))))
          .as("sum_disc_price"),
        out6(sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount")))
            * (one + rate(col("l_tax"))))).as("sum_charge"),
        (sum(dec2(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2))) * (CAST(1 AS DECIMAL(5,2)) + CAST(l_tax AS DECIMAL(5,2)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** B1 predicates: range, LIKE, IN, null-safety — all pushed into the
    * parquet scan (`PushedFilters` in explain).
    */
  def q02FilterPredicates(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(
        col("o_totalprice").between(1000, 200000) &&
        col("o_orderpriority").like("%URGENT%") &&
        col("o_orderstatus").isin("O", "F") &&
        col("o_custkey").isNotNull)
      .select(
        col("o_orderkey"), col("o_custkey"),
        money(col("o_totalprice")).as("total"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  val q02Oracle: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total, o_orderpriority
      |FROM orders
      |WHERE o_totalprice BETWEEN 1000 AND 200000
      |  AND o_orderpriority LIKE '%URGENT%'
      |  AND o_orderstatus IN ('O','F')
      |  AND o_custkey IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  /** B2 computed-column projection; stays inside one codegen stage. */
  def q03Projection(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        out4(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .as("revenue"),
        concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("flag_status"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q03Oracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
      |  l_returnflag || '/' || l_linestatus AS flag_status
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** B3+B4 multi-way inner equi-join with broadcast dimensions.
    * customer⋈orders is the big shuffle join; nation/region are broadcast
    * (tiny dims) so they add NO shuffle — exactly the plan wanted at 100 TB.
    */
  def q04JoinInner(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin("ASIA", "EUROPE"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        out2(sum(dec2(col("o_totalprice")))).as("total_rev"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q04Oracle: String =
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_rev
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name IN ('ASIA','EUROPE')
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** B3 left outer join — customers kept even with zero orders. */
  def q05JoinLeft(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        out2(coalesce(sum(dec2(col("o_totalprice"))), lit(0))).as("total_spent"))
      .orderBy(col("c_custkey"))

  val q05Oracle: String =
    """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
      |  CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DECIMAL(38,2)) AS DOUBLE) AS total_spent
      |FROM customer
      |LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin

  /** B5 left-semi join (EXISTS) — the probe side streams, no row
    * duplication, build side reduced to distinct keys.
    */
  def q06JoinSemi(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 48)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), money(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderkey"))
  }

  val q06Oracle: String =
    """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
      |ORDER BY o_orderkey""".stripMargin

  /** B5 left-anti join (NOT EXISTS) — the upsert-core operator (SURVEY A15).
    * Customers with no large order: the filter makes the build side small,
    * so the anti-join does real work at every scale factor.
    */
  def q07JoinAnti(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    Tables.customer(spark, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q07Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** B6 range join with an equi component: per purchase event, count clicks
    * by the same user in the preceding 10 minutes. The user_id equi-key
    * makes this a sort-merge join with the time range as a join filter —
    * scalable (no BNLJ) because the range only applies within a key group.
    */
  def q08JoinRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    purchases
      .join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("ts"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("c_user")).as("n_recent_clicks"))
      .orderBy(col("event_id"))
  }

  val q08Oracle: String =
    """SELECT p.event_id, p.user_id, COUNT(c.user_id) AS n_recent_clicks
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin

  /** B7 multi-key aggregate with min/max/avg. */
  def q09AggMultiKey(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        out2(sum(dec2(col("o_totalprice")))).as("sum_total"),
        out2(min(dec2(col("o_totalprice")))).as("min_total"),
        out2(max(dec2(col("o_totalprice")))).as("max_total"),
        (sum(dec2(col("o_totalprice"))).cast(DoubleType) / count(lit(1))).as("avg_total"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  val q09Oracle: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_total,
      |  CAST(CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS min_total,
      |  CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS max_total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_total
      |FROM orders
      |GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** B8 exact distinct aggregation. Spark expands COUNT(DISTINCT) into a
    * two-phase aggregate (partial per key+value, then merge) — no
    * all-to-one-node bottleneck at scale.
    */
  def q10AggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  val q10Oracle: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** B8 approximate distinct (HyperLogLog++) — THE 100 TB cardinality
    * operator: fixed-size sketch, single reduce. The sketch value itself is
    * implementation-specific, so the gate emits the EXACT count (which the
    * DuckDB oracle recomputes) plus an in-query `within_bounds` check of
    * the sketch against it (≤5% = 2.5σ at rsd 0.02) that the oracle expects
    * to be literally TRUE — a full oracle gate, sketch noise notwithstanding.
    */
  def q11AggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      // pre-aggregate to distinct (flag, partkey) pairs FIRST: the single
      // countDistinct/approx pair over raw rows plans an Expand (2× every
      // input row) before the shuffle, while this shape dedups map-side and
      // shuffles each distinct pair once. HLL is duplicate-insensitive, so
      // the sketch over distinct pairs is the identical estimate
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("exact_parts"))
      .select(
        col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("within_bounds"))
      .orderBy(col("l_returnflag"))

  val q11Oracle: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS within_bounds
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** B9 rollup: subtotals per status, grand total. Grouping flags pinned to
    * INT in both engines; NULLS FIRST ordering pinned (DuckDB defaults to
    * NULLS LAST, Spark to NULLS FIRST).
    */
  def q12Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
        grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"),
        count(lit(1)).as("n"),
        out2(sum(dec2(col("o_totalprice")))).as("sum_total"))
      .orderBy(
        col("g_status"), col("g_priority"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val q12Oracle: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_total
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** B9 cube: all grouping-set combinations. */
  def q13Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
        grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"),
        count(lit(1)).as("n"))
      .orderBy(
        col("g_status"), col("g_priority"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val q13Oracle: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_agg_pricing", q01Pricing, q01Oracle),
    QuerySpec("q02_filter_predicates", q02FilterPredicates, q02Oracle),
    QuerySpec("q03_projection", q03Projection, q03Oracle),
    QuerySpec("q04_join_inner", q04JoinInner, q04Oracle),
    QuerySpec("q05_join_left", q05JoinLeft, q05Oracle),
    QuerySpec("q06_join_semi", q06JoinSemi, q06Oracle),
    QuerySpec("q07_join_anti", q07JoinAnti, q07Oracle),
    QuerySpec("q08_join_range", q08JoinRange, q08Oracle),
    QuerySpec("q09_agg_multikey", q09AggMultiKey, q09Oracle),
    QuerySpec("q10_agg_distinct", q10AggDistinct, q10Oracle),
    QuerySpec("q11_agg_approx_distinct", q11AggApproxDistinct, q11Oracle),
    QuerySpec("q12_rollup", q12Rollup, q12Oracle),
    QuerySpec("q13_cube", q13Cube, q13Oracle))
}
