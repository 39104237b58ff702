package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}

/** Relational-surface completeness (tier B1–B9 addenda): full outer join,
  * unpivot/melt, explicit grouping sets. The operators a user coming from
  * any SQL warehouse expects on day one; each is a one-shuffle shape with
  * the same broadcast/partial-agg posture as the core tier.
  */
object RelationalPlus {
  import Exact._

  /** FULL OUTER equi-join: customers from a nation slice against per-
    * customer order rollups — unmatched rows survive on BOTH sides (a
    * customer with no orders keeps null rollups; an order rollup whose
    * customer fell outside the slice keeps a null name). Same hash-join
    * shuffle shape as inner; null-extension is free.
    */
  def q87JoinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_nationkey") < 5)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val ords = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        out2(sum(dec2(col("o_totalprice")))).as("sum_total"))
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("c_nationkey"), col("n_orders"), col("sum_total"))
      .orderBy(col("custkey"))
  }

  val q87Oracle: String =
    """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
      |  c.c_name, c.c_nationkey, o.n_orders, o.sum_total
      |FROM (SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_nationkey < 5) c
      |FULL JOIN (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_total
      |  FROM orders GROUP BY o_custkey) o
      |  ON c.c_custkey = o.o_custkey
      |ORDER BY custkey""".stripMargin

  /** UNPIVOT (melt): the four lineitem measure columns into (metric,
    * value) rows — the wide→long reshape every feature pipeline needs.
    * Pure projection+generate over the scan: no shuffle at any scale.
    */
  def q88Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        variableColumnName = "metric",
        valueColumnName = "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  val q88Oracle: String =
    """SELECT l_orderkey, l_linenumber, metric, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  /** Explicit GROUPING SETS with a portable grouping id: per-priority,
    * per-status, and grand-total rows from ONE aggregation pass (the
    * rollup/cube generalization, B9). gid is composed from grouping()
    * bits — grouping_id() bit orders differ across engines, the manual
    * composition does not.
    */
  def q89GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        (grouping(col("o_orderpriority")) * 2 + grouping(col("o_orderstatus")))
          .cast("int").as("gid"),
        count(lit(1)).as("n"),
        out2(sum(dec2(col("o_totalprice")))).as("sum_total"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("gid"),
        col("n"), col("sum_total"))
      .orderBy(col("gid"), col("o_orderpriority"), col("o_orderstatus"))

  val q89Oracle: String =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INTEGER) AS gid,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** NULL-safe equi-join (`<=>`): keys where one priority class is nulled
    * out on BOTH sides still pair up — `NULL <=> NULL` is TRUE, where a
    * plain `=` join silently drops the whole null class (the classic
    * lost-rows bug when dimension keys carry nulls). Null-safe equality
    * is still hashable, so the join keeps the ordinary broadcast-hash
    * shape — no fallback to a nested-loop plan.
    */
  def q105NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    def key(c: org.apache.spark.sql.Column) =
      when(c === "3-MEDIUM", lit(null)).otherwise(c)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), key(col("o_orderpriority")).as("k"),
        col("o_totalprice"))
    val dim = orders.groupBy(col("k"))
      .agg((sum(dec2(col("o_totalprice"))).cast(DecimalType(38, 2)).cast(DoubleType)
        / count(lit(1))).as("k_avg"))
    orders.as("o").join(broadcast(dim.as("d")), col("o.k") <=> col("d.k"))
      .groupBy(col("o.k").as("k"))
      .agg(count(lit(1)).as("n_orders"), min(col("d.k_avg")).as("k_avg"))
      .orderBy(col("k").asc_nulls_first)
  }

  val q105Oracle: String =
    """WITH keyed AS (
      |  SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS k, o_totalprice
      |  FROM orders),
      |dim AS (
      |  SELECT k, CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE)
      |    / COUNT(*) AS k_avg
      |  FROM keyed GROUP BY k)
      |SELECT o.k, COUNT(*) AS n_orders, MIN(d.k_avg) AS k_avg
      |FROM keyed o JOIN dim d ON o.k IS NOT DISTINCT FROM d.k
      |GROUP BY o.k
      |ORDER BY o.k NULLS FIRST""".stripMargin

  /** SHARE-OF-PARENT HIERARCHY REPORT (q264) — the BI staple rollups
    * don't give you: each nation's revenue with its share of its REGION
    * and of the GRAND TOTAL, in exact ppm. Revenue flows orders →
    * customer → nation → region (broadcast dims); the region subtotal
    * broadcasts back onto its nations — two extra rows of exchange,
    * zero extra scans (ReusedExchange covers the re-aggregation).
    * Shares are integral divisions of integer cents: the report sums
    * audit exactly, no float drift between a nation and its parent.
    */
  def q264ShareOfParent(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val regTot = rev.groupBy(col("r_name")).agg(sum(col("cents")).as("r_cents"))
    val tot = rev.agg(sum(col("cents")).as("total"))
    rev.join(broadcast(regTot), "r_name")
      .crossJoin(broadcast(tot))
      .select(col("r_name"), col("n_name"), col("cents"),
        expr("""CAST(CAST(cents AS DECIMAL(38,0)) * 1000000
          | div r_cents AS BIGINT)""".stripMargin).as("share_of_region_ppm"),
        expr("""CAST(CAST(cents AS DECIMAL(38,0)) * 1000000
          | div total AS BIGINT)""".stripMargin).as("share_of_total_ppm"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q264Oracle: String =
    """WITH rev AS (
      |  SELECT r.r_name, n.n_name,
      |    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  GROUP BY r.r_name, n.n_name),
      |rt AS (SELECT r_name, CAST(SUM(cents) AS BIGINT) AS r_cents
      |       FROM rev GROUP BY r_name),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev)
      |SELECT rev.r_name, rev.n_name, rev.cents,
      |  CAST(CAST(cents AS HUGEINT) * 1000000 // rt.r_cents AS BIGINT)
      |    AS share_of_region_ppm,
      |  CAST(CAST(cents AS HUGEINT) * 1000000 // t.total AS BIGINT)
      |    AS share_of_total_ppm
      |FROM rev JOIN rt ON rt.r_name = rev.r_name
      |CROSS JOIN t
      |ORDER BY rev.r_name, rev.n_name""".stripMargin

  /** 2-D SKYLINE / PARETO FRONTIER (q296) — the parts no other part
    * strictly dominates on (price ↓ better, size ↑ better): x is dominated
    * iff some y has price ≤ AND size ≥ with at least one strict. The
    * classic multi-criteria operator (Börzsönyi et al.'s SKYLINE OF), here
    * in its monotone-scan form: sort by price ascending and a part is on
    * the frontier iff its size strictly exceeds every strictly-cheaper
    * part's size (and the best size at its own price point).
    *
    * Scale shape — the naive window (`ORDER BY price` unpartitioned) is a
    * single-partition global sort, so the scan is BLOCKED on value bands
    * (price div 10⁴, i.e. $100 bands): the running-max window runs PER
    * BAND (parallel, bounded by band occupancy), and the cross-band
    * correction is a cummax over the ≤ #bands-row frame of per-band size
    * maxima, broadcast back — the two-phase skyline-of-skylines merge.
    * Equal (price, size) twins are BOTH frontier (neither strictly
    * better). The oracle is a deliberately INDEPENDENT derivation — the
    * quadratic NOT-EXISTS dominance scan — so the blocked plan is checked
    * against the definition, not a re-implementation of itself.
    */
  def q296Skyline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size").cast(LongType).as("size"),
        (dec2(col("p_retailprice")) * 100).cast(LongType).as("price_cents"))
      .withColumn("band", expr("price_cents div 10000"))
    // phase 1, per band: best size at each price point, then the running
    // max over strictly-cheaper prices in the same band
    val perPrice = Window.partitionBy(col("band"), col("price_cents"))
    val inBand = Window.partitionBy(col("band")).orderBy(col("price_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val local = p
      .withColumn("best_at_price", max(col("size")).over(perPrice))
      .withColumn("prior_in_band", max(col("size")).over(inBand))
    // phase 2: per-band size maxima, cummax over strictly-lower bands
    val bandMax = p.groupBy(col("band")).agg(max(col("size")).as("bmax"))
    val bandPrior = bandMax.withColumn("prior_bands",
      max(col("bmax")).over(Window.orderBy(col("band"))
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("band"), col("prior_bands"))
    local.join(broadcast(bandPrior), "band")
      .filter(col("size") === col("best_at_price") &&
        (col("prior_in_band").isNull || col("size") > col("prior_in_band")) &&
        (col("prior_bands").isNull || col("size") > col("prior_bands")))
      .select(col("p_partkey"), col("price_cents"), col("size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  val q296Oracle: String =
    """WITH p AS (
      |  SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
      |    CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS price_cents
      |  FROM part)
      |SELECT x.p_partkey, x.price_cents, x.size
      |FROM p x
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p y
      |  WHERE y.price_cents <= x.price_cents AND y.size >= x.size
      |    AND (y.price_cents < x.price_cents OR y.size > x.size))
      |ORDER BY x.price_cents, x.p_partkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q296_skyline", q296Skyline, q296Oracle),
    QuerySpec("q264_share_of_parent", q264ShareOfParent, q264Oracle),
    QuerySpec("q105_null_safe_join", q105NullSafeJoin, q105Oracle),
    QuerySpec("q87_join_full_outer", q87JoinFullOuter, q87Oracle),
    QuerySpec("q88_unpivot", q88Unpivot, q88Oracle),
    QuerySpec("q89_grouping_sets", q89GroupingSets, q89Oracle))
}
