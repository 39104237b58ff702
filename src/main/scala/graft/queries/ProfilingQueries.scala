package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QuerySpec, Tables}

/** Data-profiling operators — the discovery passes a data platform runs
  * against tables it did NOT design: which functional dependencies
  * actually hold, and which declared foreign keys actually resolve. Both
  * are metadata-sized outputs derived from full scans, the profile-once
  * / consult-forever shape.
  */
object ProfilingQueries {
  import Exact.{sdiv, isqrtStage}


  /** FD candidates for q229: (table, determinant, dependent). Mixes
    * dependencies that genuinely hold in TPC-H-shaped data (key → any
    * column) with ones expected to FAIL (customer → order status) so the
    * output demonstrates discrimination, not rubber-stamping.
    */
  val FdCandidates: Seq[(String, String, String)] = Seq(
    ("nation",   "n_nationkey", "n_name"),
    ("nation",   "n_name",      "n_regionkey"),
    ("orders",   "o_orderkey",  "o_orderstatus"),
    ("orders",   "o_custkey",   "o_orderstatus"),
    ("customer", "c_custkey",   "c_nationkey"),
    ("lineitem", "l_orderkey",  "l_returnflag"))

  /** FUNCTIONAL-DEPENDENCY DISCOVERY (q229) — for each candidate
    * determinant → dependent pair: how many determinant keys exist, how
    * many map to MORE than one dependent value (violations), and the
    * verdict. The profiling pass schema-inference, dedup-key selection
    * and normalization decisions all start from; a violated "FD" with
    * few offenders is usually a data-quality bug, one with many is a
    * modeling error.
    *
    * Scale shape: per candidate one (det → countDistinct(dep)) hash-agg
    * then a metadata-sized rollup; candidates union afterwards. Nothing
    * joins, nothing is all-pairs — checking an FD is exactly one
    * aggregation no matter the table size.
    */
  def q229FdDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val checks = FdCandidates.map { case (t, det, dep) =>
      Tables.load(spark, dir, t)
        .groupBy(col(det)).agg(countDistinct(col(dep)).as("ndep"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("ndep") > 1, 1L).otherwise(0L)).as("n_violating_keys"))
        .select(lit(t).as("table_name"), lit(det).as("determinant"),
          lit(dep).as("dependent"), col("n_keys"), col("n_violating_keys"),
          (col("n_violating_keys") === 0L).as("holds"))
    }
    checks.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("determinant"), col("dependent"))
  }

  val q229Oracle: String = {
    val parts = FdCandidates.map { case (t, det, dep) =>
      s"""SELECT '$t' AS table_name, '$det' AS determinant,
         |  '$dep' AS dependent,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating_keys,
         |  SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT $det, COUNT(DISTINCT $dep) AS ndep
         |      FROM $t GROUP BY $det)""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n",
      "\nORDER BY table_name, determinant, dependent")
  }

  /** Declared foreign-key relationships for q230:
    * (child table, fk column, parent table, pk column). */
  val FkRelationships: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey",  "orders",   "o_orderkey"),
    ("lineitem", "l_partkey",   "part",     "p_partkey"),
    ("lineitem", "l_suppkey",   "supplier", "s_suppkey"),
    ("orders",   "o_custkey",   "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation",   "n_nationkey"),
    ("supplier", "s_nationkey", "nation",   "n_nationkey"),
    ("nation",   "n_regionkey", "region",   "r_regionkey"))

  /** Orphan audit for ONE relationship: child rows whose fk resolves to
    * no parent pk. Left-anti join — broadcast when the parent is
    * dimension-sized, shuffle otherwise; Catalyst picks per stats.
    * Factored out so the spec can prove detection on planted orphans.
    */
  private[graft] def riOrphans(
      child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame = {
    val orphans = child.select(col(fk).as("k"))
      .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
    orphans.agg(
      count(lit(1)).as("n_orphan_rows"),
      countDistinct(col("k")).as("n_orphan_keys"))
  }

  /** REFERENTIAL-INTEGRITY AUDIT (q230) — every declared FK relationship
    * checked for orphans in one report: child row count, orphan rows,
    * distinct orphan keys, verdict. On intact TPC-H-shaped data all
    * counts are zero — "all green" IS the expected, still fully
    * verified, output; the spec proves the detector fires by planting
    * orphans through [[riOrphans]]. This is the gate a lakehouse runs
    * after every load, before exposing a snapshot.
    *
    * Scale shape: one anti-join per relationship (the child scan
    * dominates; parent sides broadcast when small), 1-row aggregates
    * crossJoined with the child count — output is |relationships| rows.
    */
  def q230RiAudit(spark: SparkSession, dir: String): DataFrame = {
    val checks = FkRelationships.map { case (ct, fk, pt, pk) =>
      val child = Tables.load(spark, dir, ct)
      val nChild = child.agg(count(lit(1)).as("n_child_rows"))
      riOrphans(child, fk, Tables.load(spark, dir, pt), pk)
        .crossJoin(nChild)
        .select(lit(ct).as("child_table"), lit(fk).as("fk_column"),
          lit(pt).as("parent_table"), lit(pk).as("pk_column"),
          col("n_child_rows"), col("n_orphan_rows"), col("n_orphan_keys"),
          (col("n_orphan_rows") === 0L).as("intact"))
    }
    checks.reduce(_ unionByName _)
      .orderBy(col("child_table"), col("fk_column"))
  }

  val q230Oracle: String = {
    val parts = FkRelationships.map { case (ct, fk, pt, pk) =>
      s"""SELECT '$ct' AS child_table, '$fk' AS fk_column,
         |  '$pt' AS parent_table, '$pk' AS pk_column,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ct) AS n_child_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_orphan_rows,
         |  CAST(COUNT(DISTINCT c.$fk) AS BIGINT) AS n_orphan_keys,
         |  COUNT(*) = 0 AS intact
         |FROM $ct c
         |WHERE NOT EXISTS (SELECT 1 FROM $pt p WHERE p.$pk = c.$fk)""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY child_table, fk_column")
  }

  /** Benford first-digit probabilities log₁₀(1+1/d), d = 1..9, in ppm —
    * fixed constants, so no log crosses the engines. */
  val BenfordPpm: Seq[Long] = Seq(
    301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  /** BENFORD FIRST-DIGIT AUDIT (q234) — the classic synthetic-data /
    * fraud tell: real multiplicative quantities follow Benford's law,
    * uniform generators don't. Audited column: o_totalprice. The first
    * significant digit comes from integer-cents STRING arithmetic
    * (CAST(round(p·100) AS BIGINT) → first char) — identical in both
    * engines, where float log₁₀ would wobble at exact powers of ten.
    * Output per digit: count, observed frequency (ppm), the Benford
    * expectation (fixed ppm constants), and the absolute deviation —
    * the fixture's uniform-ish prices SHOULD deviate hard, and the
    * audit proves it with exact numbers.
    *
    * Scale shape: one scan → 9-row hash-agg → constant lookup. Nothing
    * downstream of the aggregate scales with data.
    */
  def q234BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val benford = spark.createDataFrame(
      BenfordPpm.zipWithIndex.map { case (p, i) => (i + 1L, p) })
      .toDF("digit", "benford_ppm")
    val obs = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 0)
      .select(substring(
        expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
        1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum(col("n")).as("n_total"))
    obs.join(broadcast(benford), Seq("digit"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div n_total AS BIGINT)")
          .as("observed_ppm"),
        col("benford_ppm"))
      .withColumn("dev_ppm", abs(col("observed_ppm") - col("benford_ppm")))
      .orderBy(col("digit"))
  }

  val q234Oracle: String = {
    val vals = BenfordPpm.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    s"""WITH obs AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM orders WHERE o_totalprice > 0
       |  GROUP BY 1),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM obs),
       |bf(digit, benford_ppm) AS (VALUES $vals)
       |SELECT obs.digit, obs.n,
       |  CAST(CAST(n AS HUGEINT) * 1000000 // n_total AS BIGINT) AS observed_ppm,
       |  CAST(benford_ppm AS BIGINT) AS benford_ppm,
       |  abs(CAST(CAST(n AS HUGEINT) * 1000000 // n_total AS BIGINT)
       |    - benford_ppm) AS dev_ppm
       |FROM obs JOIN bf ON bf.digit = obs.digit
       |CROSS JOIN t
       |ORDER BY obs.digit""".stripMargin
  }

  /** Column constraints for q235: (table, rule_id, SQL predicate that
    * must hold). The predicate strings are the shared vocabulary —
    * Spark and DuckDB evaluate the SAME text. */
  val ColumnConstraints: Seq[(String, String, String)] = Seq(
    ("lineitem", "qty_positive",      "l_quantity > 0"),
    ("lineitem", "discount_unit",     "l_discount >= 0 AND l_discount <= 1"),
    ("lineitem", "price_positive",    "l_extendedprice > 0"),
    ("lineitem", "tax_nonnegative",   "l_tax >= 0"),
    ("lineitem", "shipdate_present",  "l_shipdate IS NOT NULL"),
    ("orders",   "totalprice_positive", "o_totalprice > 0"),
    ("orders",   "orderdate_present",   "o_orderdate IS NOT NULL"))

  /** DATA-CONTRACT CONSTRAINT AUDIT (q235) — declarative expectations
    * (great-expectations shape) over the fact tables: each rule is a SQL
    * predicate evaluated over its table in ONE pass per table (all of a
    * table's rules ride the same scan as conditional sums), reported as
    * rows checked / violations / verdict. The rule text travels in the
    * output so the report is self-describing — a failed audit names its
    * predicate, not a rule number someone greps for.
    *
    * Scale shape: one scan per table regardless of rule count; output is
    * |rules| rows.
    */
  def q235ConstraintAudit(spark: SparkSession, dir: String): DataFrame = {
    val byTable = ColumnConstraints.groupBy(_._1)
    val parts = byTable.toSeq.sortBy(_._1).map { case (t, rules) =>
      val aggs = rules.map { case (_, id, pred) =>
        sum(when(expr(pred), 0L).otherwise(1L)).as(s"v_$id") }
      val base = Tables.load(spark, dir, t)
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
      rules.map { case (_, id, pred) =>
        base.select(lit(t).as("table_name"), lit(id).as("rule_id"),
          lit(pred).as("predicate"), col("n_rows"),
          col(s"v_$id").as("n_violations"),
          (col(s"v_$id") === 0L).as("passes"))
      }.reduce(_ unionByName _)
    }
    parts.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("rule_id"))
  }

  val q235Oracle: String = {
    val parts = ColumnConstraints.map { case (t, id, pred) =>
      s"""SELECT '$t' AS table_name, '$id' AS rule_id,
         |  '${pred.replace("'", "''")}' AS predicate,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_violations,
         |  SUM(CASE WHEN $pred THEN 0 ELSE 1 END) = 0 AS passes
         |FROM $t""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, rule_id")
  }

  /** JOIN FAN-OUT PROFILE (q245) — per declared FK relationship, the
    * children-per-parent distribution: min / max / exact mean (ppm) and
    * the childless-parent count. This is the statistic that predicts
    * join blowup BEFORE the join runs — a max fan-out of 10⁶ on a key
    * you're about to join twice is the 100 TB incident, and AQE can
    * only mitigate what profiling should have caught. Reuses q230's
    * [[FkRelationships]] declaration so the two audits cannot drift.
    *
    * Scale shape: per relationship one child-side count-by-key and a
    * parent left-join (childless parents need the parent scan);
    * output is |relationships| rows.
    */
  def q245JoinFanout(spark: SparkSession, dir: String): DataFrame = {
    val checks = FkRelationships.map { case (ct, fk, pt, pk) =>
      val counts = Tables.load(spark, dir, ct)
        .groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))
      Tables.load(spark, dir, pt).select(col(pk).as("k"))
        .join(counts, Seq("k"), "left")
        .select(coalesce(col("c"), lit(0L)).as("c"))
        .agg(count(lit(1)).as("n_parents"),
          sum(when(col("c") === 0L, 1L).otherwise(0L)).as("n_childless"),
          min(col("c")).as("min_fanout"),
          max(col("c")).as("max_fanout"),
          sum(col("c")).as("n_children"))
        .select(lit(ct).as("child_table"), lit(fk).as("fk_column"),
          lit(pt).as("parent_table"),
          col("n_parents"), col("n_childless"),
          col("min_fanout"), col("max_fanout"),
          expr("""CAST(CAST(n_children AS DECIMAL(38,0)) * 1000000
            | div n_parents AS BIGINT)""".stripMargin).as("mean_fanout_ppm"))
    }
    checks.reduce(_ unionByName _)
      .orderBy(col("child_table"), col("fk_column"))
  }

  val q245Oracle: String = {
    val parts = FkRelationships.map { case (ct, fk, pt, pk) =>
      s"""SELECT '$ct' AS child_table, '$fk' AS fk_column,
         |  '$pt' AS parent_table,
         |  CAST(COUNT(*) AS BIGINT) AS n_parents,
         |  CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_childless,
         |  CAST(MIN(c) AS BIGINT) AS min_fanout,
         |  CAST(MAX(c) AS BIGINT) AS max_fanout,
         |  CAST(CAST(SUM(c) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
         |    AS mean_fanout_ppm
         |FROM (
         |  SELECT COALESCE(cc.c, 0) AS c
         |  FROM $pt p LEFT JOIN (
         |    SELECT $fk AS k, CAST(COUNT(*) AS BIGINT) AS c
         |    FROM $ct GROUP BY $fk) cc
         |  ON cc.k = p.$pk)""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY child_table, fk_column")
  }

  /** EQUI-DEPTH HISTOGRAM PROFILE (q248) — the optimizer-statistics
    * histogram: o_totalprice cut into 16 equal-depth buckets (q149's
    * exact rule over the distributed prefix-sum rank — no one-partition
    * window), each reporting its row count, exact value span, and
    * distinct-value count. Equi-depth is what cost models want —
    * equal-width buckets collapse under skew. Ties on the value break
    * by o_orderkey so both engines cut identically; bucket counts are
    * ±1-balanced by construction.
    *
    * Scale shape: one range exchange for the rank, a 16-row rollup.
    */
  def q248EquidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("one", lit(1L)).withColumn("g", lit(0))
    val ranked = graft.functions.PrefixSum.runningTotal(
      o, Seq("g"), Seq(col("o_totalprice").asc, col("o_orderkey").asc),
      "one", "rk")
    val tot = o.agg(count(lit(1)).as("n_rows"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr("((rk - 1) * 16) div n_rows"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        countDistinct(col("o_totalprice")).as("ndv"))
      .orderBy(col("bucket"))
  }

  val q248Oracle: String =
    """WITH r AS (
      |  SELECT o_totalprice,
      |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
      |    COUNT(*) OVER () AS n_rows
      |  FROM orders)
      |SELECT ((rk - 1) * 16) // n_rows AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(o_totalprice) AS lo,
      |  MAX(o_totalprice) AS hi,
      |  CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS ndv
      |FROM r
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Linear-counting lookup for q251: est_lc(v) = round(m·ln(m/v)) for
    * v empty registers, m = 256. ln is transcendental, but v has only
    * 256 possible values — so the correction ships as a FIXED integer
    * table both engines index, and no float crosses the gate. v = 0
    * never consults the table (the raw path handles a full sketch).
    */
  val LcTable: IndexedSeq[Long] =
    (0 to 256).map(v =>
      if (v == 0) -1L else math.round(256.0 * math.log(256.0 / v)))

  /** DETERMINISTIC HYPERLOGLOG (q251) — the mergeable cardinality
    * sketch, built from scratch on md5 so the DuckDB oracle replays
    * every register: p = 8 (256 registers), register = the hash's first
    * 2 hex digits, ρ = position of the first set bit in the next 56
    * (57 − bitlength, via the engines' shared exact binary-string
    * length — no float log anywhere), raw estimate = α·m²·2⁵⁰ over
    * Z_scaled = Σ 2^(50−min(ρmax,50)) with α as a fixed ppm constant,
    * and the textbook SMALL-RANGE branch: when registers are empty and
    * the raw estimate is ≤ 5m/2, linear counting m·ln(m/empty) takes
    * over — via the integer [[LcTable]], because the raw formula
    * over-reads 7× at n ≪ m and a sketch without its correction is a
    * demo, not an operator. Spark's own approx_count_distinct (q11) is
    * opaque to an external oracle; THIS sketch is the auditable twin —
    * per source it reports the estimate, the branch taken, the exact
    * distinct count, and the error in ppm, so the accuracy contract is
    * itself gate-checked.
    *
    * Scale shape: one (source, register) max-ρ aggregate (map-side
    * combine — the sketch IS the combiner), then a 256-row-per-source
    * rollup. The estimate never touches the corpus again.
    */
  /** The sketch itself, factored over (frame, group column, value
    * expression) so the spec can drive the RAW branch through a
    * high-cardinality synthetic column (the fixture's 25-distinct
    * sources all take the linear-counting branch).
    */
  private[graft] def hllSketch(df: DataFrame, groupCol: String,
      valueSql: String): DataFrame = {
    val regs = df
      .select(col(groupCol).as("source"),
        expr(s"CAST(conv(substring(md5($valueSql), 1, 2), 16, 10) AS BIGINT)")
          .as("reg"),
        expr(s"CAST(conv(substring(md5($valueSql), 3, 14), 16, 10) AS BIGINT)")
          .as("v"))
      .withColumn("rho", expr(
        "CASE WHEN v = 0 THEN 57L ELSE 57L - length(conv(v, 10, 2)) END"))
      .groupBy(col("source"), col("reg"))
      .agg(max(col("rho")).as("rho_max"))
    regs.groupBy(col("source"))
      .agg(count(lit(1)).as("m_hit"),
        sum(expr("shiftleft(1L, CAST(50 - least(rho_max, 50L) AS INT))"))
          .as("z_hit"))
      // 256 − m_hit empty registers each contribute 2^50 to Z
      .withColumn("z_scaled",
        col("z_hit") + (lit(256L) - col("m_hit")) * expr("shiftleft(1L, 50)"))
      .withColumn("raw_est", expr(
        """CAST(CAST(718273 AS DECIMAL(38,0)) * 65536
          | * CAST(shiftleft(1L, 50) AS DECIMAL(38,0))
          | div (CAST(z_scaled AS DECIMAL(38,0)) * 1000000) AS BIGINT)"""
          .stripMargin))
      .withColumn("lc_est", element_at(
        typedLit(LcTable), (lit(256L) - col("m_hit")).cast("int") + 1))
      .withColumn("use_lc",
        col("m_hit") < 256L && col("raw_est") <= 640L)
      .withColumn("hll_est",
        when(col("use_lc"), col("lc_est")).otherwise(col("raw_est")))
  }

  def q251HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val est = hllSketch(Tables.documents(spark, dir), "source", "text")
    val exact = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(countDistinct(col("text")).as("n_exact"))
    est.join(exact, "source")
      .select(col("source"), col("m_hit"), col("hll_est"), col("use_lc"),
        col("n_exact"),
        expr("abs(hll_est - n_exact) * 1000000L div n_exact").as("err_ppm"))
      .orderBy(col("source"))
  }

  val q251Oracle: String = {
    val lcVals = LcTable.zipWithIndex
      .map { case (e, v) => s"($v, $e)" }.mkString(", ")
    s"""WITH r AS (
       |  SELECT source,
       |    CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) AS reg,
       |    CAST('0x' || substr(md5(text), 3, 14) AS BIGINT) AS v,
       |    text
       |  FROM documents),
       |rr AS (
       |  SELECT source, reg,
       |    MAX(CASE WHEN v = 0 THEN 57
       |        ELSE 57 - length(bin(v)) END) AS rho_max
       |  FROM r GROUP BY source, reg),
       |e AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS m_hit,
       |    CAST(SUM(1 << (50 - least(rho_max, 50))) AS BIGINT) AS z_hit
       |  FROM rr GROUP BY source),
       |z AS (
       |  SELECT source, m_hit,
       |    z_hit + (256 - m_hit) * (CAST(1 AS BIGINT) << 50) AS z_scaled
       |  FROM e),
       |lc(v, est) AS (VALUES $lcVals),
       |est AS (
       |  SELECT z.source, z.m_hit,
       |    CAST(CAST(718273 AS HUGEINT) * 65536 * (CAST(1 AS HUGEINT) << 50)
       |      // (CAST(z_scaled AS HUGEINT) * 1000000) AS BIGINT) AS raw_est,
       |    CAST(lc.est AS BIGINT) AS lc_est
       |  FROM z JOIN lc ON lc.v = 256 - z.m_hit),
       |fin AS (
       |  SELECT source, m_hit,
       |    m_hit < 256 AND raw_est <= 640 AS use_lc,
       |    CASE WHEN m_hit < 256 AND raw_est <= 640
       |      THEN lc_est ELSE raw_est END AS hll_est
       |  FROM est),
       |x AS (SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact
       |      FROM documents GROUP BY source)
       |SELECT fin.source, fin.m_hit, fin.hll_est, fin.use_lc, x.n_exact,
       |  CAST(abs(fin.hll_est - x.n_exact) * 1000000 // x.n_exact AS BIGINT)
       |    AS err_ppm
       |FROM fin JOIN x ON x.source = fin.source
       |ORDER BY fin.source""".stripMargin
  }

  /** EXACT GINI COEFFICIENT (q252) — inequality of order value per
    * order priority: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    * ascending-sorted integer cents, emitted ×10⁶ by integral division.
    * Concentration screens (q244's HHI) measure share-of-categories;
    * Gini measures share-of-mass across the whole distribution — the
    * "do 1% of orders carry 50% of revenue" audit. Ranks come from the
    * distributed prefix-sum scaffold partitioned by priority (no
    * one-partition window); the rank-weighted sum promotes to
    * DECIMAL(38,0) so Σi·xᵢ survives any corpus size.
    *
    * Scale shape: one range exchange per the scaffold, then a
    * |priority|-row rollup.
    */
  def q252GiniValue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .withColumn("one", lit(1L))
    val ranked = graft.functions.PrefixSum.runningTotal(
      o, Seq("priority"), Seq(col("cents").asc, col("o_orderkey").asc),
      "one", "rk")
    ranked.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum(expr("CAST(rk AS DECIMAL(38,0)) * cents")).as("s1"))
      .select(col("priority"), col("n"), col("sum_cents"),
        expr("""CAST((2 * s1 - CAST(n + 1 AS DECIMAL(38,0)) * sum_cents)
          | * 1000000 div (CAST(n AS DECIMAL(38,0)) * sum_cents) AS BIGINT)"""
          .stripMargin).as("gini_ppm"))
      .orderBy(col("priority"))
  }

  val q252Oracle: String =
    """WITH r AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
      |      AS rk
      |  FROM orders)
      |SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST((2 * CAST(SUM(CAST(rk AS HUGEINT) * cents) AS HUGEINT)
      |    - CAST(COUNT(*) + 1 AS HUGEINT) * SUM(cents)) * 1000000
      |    // (CAST(COUNT(*) AS HUGEINT) * SUM(cents)) AS BIGINT) AS gini_ppm
      |FROM r
      |GROUP BY priority
      |ORDER BY priority""".stripMargin

  /** ABC CLASSIFICATION (q262) — the inventory-analysis classic: rank
    * parts by lineitem revenue (integer cents), classify A = the parts
    * carrying the first 80% of cumulative revenue, B = to 95%, C = the
    * tail, by exact cross-multiplied comparisons (cum·100 ≤ total·80 —
    * the boundary part that CROSSES 80% belongs to A, standard ABC
    * convention via cum_before). Reports each class's part count and
    * exact revenue share. Gini (q252) says HOW unequal; ABC says WHICH
    * keys to manage.
    *
    * Scale shape: one revenue hash-agg, one prefix-sum rank exchange,
    * a 3-row rollup.
    */
  def q262AbcClasses(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
      .withColumn("g", lit(0))
    val ranked = graft.functions.PrefixSum.runningTotal(
      rev, Seq("g"), Seq(col("cents").desc, col("l_partkey").asc),
      "cents", "cum")
    val tot = rev.agg(sum(col("cents")).as("total"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("cum_before", col("cum") - col("cents"))
      .withColumn("cls", expr(
        """CASE WHEN cum_before * 100 < total * 80 THEN 'A'
          |     WHEN cum_before * 100 < total * 95 THEN 'B'
          |     ELSE 'C' END""".stripMargin))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("cents")).as("class_cents"))
      .crossJoin(broadcast(tot))
      .select(col("cls"), col("n_parts"),
        expr("""CAST(CAST(class_cents AS DECIMAL(38,0)) * 1000000
          | div total AS BIGINT)""".stripMargin).as("share_ppm"))
      .orderBy(col("cls"))
  }

  val q262Oracle: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM lineitem GROUP BY l_partkey),
      |r AS (
      |  SELECT l_partkey, cents,
      |    SUM(cents) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
      |  FROM rev),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev),
      |c AS (
      |  SELECT CASE WHEN COALESCE(cum_before, 0) * 100 < total * 80 THEN 'A'
      |              WHEN COALESCE(cum_before, 0) * 100 < total * 95 THEN 'B'
      |              ELSE 'C' END AS cls,
      |    cents
      |  FROM r CROSS JOIN t)
      |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(CAST(SUM(cents) AS HUGEINT) * 1000000
      |    // (SELECT total FROM t) AS BIGINT) AS share_ppm
      |FROM c
      |GROUP BY cls
      |ORDER BY cls""".stripMargin

  /** CROSS-TABLE FINANCIAL RECONCILIATION (q263) — does the order header
    * total agree with its lines? Recompute Σ extendedprice·(1−disc)·
    * (1+tax) per order in integer micro-cents cents·10⁴ (each factor
    * has ≤ 2 decimals, so the triple product is EXACT at 10⁸ scale —
    * cents·(100−d·100)·(100+t·100)), compare against o_totalprice at
    * the same scale, and report: orders checked, orders without lines,
    * mismatches beyond a 1-cent tolerance, and the worst absolute
    * discrepancy. The close-the-books audit; on this synthetic fixture
    * the totals are INDEPENDENT random numbers, so the audit must
    * find near-universal mismatch — and prove it with exact numbers.
    */
  def q263Reconciliation(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        expr("""CAST(round(l_extendedprice * 100) AS BIGINT)
          | * (100 - CAST(round(l_discount * 100) AS BIGINT))
          | * (100 + CAST(round(l_tax * 100) AS BIGINT))""".stripMargin)
          .as("line_u"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("line_u")).as("lines_u"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        (expr("CAST(round(o_totalprice * 100) AS BIGINT)") * 10000L)
          .as("header_u"))
      .join(lines.withColumnRenamed("l_orderkey", "o_orderkey"),
        Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("header_u"), col("lines_u"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("lines_u").isNull, 1L).otherwise(0L)).as("n_lineless"),
        sum(when(col("lines_u").isNotNull &&
          abs(col("header_u") - col("lines_u")) > 10000L, 1L).otherwise(0L))
          .as("n_mismatched"),
        max(when(col("lines_u").isNotNull,
          abs(col("header_u") - col("lines_u")))).as("max_abs_diff_u"))
  }

  val q263Oracle: String =
    """WITH lines AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |      * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT)
      |      AS lines_u
      |  FROM lineitem GROUP BY l_orderkey),
      |j AS (
      |  SELECT o.o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) * 10000 AS header_u,
      |    lines.lines_u
      |  FROM orders o LEFT JOIN lines ON lines.l_orderkey = o.o_orderkey)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN lines_u IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_lineless,
      |  CAST(SUM(CASE WHEN lines_u IS NOT NULL
      |    AND abs(header_u - lines_u) > 10000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_mismatched,
      |  CAST(MAX(CASE WHEN lines_u IS NOT NULL
      |    THEN abs(header_u - lines_u) END) AS BIGINT) AS max_abs_diff_u
      |FROM j""".stripMargin

  /** Candidate keys for q267: (table, comma-joined column list). Mixes
    * true keys with expected non-keys — including TPC-H's canonical
    * (l_orderkey, l_linenumber) composite, which this SYNTHETIC
    * generator does not honor: the audit discovering that is the
    * point of running it against tables you did not design. */
  val KeyCandidates: Seq[(String, Seq[String])] = Seq(
    ("orders",   Seq("o_orderkey")),
    ("orders",   Seq("o_custkey")),
    ("lineitem", Seq("l_orderkey")),
    ("lineitem", Seq("l_orderkey", "l_linenumber")),
    ("events",   Seq("event_id")),
    ("events",   Seq("user_id", "ts")),
    ("customer", Seq("c_custkey")))

  /** CANDIDATE-KEY DISCOVERY (q267) — which column sets actually
    * identify rows: per candidate, row count, distinct count, the
    * duplicate-key count, and the verdict. The upstream question for
    * every dedup, upsert, and CDC design (q255's merge is only correct
    * if its key IS a key). One count-distinct aggregate per candidate,
    * output is |candidates| rows.
    */
  def q267KeyDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val checks = KeyCandidates.map { case (t, cols) =>
      val df = Tables.load(spark, dir, t)
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(struct(cols.map(col): _*)).as("n_distinct"))
        .select(lit(t).as("table_name"),
          lit(cols.mkString(",")).as("key_columns"),
          col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dup_rows"),
          (col("n_rows") === col("n_distinct")).as("is_key"))
    }
    checks.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("key_columns"))
  }

  val q267Oracle: String = {
    val parts = KeyCandidates.map { case (t, cols) =>
      // ROW(...) on BOTH arities: DuckDB's COUNT(DISTINCT (c)) for a bare
      // single column skips NULL rows, while Spark's countDistinct(struct(c))
      // counts the NULL key as a distinct value (the struct itself is never
      // null). ROW(c) is non-null too, so both sides price a NULL key the
      // same way — and event_id (an audited candidate) does carry NULLs.
      val tuple = cols.mkString("ROW(", ", ", ")")
      s"""SELECT '$t' AS table_name, '${cols.mkString(",")}' AS key_columns,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(DISTINCT $tuple) AS BIGINT) AS n_distinct,
         |  CAST(COUNT(*) - COUNT(DISTINCT $tuple) AS BIGINT) AS n_dup_rows,
         |  COUNT(*) = COUNT(DISTINCT $tuple) AS is_key
         |FROM $t""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, key_columns")
  }

  /** PER-SOURCE WINSORIZED QUALITY PROFILE (q272) — robust source
    * comparison: per source, document token counts are rank-winsorized at
    * p10/p90 (values below the rank-⌈n/10⌉ doc clip up to it, above the
    * mirror rank clip down) and the raw vs winsorized means are reported
    * side by side. The robust mean is the one that survives a source
    * whose tail is a few megadocs or a flood of empties — exactly the
    * outliers that make raw per-source averages lie. Rank-based cuts
    * (not interpolated percentiles) keep every number integer-exact:
    * rn = row_number over (nw, doc_id), lo at rn = ⌈n/10⌉, hi at its
    * mirror — both engines replay the identical rule.
    *
    * Scale shape: one corpus scan; the rank window partitions by source
    * (high cardinality keys shuffle once); cuts are a |source|-row
    * aggregate broadcast back for the clipped re-aggregate. No joins
    * beyond the broadcast.
    */
  def q272WinsorizedQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("nw"))
    val ranked = base
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("nw"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    val cuts = ranked.groupBy(col("source")).agg(
      max(when(col("rn") === expr("(n + 9) div 10"), col("nw"))).as("lo_cut"),
      max(when(col("rn") === expr("n - (n + 9) div 10 + 1"), col("nw")))
        .as("hi_cut"),
      count(lit(1)).as("n_docs"),
      sum(col("nw")).as("sum_raw"))
    val wins = ranked.join(broadcast(cuts.select(col("source"),
        col("lo_cut"), col("hi_cut"))), "source")
      .withColumn("w", greatest(col("lo_cut"),
        least(col("hi_cut"), col("nw"))))
      .groupBy(col("source")).agg(sum(col("w")).as("sum_wins"))
    cuts.join(wins, "source")
      .select(col("source"), col("n_docs"), col("lo_cut"), col("hi_cut"),
        col("sum_raw"), col("sum_wins"),
        expr("sum_raw * 1000 div n_docs").as("mean_raw_milli"),
        expr("sum_wins * 1000 div n_docs").as("mean_wins_milli"))
      .orderBy(col("source"))
  }

  val q272Oracle: String =
    """WITH b AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nw
      |  FROM documents),
      |r AS (
      |  SELECT source, nw,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY nw, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM b),
      |c AS (
      |  SELECT source,
      |    MAX(CASE WHEN rn = (n + 9) // 10 THEN nw END) AS lo_cut,
      |    MAX(CASE WHEN rn = n - (n + 9) // 10 + 1 THEN nw END) AS hi_cut,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(nw) AS BIGINT) AS sum_raw
      |  FROM r GROUP BY source),
      |w AS (
      |  SELECT r.source,
      |    CAST(SUM(GREATEST(c.lo_cut, LEAST(c.hi_cut, r.nw))) AS BIGINT)
      |      AS sum_wins
      |  FROM r JOIN c USING (source) GROUP BY r.source)
      |SELECT c.source, n_docs, lo_cut, hi_cut, sum_raw, sum_wins,
      |  sum_raw * 1000 // n_docs AS mean_raw_milli,
      |  sum_wins * 1000 // n_docs AS mean_wins_milli
      |FROM c JOIN w USING (source)
      |ORDER BY c.source""".stripMargin

  /** PARTITION-LAYOUT / SMALL-FILES ADVISOR (q277) — the write-side
    * planning pass a 100 TB pipeline runs BEFORE a partitioned write:
    * for each would-be partition (event day here), the estimated bytes
    * under a fixed per-row width model (8 B per numeric column + the
    * actual event_type chars + 8 B row overhead — a deterministic stand-in
    * for parquet's encoded size so both engines agree exactly), the file
    * count at a 128 MiB target, and the two verdicts that drive layout
    * changes: `small` (partition under 16 MiB — the small-files problem:
    * merge partitions or coarsen the key) and `skewed` (partition over
    * 8× the mean — split the key or salt the write). Metadata-sized
    * output from one scan + one aggregate; the totals cross in as a
    * 1-row broadcast.
    */
  def q277LayoutAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        (lit(40L) + length(col("event_type"))).as("row_bytes"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("row_bytes")).as("est_bytes"))
    val tot = per.agg(sum(col("est_bytes")).as("total_bytes"),
      count(lit(1)).as("n_parts"))
    per.crossJoin(broadcast(tot))
      .select(col("day"), col("n_rows"), col("est_bytes"),
        expr("(est_bytes + 134217727) div 134217728").as("files_128mb"),
        (col("est_bytes") < 16777216L).as("small"),
        (col("est_bytes") * col("n_parts") > col("total_bytes") * 8L)
          .as("skewed"))
      .orderBy(col("day"))
  }

  val q277Oracle: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(40 + length(event_type)) AS BIGINT) AS est_bytes
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(SUM(est_bytes) AS BIGINT) AS total_bytes,
      |        CAST(COUNT(*) AS BIGINT) AS n_parts FROM per)
      |SELECT day, n_rows, est_bytes,
      |  (est_bytes + 134217727) // 134217728 AS files_128mb,
      |  est_bytes < 16777216 AS small,
      |  est_bytes * n_parts > total_bytes * 8 AS skewed
      |FROM per CROSS JOIN t
      |ORDER BY day NULLS FIRST""".stripMargin

  /** Columns audited by q281 — high-cardinality keys an optimizer's
    * cardinality estimator cares about, plus a low-cardinality control
    * (event_type) whose f-profile is all-tail.
    */
  val FreqProfileColumns: Seq[(String, String)] = Seq(
    ("orders",    "o_custkey"),
    ("lineitem",  "l_partkey"),
    ("events",    "user_id"),
    ("events",    "event_type"),
    ("documents", "source"))

  /** FREQUENCY-OF-FREQUENCIES PROFILE + CHAO1 (q281) — the statistic
    * optimizer statistics are made of: per column, how many distinct
    * values occur exactly once (f1), twice (f2), … five times, and the
    * Chao1 lower bound on TRUE distinct cardinality,
    * D + f1·(f1−1)/(2·(f2+1)) in exact integer arithmetic — the
    * estimator a profiler runs on a SAMPLE to predict how many unseen
    * values remain (f1 ≈ mass still undiscovered). A column whose f1
    * dominates is sample-starved; one with f1 = 0 has been seen in
    * full. The f-profile is also the input to Good-Turing smoothing and
    * to distinct-count error models — this materializes it exactly.
    *
    * Scale shape: per column one value-keyed count aggregate (map-side
    * combined) re-aggregated to a single row — the two-level profile
    * pass; output is |columns| rows.
    */
  def q281FreqProfile(spark: SparkSession, dir: String): DataFrame = {
    val checks = FreqProfileColumns.map { case (t, c) =>
      val vc = Tables.load(spark, dir, t)
        .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      vc.agg(
          count(lit(1)).as("n_distinct"),
          sum(col("cnt")).as("n_rows"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"),
          sum(when(col("cnt") === 3, 1L).otherwise(0L)).as("f3"),
          sum(when(col("cnt") === 4, 1L).otherwise(0L)).as("f4"),
          sum(when(col("cnt") === 5, 1L).otherwise(0L)).as("f5"))
        .select(lit(t).as("table_name"), lit(c).as("column_name"),
          col("n_rows"), col("n_distinct"),
          col("f1"), col("f2"), col("f3"), col("f4"), col("f5"),
          expr("n_distinct + f1 * (f1 - 1) div (2 * (f2 + 1))")
            .as("chao1_lb"))
    }
    checks.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("column_name"))
  }

  val q281Oracle: String = {
    val parts = FreqProfileColumns.map { case (t, c) =>
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |  CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         |  CAST(SUM(CASE WHEN cnt = 3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
         |  CAST(SUM(CASE WHEN cnt = 4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
         |  CAST(SUM(CASE WHEN cnt = 5 THEN 1 ELSE 0 END) AS BIGINT) AS f5,
         |  CAST(COUNT(*)
         |    + SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
         |      * (SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1)
         |      // (2 * (SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + 1))
         |    AS BIGINT) AS chao1_lb
         |FROM (SELECT $c, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM $t GROUP BY $c)""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n",
      "\nORDER BY table_name, column_name")
  }

  /** TEMPORAL CONSISTENCY AUDIT (q288) — the cross-table ORDER-OF-EVENTS
    * check referential integrity (q230) cannot express: a line item must
    * not ship before its order exists. Per order year: line count,
    * violations (l_shipdate < o_orderdate), the violation rate in exact
    * ppm, and the worst lead in days. Like q267's composite-key finding,
    * the audit DISCOVERS a real fixture property — this generator draws
    * ship dates independently of order dates, so ~half of all lines
    * "ship early" — which is exactly the report's job: measure, not
    * assume. On TPC-H-conformant data the violation columns read zero
    * and the audit certifies the invariant.
    *
    * Scale shape: one orderkey-keyed equi-join (both sides shuffle once
    * on the same key) into a ~|year|-row aggregate.
    */
  def q288TemporalAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_lineitems"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .as("n_violations"),
        max(when(col("l_shipdate") < col("o_orderdate"),
          datediff(col("o_orderdate"), col("l_shipdate")))).cast("long")
          .as("worst_lead_days"))
      .withColumn("violation_ppm",
        expr("n_violations * 1000000L div n_lineitems"))
      .orderBy(col("order_year"))

  val q288Oracle: String =
    """SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS order_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_lineitems,
      |  CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_violations,
      |  CAST(MAX(CASE WHEN l.l_shipdate < o.o_orderdate
      |    THEN date_diff('day', CAST(l.l_shipdate AS DATE),
      |                   CAST(o.o_orderdate AS DATE)) END) AS BIGINT)
      |    AS worst_lead_days,
      |  CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // COUNT(*) AS violation_ppm
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1
      |ORDER BY order_year""".stripMargin

  /** K-ANONYMITY RISK AUDIT (q287) — the STRUCTURAL privacy check the
    * pattern-based PII passes (q79/q163) cannot make: even with every
    * name and number scrubbed, a row whose quasi-identifier combination
    * — here (nation, market segment, account-balance bucket) — is
    * shared by fewer than k=5 customers is re-identifiable by linkage.
    * The report is the equivalence-class SIZE HISTOGRAM: for each class
    * size, how many classes and rows sit there, flagged at_risk below
    * k — the curve a release decision reads (generalize the bucket,
    * suppress the tail, or publish). Balance buckets via floor()
    * (CAST on decimals ROUNDS in DuckDB but truncates in Spark — floor
    * is the portable choice at negative balances).
    *
    * Scale shape: one QI-keyed aggregate (map-side combined) re-keyed
    * by class size — two shuffles on shrinking cardinalities, output
    * |distinct sizes| rows.
    */
  def q287KAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .select(col("class_size"), col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_rows"),
        (col("class_size") < 5).as("at_risk"))
      .orderBy(col("class_size"))

  val q287Oracle: String =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
      |    CAST(COUNT(*) AS BIGINT) AS class_size
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT class_size,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
      |  class_size < 5 AS at_risk
      |FROM cls GROUP BY class_size
      |ORDER BY class_size""".stripMargin

  /** GOOD-TURING FREQUENCY RE-ESTIMATES (q290) — q281's f-profile put to
    * work: the Good-Turing adjusted count r* = (r+1)·f_{r+1}/f_r for the
    * low ranks (scaled to milli-units, exact integer division) and the
    * UNSEEN-probability mass P₀ = f₁/N in exact ppm — the number
    * Katz-backoff and every add-k-vs-discount debate is about. A column
    * whose p0_ppm is high is still discovering values (schedule a fuller
    * scan before trusting its distinct count); r*₁ far below 2·f₂/f₁'s
    * naive expectation signals a heavy singleton tail. Ranks whose f_r
    * is 0 report NULL (the estimator is undefined there, and both
    * engines say so identically).
    *
    * Scale shape: identical to q281 — per column one value-keyed count
    * aggregate re-aggregated to a single row.
    */
  def q290GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val checks = FreqProfileColumns.map { case (t, c) =>
      val vc = Tables.load(spark, dir, t)
        .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      vc.agg(
          sum(col("cnt")).as("n_rows"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"),
          sum(when(col("cnt") === 3, 1L).otherwise(0L)).as("f3"),
          sum(when(col("cnt") === 4, 1L).otherwise(0L)).as("f4"))
        .select(lit(t).as("table_name"), lit(c).as("column_name"),
          col("n_rows"), col("f1"),
          expr("f1 * 1000000L div n_rows").as("p0_ppm"),
          expr("CASE WHEN f1 > 0 THEN 2 * f2 * 1000 div f1 END")
            .as("rstar1_milli"),
          expr("CASE WHEN f2 > 0 THEN 3 * f3 * 1000 div f2 END")
            .as("rstar2_milli"),
          expr("CASE WHEN f3 > 0 THEN 4 * f4 * 1000 div f3 END")
            .as("rstar3_milli"))
    }
    checks.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("column_name"))
  }

  val q290Oracle: String = {
    val parts = FreqProfileColumns.map { case (t, c) =>
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // CAST(SUM(cnt) AS BIGINT) AS p0_ppm,
         |  CASE WHEN SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) > 0 THEN
         |    CAST(2 * SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) * 1000
         |      // SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) END
         |    AS rstar1_milli,
         |  CASE WHEN SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) > 0 THEN
         |    CAST(3 * SUM(CASE WHEN cnt = 3 THEN 1 ELSE 0 END) * 1000
         |      // SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) END
         |    AS rstar2_milli,
         |  CASE WHEN SUM(CASE WHEN cnt = 3 THEN 1 ELSE 0 END) > 0 THEN
         |    CAST(4 * SUM(CASE WHEN cnt = 4 THEN 1 ELSE 0 END) * 1000
         |      // SUM(CASE WHEN cnt = 3 THEN 1 ELSE 0 END) AS BIGINT) END
         |    AS rstar3_milli
         |FROM (SELECT $c, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM $t GROUP BY $c)""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n",
      "\nORDER BY table_name, column_name")
  }

  /** JOIN-CARDINALITY ESTIMATION AUDIT (q302) — how far the optimizer's
    * uniformity assumption is from the truth, per histogram bucket: for
    * the l_partkey self-equi-join (the shape behind "parts ordered
    * together" co-occurrence and every key-skew blow-up), each 128-key
    * band reports the textbook estimate n²/ndv (every key assumed to
    * hold n/ndv rows — what a cost model computes from an equi-width
    * histogram) against the EXACT join cardinality Σₖ n(k)², computed
    * from per-key counts WITHOUT materializing a single joined row. By
    * Cauchy–Schwarz Σn(k)² ≥ (Σn(k))²/ndv, so the estimate only ever
    * UNDERSHOOTS — `underest_ppm` is the per-band price of assuming
    * uniformity, the number that tells you which key ranges need a
    * histogram refresh (or salting) before the planner trusts them.
    *
    * Scale shape: ONE keyed count aggregate (map-side combine) over one
    * scan, then a band-keyed aggregate over the ndv-sized count frame —
    * no join executes anywhere, which is the audit's point: exact join
    * cardinality for any equi-join is a second-moment statistic of the
    * per-key histogram, corpus-sized work only in the first aggregate.
    * DECIMAL(38,0) promotion on both squares: n² passes 2⁶³ at ~3·10⁹
    * rows per band, well inside 100 TB reality.
    */
  def q302JoinCardEstimate(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("c"))
    perKey
      .withColumn("band", expr("k div 128"))
      .groupBy(col("band"))
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("ndv"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("actual_d"))
      .select(col("band"), col("n_rows"), col("ndv"),
        expr("CAST(CAST(n_rows AS DECIMAL(38,0)) * n_rows div ndv AS BIGINT)")
          .as("est_rows"),
        col("actual_d").cast(LongType).as("actual_rows"),
        expr("""CAST((CAST(actual_d AS DECIMAL(38,0))
          | - CAST(n_rows AS DECIMAL(38,0)) * n_rows div ndv) * 1000000
          | div actual_d AS BIGINT)""".stripMargin).as("underest_ppm"))
      .orderBy(col("band"))
  }

  val q302Oracle: String =
    """WITH pk AS (
      |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT k // 128 AS band,
      |    CAST(SUM(c) AS BIGINT) AS n_rows,
      |    CAST(COUNT(*) AS BIGINT) AS ndv,
      |    SUM(CAST(c AS HUGEINT) * c) AS actual_d
      |  FROM pk GROUP BY 1)
      |SELECT band, n_rows, ndv,
      |  CAST(CAST(n_rows AS HUGEINT) * n_rows // ndv AS BIGINT) AS est_rows,
      |  CAST(actual_d AS BIGINT) AS actual_rows,
      |  CAST((actual_d - CAST(n_rows AS HUGEINT) * n_rows // ndv) * 1000000
      |    // actual_d AS BIGINT) AS underest_ppm
      |FROM b
      |ORDER BY band""".stripMargin

  /** KMV DISTINCT SKETCH (q310) — the ORDER-STATISTICS cardinality
    * estimator beside q251's register-based HLL: hash every distinct
    * (source, token) onto a 60-bit grid, keep only the k = 64 SMALLEST
    * distinct hash values per source, and estimate distinct count from
    * how deep into the hash space the k-th minimum sits:
    * est = (k−1)·M div h_(k) with M = 2⁶⁰. KMV is what engines use when
    * sketches must support set operations HLL can't (union = merge the
    * min-sets, intersection via inclusion–exclusion on the combined
    * k-th minimum), and its error contract is gate-checked here the
    * same way q251's is: estimate, exact, and err_ppm side by side.
    * A source with fewer than k distinct hashes saturates the sketch —
    * the min-set IS the population and the estimate is exact by
    * construction (the branch is part of the operator, like q251's
    * linear-counting branch).
    *
    * Hashes ride md5's first 15 hex digits (60 bits, positive in both
    * engines), so the DuckDB oracle replays every min-set member.
    *
    * Scale shape: the k-smallest selection runs on the custom
    * [[graft.plans.GroupTopK]] heap operator (q62's) — one exchange,
    * bounded per-source heaps, NO per-source sort; the estimator then
    * works on k rows per source. The distinct pre-aggregate is the
    * same (source, term) frame every profiling pass shares.
    */
  def q310KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val hashes = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .select(col("source"),
        expr("CAST(conv(substring(md5(term), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct()
    val mins = graft.plans.GroupTopK.topKPerGroup(
      hashes.withColumn("neg_h", -col("h")),
      keyCols = Seq("source"),
      orderDescCol = "neg_h",
      tieAscCol = "h",
      k = 64)
    val sketch = mins.groupBy(col("source"))
      .agg(count(lit(1)).as("n_retained"), max(col("h")).as("kth_min"))
    val exact = hashes.groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"))
    sketch.join(exact, "source")
      .select(col("source"), col("n_retained"), col("kth_min"),
        col("n_exact"),
        when(col("n_retained") < 64, col("n_retained"))
          .otherwise(expr(
            "CAST(CAST(63 AS DECIMAL(38,0)) * 1152921504606846976" +
              " div kth_min AS BIGINT)")).as("kmv_est"))
      .withColumn("err_ppm",
        expr("abs(kmv_est - n_exact) * 1000000L div n_exact"))
      .orderBy(col("source"))
  }

  val q310Oracle: String =
    """WITH h AS (
      |  SELECT DISTINCT source,
      |    CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
      |  FROM (SELECT source,
      |          unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents)),
      |r AS (
      |  SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM h),
      |s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_retained,
      |    CAST(MAX(h) AS BIGINT) AS kth_min
      |  FROM r WHERE rn <= 64 GROUP BY source),
      |e AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM h
      |  GROUP BY source),
      |est AS (
      |  SELECT s.source, n_retained, kth_min, n_exact,
      |    CASE WHEN n_retained < 64 THEN n_retained
      |      ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976
      |        // kth_min AS BIGINT) END AS kmv_est
      |  FROM s JOIN e ON e.source = s.source)
      |SELECT source, n_retained, kth_min, n_exact, kmv_est,
      |  abs(kmv_est - n_exact) * 1000000 // n_exact AS err_ppm
      |FROM est
      |ORDER BY source""".stripMargin

  /** EXACT TWO-SAMPLE KOLMOGOROV–SMIRNOV DISTANCE (q319) — the
    * sup-norm statistic q157's decile screen approximates: D =
    * max over all values of |F_a(x) − F_b(x)| between two ingest
    * batches (the deterministic order-key parity split, q157's
    * convention), computed WITHOUT floats: the ECDFs are compared
    * cross-multiplied — |cum_a·n_b − cum_b·n_a| — so the max, its
    * location, and the ppm statistic are engine-exact. The 95%
    * rejection verdict squares the numerator against
    * c²·(n_a+n_b)·n_a·n_b with c² = 1.843881 scaled to ppm (exact in
    * DECIMAL(38,0) up to ~10¹⁶ sample-size products — any realistic
    * corpus; the oracle's HUGEINT is exact further still).
    *
    * Scale shape: one value-keyed aggregate collapses the corpus to
    * the distinct-cents frame; both cumulative counts ride the
    * distributed two-pass prefix sum (range exchange — no
    * one-partition window); the max and its argmin location are a
    * 1-row aggregate broadcast back. Output is ONE row.
    */
  def q319KsDistance(spark: SparkSession, dir: String): DataFrame = {
    val byv = Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        (col("o_orderkey") % 2).as("par"))
      .groupBy(col("cents"))
      .agg(sum(when(col("par") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("par") === 1, 1L).otherwise(0L)).as("cb"))
    val cum = graft.functions.PrefixSum.runningTotal(
      graft.functions.PrefixSum.runningTotal(
        byv.withColumn("g", lit("all")),
        Seq("g"), Seq(col("cents").asc), "ca", "cum_a"),
      Seq("g"), Seq(col("cents").asc), "cb", "cum_b")
    val nn = byv.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val diffs = cum.crossJoin(broadcast(nn))
      .withColumn("d_num", abs(
        expr("CAST(cum_a AS DECIMAL(38,0)) * n_b")
          - expr("CAST(cum_b AS DECIMAL(38,0)) * n_a")))
    val dmax = diffs.agg(max(col("d_num")).as("d_max"))
    diffs.join(broadcast(dmax), col("d_num") === col("d_max"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(min(col("cents")).as("at_cents"),
        max(col("d_num")).as("dm"))
      .select(col("n_a"), col("n_b"), col("at_cents"),
        expr("CAST(dm * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b) " +
          "AS BIGINT)").as("ks_ppm"),
        expr("""CAST(CASE WHEN dm * dm * 1000000 >
          |  1843881 * CAST(n_a + n_b AS DECIMAL(38,0)) * n_a * n_b
          |  THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_95"))
  }

  val q319Oracle: String =
    """WITH byv AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM orders GROUP BY 1),
      |cum AS (
      |  SELECT cents,
      |    SUM(ca) OVER (ORDER BY cents) AS cum_a,
      |    SUM(cb) OVER (ORDER BY cents) AS cum_b
      |  FROM byv),
      |nn AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM byv),
      |d AS (
      |  SELECT cents,
      |    ABS(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a)
      |      AS d_num, n_a, n_b
      |  FROM cum CROSS JOIN nn),
      |mx AS (SELECT MAX(d_num) AS d_max FROM d)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  MIN(cents) AS at_cents,
      |  CAST(MAX(d_num) * 1000000 // (CAST(n_a AS HUGEINT) * n_b)
      |    AS BIGINT) AS ks_ppm,
      |  CAST(CASE WHEN MAX(d_num) * MAX(d_num) * 1000000 >
      |    1843881 * CAST(n_a + n_b AS HUGEINT) * n_a * n_b
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM d CROSS JOIN mx
      |WHERE d_num = d_max
      |GROUP BY n_a, n_b""".stripMargin

  /** MANN–WHITNEY RANK-SUM AUDIT (q322) — the nonparametric
    * one-source-vs-rest location test the q319 KS sup-norm complements:
    * for every source, is its document-length distribution shifted
    * against the remaining corpus? U counts cross-pairs won; kept
    * doubled (u2 = 2·U) so midrank ties stay integral:
    *   u2(s) = Σ_v a_s(v) · (2·B_below(v) + B_eq(v))
    * with B = complement counts at the length value v. The effect size
    * is the rank-biserial r = u2/(n_a·n_b) − 1, reported sign-split as
    * ppm (truncate-toward-zero on |r| then re-sign, so Spark's `div`
    * and DuckDB's `//` agree on negatives).
    *
    * Scale shape: the corpus collapses onto the distinct-length axis
    * per source (one hash-agg); both cumulatives ride the distributed
    * two-pass prefix sum ([[graft.functions.PrefixSum]] — the global
    * one on a single group over the value axis, the per-source one
    * range-partitioned by source); the complement's cumulative is
    * DERIVED (global − own) rather than joined all-pairs, so no
    * source×source blow-up. Output is one row per source.
    */
  def q322MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hist = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("a"))
    val gv = hist.groupBy(col("v")).agg(sum(col("a")).as("g"))
    val cumG = graft.functions.PrefixSum.runningTotal(
      gv.withColumn("all", lit("all")),
      Seq("all"), Seq(col("v").asc), "g", "cumg").drop("all")
    val cumA = graft.functions.PrefixSum.runningTotal(
      hist, Seq("source"), Seq(col("v").asc), "a", "cuma")
    val joined = cumA.join(cumG, "v")
    val perSource = joined.groupBy(col("source"))
      .agg(
        sum(expr("""CAST(a AS DECIMAL(38,0)) *
          (2 * ((cumg - g) - (cuma - a)) + (g - a))""")).as("u2_dec"),
        sum(col("a")).as("n_a"))
    val nTot = hist.agg(sum(col("a")).as("n")) // 1 row
    perSource.crossJoin(broadcast(nTot))
      .select(col("source"), col("n_a"),
        (col("n") - col("n_a")).as("n_b"),
        col("u2_dec").cast(LongType).as("u2"),
        expr("""CAST(CASE WHEN u2_dec >= CAST(n_a AS DECIMAL(38,0)) * (n - n_a)
          |  THEN  (u2_dec - CAST(n_a AS DECIMAL(38,0)) * (n - n_a)) * 1000000
          |        div (CAST(n_a AS DECIMAL(38,0)) * (n - n_a))
          |  ELSE -((CAST(n_a AS DECIMAL(38,0)) * (n - n_a) - u2_dec) * 1000000
          |        div (CAST(n_a AS DECIMAL(38,0)) * (n - n_a)))
          |END AS BIGINT)""".stripMargin).as("rb_ppm"))
      .orderBy(col("source"))
  }

  val q322Oracle: String =
    """WITH a AS (
      |  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS a
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT v, CAST(SUM(a) AS BIGINT) AS g FROM a GROUP BY 1),
      |cg AS (SELECT v, g, SUM(g) OVER (ORDER BY v) AS cumg FROM g),
      |ca AS (SELECT source, v, a,
      |         SUM(a) OVER (PARTITION BY source ORDER BY v) AS cuma
      |       FROM a),
      |j AS (SELECT ca.source, ca.a, ca.cuma, cg.g, cg.cumg
      |      FROM ca JOIN cg ON ca.v = cg.v),
      |u AS (SELECT source,
      |        SUM(CAST(a AS HUGEINT) *
      |          (2 * ((cumg - g) - (cuma - a)) + (g - a))) AS u2h,
      |        CAST(SUM(a) AS BIGINT) AS n_a
      |      FROM j GROUP BY 1),
      |nn AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM a)
      |SELECT source, n_a, n - n_a AS n_b, CAST(u2h AS BIGINT) AS u2,
      |  CAST(CASE WHEN u2h >= CAST(n_a AS HUGEINT) * (n - n_a)
      |    THEN  (u2h - CAST(n_a AS HUGEINT) * (n - n_a)) * 1000000
      |          // (CAST(n_a AS HUGEINT) * (n - n_a))
      |    ELSE -((CAST(n_a AS HUGEINT) * (n - n_a) - u2h) * 1000000
      |          // (CAST(n_a AS HUGEINT) * (n - n_a)))
      |  END AS BIGINT) AS rb_ppm
      |FROM u CROSS JOIN nn
      |ORDER BY source""".stripMargin

  /** WALD–WOLFOWITZ RUNS TEST (q327) — the sequence-randomness check
    * that completes the two-sample battery (q319 KS = distribution
    * shape, q322 MWU = location, this = interleaving): sort both ingest
    * batches (the q319 order-key parity split) into ONE deterministic
    * total order by (cents, order key) and count maximal same-batch
    * runs. Far fewer runs than the null mean 1 + 2n₁n₂/n means the
    * batches occupy separate value bands; far more means systematic
    * alternation. Everything is cross-multiplied integers: with
    * diff = R·n − (n + 2n₁n₂) and Vnum = 2n₁n₂(2n₁n₂ − n), the 95%
    * verdict is diff²·(n−1)·10⁶ > 3 841 600·Vnum (z² = 1.96²), exact in
    * DECIMAL(38,0) to ~10¹⁵ rows per side. Ties across batches are
    * resolved by the order-key tiebreak — the documented engine
    * convention (the classical test assumes no ties; the deterministic
    * total order makes the statistic well-defined and engine-exact).
    *
    * Scale shape: the global sequence position rides the distributed
    * two-pass prefix sum (range exchange, no one-partition window);
    * run boundaries come from an equi-join of the ranked frame against
    * itself on rn = rn−1 (uniform Long key, perfectly balanced);
    * everything after is a 1-row aggregate. Output is ONE row.
    */
  def q327RunsTest(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderkey").as("oid"),
        (col("o_orderkey") % 2).as("par"))
      .withColumn("one", lit(1L))
      .withColumn("g", lit("all"))
    val ranked = graft.functions.PrefixSum.runningTotal(
      base, Seq("g"), Seq(col("cents").asc, col("oid").asc), "one", "rn")
      .select(col("rn"), col("par"))
    val bounds = ranked
      .join(ranked.select((col("rn") + 1).as("rn"), col("par").as("prev_par")),
        "rn")
      .agg(sum(when(col("par") =!= col("prev_par"), 1L).otherwise(0L))
        .as("n_bounds"))
    val nn = base.agg(
      sum(when(col("par") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("par") === 1, 1L).otherwise(0L)).as("n2"))
    bounds.crossJoin(broadcast(nn))
      .select(col("n1"), col("n2"), (col("n_bounds") + 1).as("runs"))
      .select(col("n1"), col("n2"), col("runs"),
        expr("""CAST((n1 + n2 + 2 * CAST(n1 AS DECIMAL(38,0)) * n2) * 1000000
          div (n1 + n2) AS BIGINT)""").as("runs_exp_ppm"),
        expr("""CAST(CASE WHEN
          |  CAST(runs * (n1 + n2) -
          |    (n1 + n2 + 2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS DECIMAL(38,0))
          |  * (runs * (n1 + n2) -
          |    (n1 + n2 + 2 * CAST(n1 AS DECIMAL(38,0)) * n2))
          |  * (n1 + n2 - 1) * 1000000 >
          |  3841600 * (2 * CAST(n1 AS DECIMAL(38,0)) * n2)
          |    * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - (n1 + n2))
          |THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_95"))
  }

  val q327Oracle: String =
    """WITH base AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderkey AS oid, o_orderkey % 2 AS par
      |  FROM orders),
      |ranked AS (
      |  SELECT par, row_number() OVER (ORDER BY cents, oid) AS rn
      |  FROM base),
      |b AS (
      |  SELECT CAST(SUM(CASE WHEN r.par <> p.par THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_bounds
      |  FROM ranked r JOIN ranked p ON p.rn = r.rn - 1),
      |nn AS (
      |  SELECT CAST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM base)
      |SELECT n1, n2, n_bounds + 1 AS runs,
      |  CAST((n1 + n2 + 2 * CAST(n1 AS HUGEINT) * n2) * 1000000
      |    // (n1 + n2) AS BIGINT) AS runs_exp_ppm,
      |  CAST(CASE WHEN
      |    CAST((n_bounds + 1) * (n1 + n2) -
      |      (n1 + n2 + 2 * CAST(n1 AS HUGEINT) * n2) AS HUGEINT)
      |    * ((n_bounds + 1) * (n1 + n2) -
      |      (n1 + n2 + 2 * CAST(n1 AS HUGEINT) * n2))
      |    * (n1 + n2 - 1) * 1000000 >
      |    3841600 * (2 * CAST(n1 AS HUGEINT) * n2)
      |      * (2 * CAST(n1 AS HUGEINT) * n2 - (n1 + n2))
      |  THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM b CROSS JOIN nn""".stripMargin

  /** SPEARMAN RANK CORRELATION, TIE-AWARE (q328) — per source, the
    * monotone association between document length in characters and in
    * tokens: the nonparametric complement to q226's Pearson covariance
    * (rank correlation survives the heavy-tailed length distributions a
    * web corpus actually has, where one 10 MB page dominates a Pearson
    * moment). Ties get MIDRANKS, kept integral by doubling:
    *   r2(v) = 2·cum(v) − c(v) + 1   (= 2× the average rank over the tie)
    * Pearson on the doubled midranks is then exact integer moments:
    *   num = n·Σxy − Σx·Σy,  dx = n·Σxx − Σx²,  dy = n·Σyy − Σy²
    * and ρ_ppm = sign-split num·10⁶ div (isqrt(dx)·isqrt(dy)) with the
    * q320 float-seeded ±2-corrected integer sqrt — so both engines land
    * on the identical truncated ppm (isqrt(dx)·isqrt(dy) ≠ isqrt(dx·dy),
    * but BOTH sides compute the same expression, and keeping the sqrts
    * separate bounds each operand under DECIMAL(38,0): dx,dy ≤ 4n⁴ stays
    * representable to n ≈ 4·10⁹ docs/source, vs n ≤ 4·10⁴ if the product
    * were rooted. The float-seeded ±2 isqrt correction guarantees the
    * TRUE integer sqrt only while sqrt(dx)·2⁻⁵⁴ ≤ 2, i.e. dx ≲ 1.3·10³³
    * — n ≈ 4·10⁸ docs/source; beyond that the seed can drift outside the
    * ±2 cascade, but ENGINE PARITY survives arbitrarily far: both sides
    * seed from the same correctly-rounded double sqrt of the same
    * integer and apply the same correction, so the truncated ppm stays
    * identical even where it is no longer the exact isqrt). NULL when
    * either axis is constant in a source (ρ undefined), loudly not 0.
    *
    * Scale shape: each axis collapses to the per-source distinct-value
    * frame (one hash-agg), midranks ride the distributed two-pass prefix
    * sum partitioned by source; two (source, value) equi-joins hang the
    * doubled midranks back on the corpus; one |sources|-row moment
    * aggregate ends it. No one-partition window, nothing all-pairs.
    */
  def q328SpearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars").as("vx"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast(LongType).as("vy"))
    def rank2(axis: String, out: String): DataFrame = {
      val h = docs.groupBy(col("source"), col(axis))
        .agg(count(lit(1)).as("c"))
      graft.functions.PrefixSum.runningTotal(
          h, Seq("source"), Seq(col(axis).asc), "c", "cum")
        .select(col("source"), col(axis),
          (lit(2L) * col("cum") - col("c") + lit(1L)).as(out))
    }
    val m = docs
      .join(rank2("vx", "r2x"), Seq("source", "vx"))
      .join(rank2("vy", "r2y"), Seq("source", "vy"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r2x")).as("sx"), sum(col("r2y")).as("sy"),
        sum(expr("CAST(r2x AS DECIMAL(38,0)) * r2y")).as("sxy"),
        sum(expr("CAST(r2x AS DECIMAL(38,0)) * r2x")).as("sxx"),
        sum(expr("CAST(r2y AS DECIMAL(38,0)) * r2y")).as("syy"))
      .withColumn("num", expr(
        "CAST(n_docs AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("dx", expr(
        "CAST(n_docs AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("dy", expr(
        "CAST(n_docs AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
    // |num| <= sqrt(dx*dy) (Cauchy–Schwarz) but wx*wy TRUNCATES each sqrt,
    // so near |rho| = 1 the quotient can overshoot 10^6 by O(1/sqrt(d))
    // ppm — clamp the magnitude so the invariant |rho_ppm| <= 10^6 holds
    // by construction (identically in both engines)
    isqrtStage("dy", "wy")(isqrtStage("dx", "wx")(m))
      .select(col("source"), col("n_docs"),
        expr("""CASE WHEN wx = 0 OR wy = 0 THEN NULL
          | WHEN num >= 0 THEN LEAST(CAST(num * 1000000
          |   div (CAST(wx AS DECIMAL(38,0)) * wy) AS BIGINT), 1000000L)
          | ELSE -LEAST(CAST((-num) * 1000000
          |   div (CAST(wx AS DECIMAL(38,0)) * wy) AS BIGINT), 1000000L)
          |END""".stripMargin).as("rho_ppm"))
      .orderBy(col("source"))
  }

  val q328Oracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS vx,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS vy
      |  FROM documents),
      |hx AS (SELECT source, vx, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM d GROUP BY 1, 2),
      |rx AS (SELECT source, vx,
      |         CAST(2 * SUM(c) OVER (PARTITION BY source ORDER BY vx)
      |           - c + 1 AS BIGINT) AS r2x
      |       FROM hx),
      |hy AS (SELECT source, vy, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM d GROUP BY 1, 2),
      |ry AS (SELECT source, vy,
      |         CAST(2 * SUM(c) OVER (PARTITION BY source ORDER BY vy)
      |           - c + 1 AS BIGINT) AS r2y
      |       FROM hy),
      |m AS (
      |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    SUM(CAST(r2x AS HUGEINT)) AS sx, SUM(CAST(r2y AS HUGEINT)) AS sy,
      |    SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy,
      |    SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
      |    SUM(CAST(r2y AS HUGEINT) * r2y) AS syy
      |  FROM d
      |  JOIN rx ON rx.source = d.source AND rx.vx = d.vx
      |  JOIN ry ON ry.source = d.source AND ry.vy = d.vy
      |  GROUP BY 1),
      |nd AS (
      |  SELECT source, n_docs,
      |    n_docs * sxy - sx * sy AS num,
      |    n_docs * sxx - sx * sx AS dx,
      |    n_docs * syy - sy * sy AS dy
      |  FROM m),
      |r0s AS (
      |  SELECT *,
      |    CAST(FLOOR(SQRT(CAST(dx AS DOUBLE))) AS BIGINT) AS r0x,
      |    CAST(FLOOR(SQRT(CAST(dy AS DOUBLE))) AS BIGINT) AS r0y
      |  FROM nd),
      |w AS (
      |  SELECT source, n_docs, num,
      |    GREATEST(0, r0x - 2 + CASE
      |      WHEN CAST(r0x + 2 AS HUGEINT) * (r0x + 2) <= dx THEN 4
      |      WHEN CAST(r0x + 1 AS HUGEINT) * (r0x + 1) <= dx THEN 3
      |      WHEN CAST(r0x AS HUGEINT) * r0x <= dx THEN 2
      |      WHEN CAST(r0x - 1 AS HUGEINT) * (r0x - 1) <= dx THEN 1
      |      ELSE 0 END) AS wx,
      |    GREATEST(0, r0y - 2 + CASE
      |      WHEN CAST(r0y + 2 AS HUGEINT) * (r0y + 2) <= dy THEN 4
      |      WHEN CAST(r0y + 1 AS HUGEINT) * (r0y + 1) <= dy THEN 3
      |      WHEN CAST(r0y AS HUGEINT) * r0y <= dy THEN 2
      |      WHEN CAST(r0y - 1 AS HUGEINT) * (r0y - 1) <= dy THEN 1
      |      ELSE 0 END) AS wy
      |  FROM r0s)
      |SELECT source, n_docs,
      |  CASE WHEN wx = 0 OR wy = 0 THEN NULL
      |    WHEN num >= 0 THEN LEAST(CAST(num * 1000000
      |      // (CAST(wx AS HUGEINT) * wy) AS BIGINT), 1000000)
      |    ELSE -LEAST(CAST((-num) * 1000000
      |      // (CAST(wx AS HUGEINT) * wy) AS BIGINT), 1000000)
      |  END AS rho_ppm
      |FROM w
      |ORDER BY source""".stripMargin

  /** COCHRAN–ARMITAGE TREND TEST (q339) — the ORDERED complement to
    * q219's χ² independence screen: χ² asks "does keep rate differ by
    * length bucket AT ALL?"; this asks "does it trend MONOTONICALLY with
    * length?" — the dose-response question a curation pipeline actually
    * has (is my quality gate a hidden length filter?). Buckets are fixed
    * char-length quartile bins with scores w = 0..3; with K total keeps
    * over N docs, everything cross-multiplies:
    *   t_num = N·Σ(w·k) − K·Σ(w·n)          (= N·T, exact)
    *   v_num = K·(N−K)·(N·Σ(w²·n) − (Σ(w·n))²)   (= N³·Var(T), exact)
    *   z² verdict: t_num²·N·10⁶ > 3 841 459·v_num
    * DECIMAL(38,0) holds t_num² to N ≈ 1.7·10⁹ docs; past that the test
    * runs per-shard (documented bound, the q324 discipline).
    *
    * Scale shape: one map over documents (bucket + keep label join) →
    * a 4-row bucket aggregate → ONE output row. The keep label reuses
    * q78's gate rule (one corpus pass with map-side combine).
    */
  def q339CochranArmitage(spark: SparkSession, dir: String): DataFrame = {
    val y = CurationQueries.q78QualityRepetition(spark, dir)
      .select(col("doc_id"),
        col("keep").cast("int").cast(LongType).as("k"))
    val b = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("""CASE WHEN n_chars < 150 THEN 0L WHEN n_chars < 300 THEN 1L
          | WHEN n_chars < 450 THEN 2L ELSE 3L END""".stripMargin).as("w"))
      .join(y, "doc_id")
    val cells = b.groupBy(col("w"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("kk"))
    cells.agg(
        sum(col("n")).as("n_docs"), sum(col("kk")).as("n_keep"),
        sum(col("w") * col("kk")).as("swk"),
        sum(col("w") * col("n")).as("swn"),
        sum(col("w") * col("w") * col("n")).as("sw2n"))
      .select(col("n_docs"), col("n_keep"), col("swk"), col("swn"),
        expr("""CAST(n_docs AS DECIMAL(38,0)) * swk
          | - CAST(n_keep AS DECIMAL(38,0)) * swn""".stripMargin)
          .cast(LongType).as("t_num"),
        expr("""CAST(CASE WHEN
          |  CAST(CAST(n_docs AS DECIMAL(38,0)) * swk
          |    - CAST(n_keep AS DECIMAL(38,0)) * swn AS DECIMAL(38,0))
          |  * (CAST(n_docs AS DECIMAL(38,0)) * swk
          |    - CAST(n_keep AS DECIMAL(38,0)) * swn)
          |  * n_docs * 1000000 >
          |  3841459 * CAST(n_keep AS DECIMAL(38,0)) * (n_docs - n_keep)
          |  * (CAST(n_docs AS DECIMAL(38,0)) * sw2n
          |    - CAST(swn AS DECIMAL(38,0)) * swn)
          |THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_95"))
  }

  /** q339 oracle: q78's existing keep-rule oracle embedded as a
    * subquery (the q270 wrapper pattern — DuckDB accepts a WITH inside
    * a FROM), so the label can never drift from the gate rule. */
  val q339Oracle: String =
    s"""WITH y AS (
      |  SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS k FROM (
      |${CurationQueries.q78Oracle}
      |  )),
      |b AS (
      |  SELECT CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1
      |    WHEN n_chars < 450 THEN 2 ELSE 3 END AS w, k
      |  FROM documents JOIN y USING (doc_id)),
      |cells AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(k) AS BIGINT)
      |    AS kk
      |  FROM b GROUP BY 1),
      |agg AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
      |    CAST(SUM(kk) AS BIGINT) AS n_keep,
      |    CAST(SUM(w * kk) AS BIGINT) AS swk,
      |    CAST(SUM(w * n) AS BIGINT) AS swn,
      |    CAST(SUM(w * w * n) AS BIGINT) AS sw2n
      |  FROM cells)
      |SELECT n_docs, n_keep, swk, swn,
      |  CAST(CAST(n_docs AS HUGEINT) * swk
      |    - CAST(n_keep AS HUGEINT) * swn AS BIGINT) AS t_num,
      |  CAST(CASE WHEN
      |    (CAST(n_docs AS HUGEINT) * swk - CAST(n_keep AS HUGEINT) * swn)
      |    * (CAST(n_docs AS HUGEINT) * swk - CAST(n_keep AS HUGEINT) * swn)
      |    * n_docs * 1000000 >
      |    3841459 * CAST(n_keep AS HUGEINT) * (n_docs - n_keep)
      |    * (CAST(n_docs AS HUGEINT) * sw2n - CAST(swn AS HUGEINT) * swn)
      |  THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM agg""".stripMargin

  /** KRUSKAL–WALLIS H TEST (q355) — the k-group completion of the rank
    * battery (q322 MWU is two-group location, q328 Spearman is two-axis
    * association; this asks: do the SOURCES differ in document-length
    * location, jointly?). Doubled global midranks keep ties integral
    * (q328's recipe on one global axis); with R2_i = Σ doubled ranks of
    * group i,
    *   H = 3·Σ_i(R2_i²/n_i)/(n(n+1)) − 3(n+1)
    * (the classical 12/(n(n+1))·ΣR_i²/n_i − 3(n+1) with R = R2/2), and
    * the tie correction divides by C = 1 − Σ(t³−t)/(n³−n). Reported in
    * exact milli with per-group truncation on R2_i²/n_i — documented,
    * identical in both engines, and bounded by k/(n(n+1)) absolute error
    * against the real-valued statistic. The 95% verdict reads a χ²
    * critical-value ladder for df ≤ 8 (NULL beyond — the corpus has 4
    * sources; the ladder is data, not logic). R2_i² caps the DECIMAL(38)
    * budget at ~4n³ — exact to n ≈ 10¹¹ docs.
    *
    * Scale shape: one corpus hash-agg onto the distinct-length axis, the
    * distributed two-pass prefix sum for midranks, one (source, length)
    * equi-join to hang ranks back, then a |sources|-row aggregate and a
    * 1-row rollup. Nothing all-pairs, no one-partition window.
    */
  def q355KruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"))
    val h = docs.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("g", lit(0))
    val r2 = graft.functions.PrefixSum
      .runningTotal(h, Seq("g"), Seq(col("v").asc), "c", "cum")
      .select(col("v"), col("c"),
        (lit(2L) * col("cum") - col("c") + lit(1L)).as("r2"))
    val perGroup = docs.join(r2.select(col("v"), col("r2")), "v")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_i"), sum(col("r2")).as("rr2"))
    val ties = r2.agg(sum(
      expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("t3"))
    perGroup.agg(
        sum(col("n_i")).as("n"), count(lit(1)).as("k"),
        sum(expr("CAST(rr2 AS DECIMAL(38,0)) * rr2 div n_i")).as("t"))
      .crossJoin(broadcast(ties))
      .withColumn("h_milli", expr(
        "CAST(3000 * t div (CAST(n AS DECIMAL(38,0)) * (n + 1))" +
          " - 3000 * (n + 1) AS BIGINT)"))
      .withColumn("h_adj_milli", expr(
        "CASE WHEN CAST(n AS DECIMAL(38,0)) * n * n - n - t3 = 0 THEN NULL" +
          " ELSE CAST(" +
          sdiv("CAST(h_milli AS DECIMAL(38,0)) * " +
            "(CAST(n AS DECIMAL(38,0)) * n * n - n)",
            "CAST(n AS DECIMAL(38,0)) * n * n - n - t3", "div") +
          " AS BIGINT) END"))
      .withColumn("df", col("k") - 1)
      .withColumn("crit_milli", expr(
        """CASE df WHEN 1 THEN 3841L WHEN 2 THEN 5991L WHEN 3 THEN 7815L
          | WHEN 4 THEN 9488L WHEN 5 THEN 11070L WHEN 6 THEN 12592L
          | WHEN 7 THEN 14067L WHEN 8 THEN 15507L ELSE NULL END"""
          .stripMargin))
      .select(col("n"), col("k"), col("h_milli"), col("h_adj_milli"),
        col("df"),
        expr("CASE WHEN crit_milli IS NULL OR h_adj_milli IS NULL THEN NULL" +
          " WHEN h_adj_milli > crit_milli THEN 1L ELSE 0L END")
          .as("reject_95"))
  }

  val q355Oracle: String =
    s"""WITH d AS (SELECT source, n_chars AS v FROM documents),
       |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1),
       |r AS (SELECT v, c,
       |        CAST(2 * SUM(c) OVER (ORDER BY v) - c + 1 AS BIGINT) AS r2
       |      FROM h),
       |pg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_i,
       |    CAST(SUM(r2) AS BIGINT) AS rr2
       |  FROM d JOIN r ON r.v = d.v GROUP BY 1),
       |tt AS (SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS t3 FROM r),
       |m AS (
       |  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS k,
       |    SUM(CAST(rr2 AS HUGEINT) * rr2 // n_i) AS t
       |  FROM pg),
       |e AS (
       |  SELECT n, k, t3,
       |    CAST(3000 * t // (CAST(n AS HUGEINT) * (n + 1))
       |      - 3000 * (n + 1) AS BIGINT) AS h_milli,
       |    k - 1 AS df
       |  FROM m CROSS JOIN tt),
       |f AS (
       |  SELECT n, k, h_milli,
       |    CASE WHEN CAST(n AS HUGEINT) * n * n - n - t3 = 0 THEN NULL
       |      ELSE CAST(${sdiv(
             "CAST(h_milli AS HUGEINT) * (CAST(n AS HUGEINT) * n * n - n)",
             "CAST(n AS HUGEINT) * n * n - n - t3", "//")} AS BIGINT)
       |    END AS h_adj_milli,
       |    df,
       |    CASE df WHEN 1 THEN 3841 WHEN 2 THEN 5991 WHEN 3 THEN 7815
       |      WHEN 4 THEN 9488 WHEN 5 THEN 11070 WHEN 6 THEN 12592
       |      WHEN 7 THEN 14067 WHEN 8 THEN 15507 ELSE NULL END
       |      AS crit_milli
       |  FROM e)
       |SELECT n, k, h_milli, h_adj_milli, CAST(df AS BIGINT) AS df,
       |  CAST(CASE WHEN crit_milli IS NULL OR h_adj_milli IS NULL THEN NULL
       |    WHEN h_adj_milli > crit_milli THEN 1 ELSE 0 END AS BIGINT)
       |    AS reject_95
       |FROM f""".stripMargin

  /** WILCOXON SIGNED-RANK TEST (q356) — the PAIRED location test the
    * battery lacked (q322 is unpaired two-sample, q330 McNemar is paired
    * BINARY): did per-user activity value shift between the pre and post
    * halves of the window, judged on the same users? Zero differences
    * drop (the classical convention); |d| gets doubled midranks (q328's
    * tie recipe); W2± = Σ doubled ranks over positive/negative d. With
    * D = W2+ − W2− and the tie-corrected variance folded to integers,
    *   z² = 3·D² / (2n(n+1)(2n+1) − Σ(t³−t))
    * and the 95% two-sided verdict is 3·D²·10⁶ > 3 841 600·V — exact in
    * DECIMAL(38,0) to n ≈ 10⁹ paired users. The rank-biserial effect
    * size D/(n(n+1)) is reported sign-split in ppm.
    *
    * Scale shape: one per-user aggregate (map-side combinable) builds
    * the pairs; |d| collapses to its distinct-value axis for the
    * distributed prefix-sum midranks; one equi-join hangs them back and
    * ONE row comes out.
    */
  def q356WilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = EvalQueries.experimentFrame(spark, dir)
      .select((col("y") - col("x")).as("d"))
      .filter(col("d") =!= 0L)
      .select(col("d"), abs(col("d")).as("ad"))
    val h = pairs.groupBy(col("ad")).agg(count(lit(1)).as("c"))
      .withColumn("g", lit(0))
    val r2 = graft.functions.PrefixSum
      .runningTotal(h, Seq("g"), Seq(col("ad").asc), "c", "cum")
      .select(col("ad"), col("c"),
        (lit(2L) * col("cum") - col("c") + lit(1L)).as("r2"))
    val ties = r2.agg(sum(
      expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("t3"))
    pairs.join(r2.select(col("ad"), col("r2")), "ad")
      .agg(count(lit(1)).as("n"),
        sum(when(col("d") > 0, col("r2")).otherwise(0L)).as("w2_plus"),
        sum(when(col("d") < 0, col("r2")).otherwise(0L)).as("w2_minus"))
      .crossJoin(broadcast(ties))
      .withColumn("dd", col("w2_plus") - col("w2_minus"))
      .withColumn("vnum", expr(
        "2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - t3"))
      .select(col("n").as("n_pairs"), col("w2_plus"), col("w2_minus"),
        expr("CAST(" + sdiv("CAST(dd AS DECIMAL(38,0)) * 1000000",
          "CAST(n AS DECIMAL(38,0)) * (n + 1)", "div") +
          " AS BIGINT)").as("rb_ppm"),
        expr("CASE WHEN vnum = 0 THEN NULL WHEN " +
          "3 * CAST(dd AS DECIMAL(38,0)) * dd * 1000000 > 3841600 * vnum" +
          " THEN 1L ELSE 0L END").as("reject_95"))
  }

  val q356Oracle: String =
    s"""WITH ${EvalQueries.experimentCtes},
       |pd AS (SELECT y - x AS d, ABS(y - x) AS ad FROM pu
       |       WHERE y - x <> 0),
       |h AS (SELECT ad, CAST(COUNT(*) AS BIGINT) AS c FROM pd GROUP BY 1),
       |r AS (SELECT ad, c,
       |        CAST(2 * SUM(c) OVER (ORDER BY ad) - c + 1 AS BIGINT) AS r2
       |      FROM h),
       |tt AS (SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS t3 FROM r),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
       |      AS w2_plus,
       |    CAST(SUM(CASE WHEN d < 0 THEN r2 ELSE 0 END) AS BIGINT)
       |      AS w2_minus
       |  FROM pd JOIN r ON r.ad = pd.ad),
       |e AS (
       |  SELECT n, w2_plus, w2_minus, w2_plus - w2_minus AS dd,
       |    2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - t3 AS vnum
       |  FROM m CROSS JOIN tt)
       |SELECT n AS n_pairs, w2_plus, w2_minus,
       |  CAST(${sdiv("CAST(dd AS HUGEINT) * 1000000",
           "CAST(n AS HUGEINT) * (n + 1)", "//")} AS BIGINT) AS rb_ppm,
       |  CAST(CASE WHEN vnum = 0 THEN NULL
       |    WHEN 3 * CAST(dd AS HUGEINT) * dd * 1000000 > 3841600 * vnum
       |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
       |FROM e""".stripMargin

  /** CRAMÉR'S V (q357) — the effect-size the q219 χ² drift screen stops
    * short of: HOW STRONGLY are source and language associated, on the
    * [0, 1] scale that survives corpus growth (χ² itself scales with n;
    * V = √(χ²/(n·min(r−1, c−1))) does not). χ² is computed cell-exact
    * with cross-multiplied integers — for every (source, lang) cell of
    * the FULL margin cross (absent observed cells contribute their
    * expectation):
    *   χ²·10³ = Σ sdiv((o·n − r_i·c_j)²·1000, n·r_i·c_j)
    * (per-cell milli truncation, identical both engines), then
    * v_ppm = isqrt(χ²milli·10⁹ div (n·min(r−1,c−1))) via the ±2-corrected
    * isqrt. (o·n − r·c)² bounds the DECIMAL(38) budget at n⁴ — exact to
    * n ≈ 10⁸ docs; engine parity survives beyond (same truncations both
    * sides).
    *
    * Scale shape: one corpus hash-agg to the (source, lang) contingency;
    * margins are two rollups of it; the margin cross join is
    * |sources|×|langs| — model-bounded, not corpus-bounded. ONE row out.
    */
  def q357CramersV(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
    val rm = cells.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val cm = cells.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val full = rm.crossJoin(cm)
      .join(cells, Seq("source", "lang"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val tot = cells.agg(sum(col("o")).as("n"))
    full.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"),
        countDistinct(col("source")).as("n_rows"),
        countDistinct(col("lang")).as("n_cols"),
        sum(expr(
          "(CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)" +
            " * (CAST(o AS DECIMAL(38,0)) * n" +
            " - CAST(r AS DECIMAL(38,0)) * c) * 1000" +
            " div (CAST(n AS DECIMAL(38,0)) * r * c)")).as("chi2_milli_d"))
      .withColumn("m", expr(
        "CAST(least(n_rows - 1, n_cols - 1) AS DECIMAL(38,0))"))
      .withColumn("v2", expr(
        "CASE WHEN m = 0 THEN NULL ELSE" +
          " chi2_milli_d * 1000000000 div (CAST(n AS DECIMAL(38,0)) * m)" +
          " END"))
      .transform(isqrtStage("v2", "w"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        expr("CAST(chi2_milli_d AS BIGINT)").as("chi2_milli"),
        expr("CASE WHEN v2 IS NULL THEN NULL ELSE least(w, 1000000L) END")
          .as("v_ppm"))
  }

  val q357Oracle: String =
    """WITH cells AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |rm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |cm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |full2 AS (
      |  SELECT rm.source, cm.lang, rm.r, cm.c, COALESCE(cells.o, 0) AS o
      |  FROM rm CROSS JOIN cm
      |  LEFT JOIN cells ON cells.source = rm.source AND cells.lang = cm.lang),
      |agg AS (
      |  SELECT MAX(n) AS n,
      |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_cols,
      |    SUM((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
      |      * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000
      |      // (CAST(n AS HUGEINT) * r * c)) AS chi2_milli_h
      |  FROM full2 CROSS JOIN tot),
      |vv AS (
      |  SELECT n, n_rows, n_cols, chi2_milli_h,
      |    CASE WHEN LEAST(n_rows - 1, n_cols - 1) = 0 THEN NULL
      |      ELSE chi2_milli_h * 1000000000
      |        // (CAST(n AS HUGEINT) * LEAST(n_rows - 1, n_cols - 1)) END
      |      AS v2
      |  FROM agg),
      |r0s AS (
      |  SELECT *, CAST(FLOOR(SQRT(CAST(v2 AS DOUBLE))) AS BIGINT) AS r0
      |  FROM vv)
      |SELECT n, n_rows, n_cols, CAST(chi2_milli_h AS BIGINT) AS chi2_milli,
      |  CAST(CASE WHEN v2 IS NULL THEN NULL ELSE LEAST(
      |    GREATEST(0, r0 - 2 + CASE
      |      WHEN CAST(r0 + 2 AS HUGEINT) * (r0 + 2) <= v2 THEN 4
      |      WHEN CAST(r0 + 1 AS HUGEINT) * (r0 + 1) <= v2 THEN 3
      |      WHEN CAST(r0 AS HUGEINT) * r0 <= v2 THEN 2
      |      WHEN CAST(r0 - 1 AS HUGEINT) * (r0 - 1) <= v2 THEN 1
      |      ELSE 0 END), 1000000) END AS BIGINT) AS v_ppm
      |FROM r0s""".stripMargin

  /** L-DIVERSITY AUDIT (q363) — the attribute-disclosure check
    * k-anonymity (q287) provably misses: a 100-member equivalence class
    * is k-safe, but if all 100 share ONE sensitive value the attacker
    * learns it without re-identifying anyone. Per quasi-identifier class
    * (nation, market segment — deliberately coarser than q287's QI so
    * classes are populated): the class size, the number of DISTINCT
    * sensitive values (the l in l-diversity; sensitive attribute =
    * $1000 account-balance bucket, the linkage target), the top single
    * value's share in exact ppm (the recursive-(c,l) precursor
    * statistic), and the l < 3 risk flag.
    *
    * Scale shape: one (QI, sensitive)-keyed aggregate (map-side
    * combined), re-aggregated to the QI axis with a max-struct for the
    * top share. Two shuffles on shrinking cardinalities, |QI classes|
    * rows out.
    */
  def q363LDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast(LongType).as("bal_k"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("cnt")).as("class_size"),
        count(lit(1)).as("l_distinct"),
        max(col("cnt")).as("top_cnt"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
        col("l_distinct"),
        expr("CAST(CAST(top_cnt AS DECIMAL(38,0)) * 1000000" +
          " div class_size AS BIGINT)").as("top_share_ppm"),
        (col("l_distinct") < 3).as("at_risk_l3"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  val q363Oracle: String =
    """WITH sv AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_nationkey, c_mktsegment,
      |  CAST(SUM(cnt) AS BIGINT) AS class_size,
      |  CAST(COUNT(*) AS BIGINT) AS l_distinct,
      |  CAST(CAST(MAX(cnt) AS HUGEINT) * 1000000 // SUM(cnt) AS BIGINT)
      |    AS top_share_ppm,
      |  COUNT(*) < 3 AS at_risk_l3
      |FROM sv GROUP BY 1, 2
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** T-CLOSENESS AUDIT (q364) — the distribution-disclosure check
    * l-diversity (q363) still misses: a class can hold 5 distinct
    * balance buckets yet skew so far from the corpus-wide distribution
    * that membership alone leaks wealth. Per QI class, the exact
    * 1-D Earth Mover's Distance between the class's and the global
    * distribution over the ORDERED $1000 balance-bucket axis — for
    * ordered 1-D histograms EMD is just the summed |cumulative
    * difference|, so the whole statistic is cross-multiplied integers:
    *   D_b = cum_class(b)·N − cum_global(b)·n_class
    *   t_ppm = (Σ_{b<last} |D_b|)·10⁶ div ((m−1)·n_class·N)
    * (the standard (m−1) normalization makes t = 1 the all-mass-at-
    * opposite-ends worst case). Flagged at t > 0.2 — the threshold the
    * t-closeness literature ships as its running example.
    *
    * Scale shape: one (QI, bucket) aggregate; the class×bucket spine is
    * the QI-axis cross join with the bounded bucket axis (both
    * model-bounded); cumulative sums ride per-class windows over ≤m
    * rows. |QI classes| rows out.
    */
  def q364TCloseness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sv = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast(LongType).as("bal_k"))
      .agg(count(lit(1)).as("cnt"))
    val classes = sv.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("cnt")).as("n_class"))
    val buckets = sv.groupBy(col("bal_k")).agg(sum(col("cnt")).as("g"))
    val tot = buckets.agg(sum(col("g")).as("n"),
      count(lit(1)).as("m"))
    val spine = classes.crossJoin(broadcast(buckets))
      .join(sv, Seq("c_nationkey", "c_mktsegment", "bal_k"), "left_outer")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
      .orderBy(col("bal_k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
    spine
      .withColumn("cumc", sum(col("cnt")).over(w))
      .withColumn("cumg", sum(col("g")).over(w))
      .withColumn("last_k", max(col("bal_k")).over(wAll))
      .crossJoin(broadcast(tot))
      .filter(col("bal_k") < col("last_k"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(max(col("n_class")).as("n_class"), max(col("n")).as("n"),
        max(col("m")).as("m"),
        sum(expr("abs(CAST(cumc AS DECIMAL(38,0)) * n" +
          " - CAST(cumg AS DECIMAL(38,0)) * n_class)")).as("emd"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_class"),
        expr("CAST(emd * 1000000 div ((m - 1)" +
          " * CAST(n_class AS DECIMAL(38,0)) * n) AS BIGINT)").as("t_ppm"))
      .withColumn("at_risk_t20", col("t_ppm") > 200000L)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  val q364Oracle: String =
    """WITH sv AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM customer GROUP BY 1, 2, 3),
      |cls AS (SELECT c_nationkey, c_mktsegment,
      |          CAST(SUM(cnt) AS BIGINT) AS n_class
      |        FROM sv GROUP BY 1, 2),
      |bk AS (SELECT bal_k, CAST(SUM(cnt) AS BIGINT) AS g
      |       FROM sv GROUP BY 1),
      |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n,
      |          CAST(COUNT(*) AS BIGINT) AS m FROM bk),
      |spine AS (
      |  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_class,
      |    bk.bal_k, bk.g, COALESCE(sv.cnt, 0) AS cnt
      |  FROM cls CROSS JOIN bk
      |  LEFT JOIN sv ON sv.c_nationkey = cls.c_nationkey
      |    AND sv.c_mktsegment = cls.c_mktsegment AND sv.bal_k = bk.bal_k),
      |cum AS (
      |  SELECT *,
      |    SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
      |      ORDER BY bal_k) AS cumc,
      |    SUM(g) OVER (PARTITION BY c_nationkey, c_mktsegment
      |      ORDER BY bal_k) AS cumg,
      |    MAX(bal_k) OVER (PARTITION BY c_nationkey, c_mktsegment)
      |      AS last_k
      |  FROM spine),
      |e AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(MAX(n_class) AS BIGINT) AS n_class,
      |    SUM(ABS(CAST(cumc AS HUGEINT) * n - CAST(cumg AS HUGEINT)
      |      * n_class)) AS emd,
      |    MAX(n) AS n, MAX(m) AS m
      |  FROM cum CROSS JOIN tot
      |  WHERE bal_k < last_k
      |  GROUP BY 1, 2)
      |SELECT c_nationkey, c_mktsegment, n_class,
      |  CAST(emd * 1000000 // ((m - 1) * CAST(n_class AS HUGEINT) * n)
      |    AS BIGINT) AS t_ppm,
      |  CAST(emd * 1000000 // ((m - 1) * CAST(n_class AS HUGEINT) * n)
      |    AS BIGINT) > 200000 AS at_risk_t20
      |FROM e
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** The columns q369 audits, with the physical sort key the table is
    * assumed laid out in — RLE gain is a property of the ORDER, so the
    * key is part of the candidate, not an afterthought. */
  val EncodingCandidates: Seq[(String, String, Seq[String])] = Seq(
    ("customer", "c_mktsegment",   Seq("c_custkey")),
    ("lineitem", "l_linestatus",   Seq("l_orderkey", "l_linenumber")),
    ("lineitem", "l_returnflag",   Seq("l_orderkey", "l_linenumber")),
    ("orders",   "o_orderpriority", Seq("o_orderkey")))

  /** ENCODING ADVISOR (q369) — the parquet/ORC encoding decision made
    * from measurements instead of defaults: per candidate column, the
    * exact run count in the table's physical key order (RLE's cost
    * model), the distinct count (dictionary's), and both savings ratios
    * (n−runs)/n and (n−ndv)/n in exact ppm, with the rule-based
    * recommendation (RLE above 50% run savings, else dictionary above
    * 50%, else plain). Complements q277 (file layout) and q297 (zone-map
    * skipping): those choose WHERE bytes go, this chooses how they're
    * WRITTEN.
    *
    * Scale shape: the global position rides the distributed two-pass
    * prefix sum (q327's scaffold — range exchange, no one-partition
    * window); run boundaries come from the rn = rn−1 self equi-join on
    * a uniform Long key; ndv/count are one aggregate. Per column, three
    * passes over one column's data; output is |candidates| rows.
    */
  def q369EncodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val perCol = EncodingCandidates.map { case (t, c, keys) =>
      val base = Tables.load(spark, dir, t)
        .select((keys.map(col) :+ col(c).cast("string").as("v")): _*)
      // run census via the one-pass distributed primitive (round 15):
      // the former rank-scaffold + rn⋈(rn+1) self-join paid two extra
      // corpus exchanges per column to pair adjacent rows; orderedRuns
      // pairs them inside the range-partitioned scan and stitches the
      // <= P partition boundaries on a constant-sized frame. Identical
      // (n, runs) semantics — PrefixSumSpec pins equivalence to the
      // windowed-lag reference.
      val runs = graft.functions.PrefixSum
        .orderedRuns(base, keys.map(col(_).asc), "v")
      val ndv = base.agg(countDistinct(col("v")).as("ndv"))
      runs.crossJoin(ndv)
        .select(lit(t).as("table_name"), lit(c).as("column_name"),
          col("n"), col("runs"), col("ndv"))
    }
    perCol.reduce(_ unionByName _)
      .withColumn("rle_savings_ppm", expr(
        "CAST(CAST(n - runs AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"))
      .withColumn("dict_savings_ppm", expr(
        "CAST(CAST(n - ndv AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"))
      .withColumn("recommendation", expr(
        "CASE WHEN rle_savings_ppm >= 500000 THEN 'rle'" +
          " WHEN dict_savings_ppm >= 500000 THEN 'dictionary'" +
          " ELSE 'plain' END"))
      .orderBy(col("table_name"), col("column_name"))
  }

  val q369Oracle: String = {
    def one(t: String, c: String, keys: Seq[String]): String =
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN pv IS NOT NULL AND v <> pv THEN 1 ELSE 0
         |    END) + 1 AS BIGINT) AS runs,
         |  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv
         |FROM (
         |  SELECT CAST($c AS VARCHAR) AS v,
         |    LAG(CAST($c AS VARCHAR)) OVER (ORDER BY ${keys.mkString(", ")})
         |      AS pv
         |  FROM $t)""".stripMargin
    val parts = EncodingCandidates
      .map { case (t, c, k) => s"(${one(t, c, k)})" }
      .mkString("\nUNION ALL\n")
    s"""WITH m AS ($parts)
       |SELECT table_name, column_name, n, runs, ndv,
       |  CAST(CAST(n - runs AS HUGEINT) * 1000000 // n AS BIGINT)
       |    AS rle_savings_ppm,
       |  CAST(CAST(n - ndv AS HUGEINT) * 1000000 // n AS BIGINT)
       |    AS dict_savings_ppm,
       |  CASE WHEN CAST(n - runs AS HUGEINT) * 1000000 // n >= 500000
       |      THEN 'rle'
       |    WHEN CAST(n - ndv AS HUGEINT) * 1000000 // n >= 500000
       |      THEN 'dictionary'
       |    ELSE 'plain' END AS recommendation
       |FROM m
       |ORDER BY table_name, column_name""".stripMargin
  }

  /** JOIN-ORDER COST AUDIT (q370) — q302's statistics trick extended to
    * the optimizer's actual decision: for the customer⋈orders⋈lineitem
    * chain, the EXACT intermediate cardinality of each join order,
    * computed entirely from per-key count frames (|A⋈B| = Σ_k a(k)·b(k))
    * without materializing a single joined fact row — the audit that
    * says whether the cost model's chosen order was right, at any scale
    * where executing the wrong order to find out would be the bug.
    * Cost proxy = intermediate + final rows (the final term is shared,
    * kept so each row is self-describing); is_best marks the winner,
    * ties to the alphabetically first order.
    *
    * Scale shape: three per-key aggregates (map-side combined) and
    * key-frame equi-joins — frames sized by DISTINCT KEYS, never by
    * fact rows. Output is 2 rows.
    */
  def q370JoinOrderAudit(spark: SparkSession, dir: String): DataFrame = {
    val cc = Tables.customer(spark, dir)
      .groupBy(col("c_custkey").as("ck")).agg(count(lit(1)).as("c"))
    val oc = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("ck")).agg(count(lit(1)).as("o"))
    val ok = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("ck"))
    val lc = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("okey")).agg(count(lit(1)).as("l"))
    // |C ⋈ O| on custkey
    val co = cc.join(oc, "ck")
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * o")).as("card"))
    // |O ⋈ L| on orderkey
    val ol = ok.join(lc, "okey")
      .agg(sum(expr("CAST(l AS DECIMAL(38,0))")).as("card"))
    // final |C ⋈ O ⋈ L| — per order: lineitems × customer multiplicity
    val fin = ok.join(lc, "okey").join(cc, "ck")
      .agg(sum(expr("CAST(l AS DECIMAL(38,0)) * c")).as("fin"))
    val plans = co.crossJoin(ol.select(col("card").as("card_ol")))
      .crossJoin(fin)
      .select(
        lit("a_customer_orders_first").as("join_order"),
        expr("CAST(card AS BIGINT)").as("intermediate_rows"),
        expr("CAST(fin AS BIGINT)").as("final_rows"))
      .unionByName(co.select(col("card").as("card_co"))
        .crossJoin(ol).crossJoin(fin)
        .select(lit("b_orders_lineitem_first").as("join_order"),
          expr("CAST(card AS BIGINT)").as("intermediate_rows"),
          expr("CAST(fin AS BIGINT)").as("final_rows")))
      .withColumn("cost_rows", col("intermediate_rows") + col("final_rows"))
    val best = plans.agg(min(col("cost_rows")).as("best"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cost_rows")).orderBy(col("join_order").asc)
    plans.crossJoin(broadcast(best))
      .withColumn("rn", row_number().over(w))
      .select(col("join_order"), col("intermediate_rows"),
        col("final_rows"), col("cost_rows"),
        (col("cost_rows") === col("best") && col("rn") === 1).as("is_best"))
      .orderBy(col("join_order"))
  }

  val q370Oracle: String =
    """WITH cc AS (SELECT c_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS c
      |           FROM customer GROUP BY 1),
      |oc AS (SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS o
      |       FROM orders GROUP BY 1),
      |ok AS (SELECT o_orderkey AS okey, o_custkey AS ck FROM orders),
      |lc AS (SELECT l_orderkey AS okey, CAST(COUNT(*) AS BIGINT) AS l
      |       FROM lineitem GROUP BY 1),
      |co AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * o) AS BIGINT) AS card
      |       FROM cc JOIN oc USING (ck)),
      |ol AS (SELECT CAST(SUM(CAST(l AS HUGEINT)) AS BIGINT) AS card
      |       FROM ok JOIN lc USING (okey)),
      |fin AS (SELECT CAST(SUM(CAST(l AS HUGEINT) * c) AS BIGINT) AS fin
      |        FROM ok JOIN lc USING (okey) JOIN cc USING (ck)),
      |plans AS (
      |  SELECT 'a_customer_orders_first' AS join_order,
      |    co.card AS intermediate_rows, fin.fin AS final_rows
      |  FROM co CROSS JOIN fin
      |  UNION ALL
      |  SELECT 'b_orders_lineitem_first', ol.card, fin.fin
      |  FROM ol CROSS JOIN fin),
      |costed AS (
      |  SELECT *, intermediate_rows + final_rows AS cost_rows FROM plans),
      |best AS (SELECT MIN(cost_rows) AS best FROM costed),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cost_rows
      |    ORDER BY join_order) AS rn
      |  FROM costed)
      |SELECT join_order, intermediate_rows, final_rows, cost_rows,
      |  cost_rows = best AND rn = 1 AS is_best
      |FROM rk CROSS JOIN best
      |ORDER BY join_order""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q370_join_order_audit", q370JoinOrderAudit, q370Oracle),
    QuerySpec("q369_encoding_advisor", q369EncodingAdvisor, q369Oracle),
    QuerySpec("q363_l_diversity", q363LDiversity, q363Oracle),
    QuerySpec("q364_t_closeness", q364TCloseness, q364Oracle),
    QuerySpec("q355_kruskal_wallis", q355KruskalWallis, q355Oracle),
    QuerySpec("q356_wilcoxon_signed", q356WilcoxonSignedRank, q356Oracle),
    QuerySpec("q357_cramers_v", q357CramersV, q357Oracle),
    QuerySpec("q339_cochran_armitage", q339CochranArmitage, q339Oracle),
    QuerySpec("q328_spearman_corr", q328SpearmanCorr, q328Oracle),
    QuerySpec("q327_runs_test", q327RunsTest, q327Oracle),
    QuerySpec("q322_mann_whitney", q322MannWhitney, q322Oracle),
    QuerySpec("q319_ks_distance", q319KsDistance, q319Oracle),
    QuerySpec("q310_kmv_distinct", q310KmvDistinct, q310Oracle),
    QuerySpec("q302_join_card_estimate", q302JoinCardEstimate, q302Oracle),
    QuerySpec("q290_good_turing", q290GoodTuring, q290Oracle),
    QuerySpec("q287_k_anonymity", q287KAnonymity, q287Oracle),
    QuerySpec("q288_temporal_audit", q288TemporalAudit, q288Oracle),
    QuerySpec("q281_freq_profile", q281FreqProfile, q281Oracle),
    QuerySpec("q272_winsorized_quality", q272WinsorizedQuality, q272Oracle),
    QuerySpec("q277_layout_advisor", q277LayoutAdvisor, q277Oracle),
    QuerySpec("q267_key_discovery", q267KeyDiscovery, q267Oracle),
    QuerySpec("q262_abc_classes", q262AbcClasses, q262Oracle),
    QuerySpec("q263_reconciliation", q263Reconciliation, q263Oracle),
    QuerySpec("q252_gini_value", q252GiniValue, q252Oracle),
    QuerySpec("q251_hll_distinct", q251HllDistinct, q251Oracle),
    QuerySpec("q248_equidepth_histogram", q248EquidepthHistogram, q248Oracle),
    QuerySpec("q245_join_fanout", q245JoinFanout, q245Oracle),
    QuerySpec("q229_fd_discovery", q229FdDiscovery, q229Oracle),
    QuerySpec("q230_ri_audit", q230RiAudit, q230Oracle),
    QuerySpec("q234_benford_audit", q234BenfordAudit, q234Oracle),
    QuerySpec("q235_constraint_audit", q235ConstraintAudit, q235Oracle))
}
