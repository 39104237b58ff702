package graft.queries

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.transform.Skew

/** Gate queries for the two explicit 100 TB shuffle postures (SURVEY §7):
  * bucketed co-located joins (the zero-exchange fact-fact join) and salted
  * join/aggregation over a known-hot key. Both were previously proved only
  * in scalatest (ScaleSpec); as gate queries the driver's DuckDB oracle
  * re-verifies their RESULTS while PlanSpec pins their plan shape.
  */
object ScaleQueries {
  import Exact._

  /** Gate-default tunable — same constant feeds the conf fallback AND the
    * oracle SQL so the default cannot drift; the oracle gate must run with
    * the conf unset (see SimilarityQueries' oracle-gate contract note). */
  val SaltThresholdPct = 200L

  /** The 100 TB fact-fact join posture: both sides bucketed on the join key
    * at write time, so the merge join reads co-located buckets and the plan
    * has NO exchange on the join key — the shuffle happened once at layout
    * time and is amortized over every subsequent join. (At cluster scale
    * the bucketed write is the ingest job; here it is the query's setup
    * step, run once per session via [[ensureLayout]].)
    */
  /** Idempotent managed-table reset for gate-setup writes. DROP TABLE only
    * clears THIS session's in-memory catalog; the managed locations survive
    * on disk across sessions and make the next saveAsTable fail with
    * LOCATION_ALREADY_EXISTS — clear them physically. (Local-FS gate
    * plumbing only; a production deployment would target an object-store
    * path / real metastore and never re-create the layout per query.)
    */
  private def resetManagedTables(spark: SparkSession, tables: Seq[String]): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val warehouse = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")) match {
        case u if u.getScheme == "file" => u.getPath
        case u => u.toString
      })
    tables.foreach { t =>
      val p = warehouse.resolve(t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
    }
  }

  /** Run the layout job for `tables` at most once per (session, source
    * dir): a production bucketed/partitioned table is written by the
    * ingest job ONCE and amortized over every query that reads it, so the
    * gate mirrors that — the first call lays the tables out, subsequent
    * calls (e.g. the bench's second repeat, which is the reported min)
    * read the existing layout. A session-conf marker keyed on the source
    * dir invalidates the cache when the same session switches scale
    * factors (the dev loop does; the driver never does).
    */
  private def ensureLayout(
      spark: SparkSession, tables: Seq[String], dir: String)(write: => Unit): Unit = {
    val key = s"spark.graft.layout.${tables.mkString("_")}"
    val fresh = spark.conf.getOption(key).contains(dir) &&
      tables.forall(spark.catalog.tableExists)
    if (!fresh) {
      resetManagedTables(spark, tables)
      write
      spark.conf.set(key, dir)
    }
  }

  def q75BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    ensureLayout(spark, Seq("graft_b_orders", "graft_b_lineitem"), dir) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_b_orders")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_b_lineitem")
    }
    // force merge join: broadcast would also avoid the exchange, but the
    // invariant under test is that BUCKETING carries the co-location
    spark.table("graft_b_lineitem")
      .join(spark.table("graft_b_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        out2(sum(dec2(col("l_quantity")))).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  val q75Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Skew posture: o_orderpriority has 5 values, so a plain shuffle join or
    * aggregation on it lands the whole fact table on ≤5 reducers at ANY
    * scale. The salted forms spread each hot key over 8 salt buckets:
    * [[Skew.saltedJoin]] replicates the 5-row dimension across salts (the
    * join exchange partitions on (key, __salt)), and [[Skew.saltedAgg]]
    * partial-aggregates on (key, __salt) before the tiny merge. Results are
    * identical to the plain forms — the DuckDB oracle proves it.
    */
  def q77SkewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    // 5-row dimension: per-priority average (exact decimal-sum / count)
    val dim = orders
      .groupBy(col("o_orderpriority"))
      .agg((sum(dec2(col("o_totalprice"))).cast("decimal(38,2)").cast("double")
        / count(lit(1))).as("prio_avg"))
    // shuffle_hash hint: AQE would broadcast the 40-row replicated dim and
    // skip the exchange whose salted layout is under test
    val joined = Skew.saltedJoin(
      orders, dim.hint("shuffle_hash"), Seq("o_orderpriority"), saltBuckets = 8)
    Skew.saltedAgg(
      joined,
      keys = Seq("o_orderpriority", "prio_avg"),
      saltFrom = Seq(col("o_orderkey")),
      saltBuckets = 8,
      partialAggs = Seq(
        count(lit(1)).as("pn"),
        sum(dec2(col("o_totalprice"))).as("ps")),
      mergeAggs = Seq(
        sum(col("pn")).as("n_orders"),
        out2(sum(col("ps"))).as("sum_total")))
      .select(col("o_orderpriority"), col("prio_avg"), col("n_orders"), col("sum_total"))
      .orderBy(col("o_orderpriority"))
  }

  val q77Oracle: String =
    """WITH dim AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE)
      |      / COUNT(*) AS prio_avg
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o.o_orderpriority, d.prio_avg, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_total
      |FROM orders o JOIN dim d USING (o_orderpriority)
      |GROUP BY o.o_orderpriority, d.prio_avg
      |ORDER BY o.o_orderpriority""".stripMargin

  /** The 100 TB scan-cost posture: the fact table is laid out PARTITIONED
    * on a date-derived column, so a query that touches a date slice reads
    * only that slice's files — static partition pruning for literal
    * predicates, DYNAMIC partition pruning (DPP) for the partitions named
    * by a filtered dimension at runtime. Both levers appear in this one
    * plan: the scan's PartitionFilters carry the literal year-range bounds
    * AND a dynamicpruningexpression fed from the broadcast dimension
    * (PlanSpec pins exactly that). At cluster scale this is the single
    * biggest scan-cost lever there is: the difference between reading 3
    * months and reading the whole corpus. (As with q75, the partitioned
    * write is the ingest job's layout step, run once per session via
    * [[ensureLayout]].)
    */
  def q83PartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    ensureLayout(spark, Seq("graft_p_lineitem"), dir) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"),
          date_format(col("l_shipdate"), "yyyy-MM").as("l_ship_month"))
        .write.partitionBy("l_ship_month")
        .mode("overwrite").saveAsTable("graft_p_lineitem")
    }
    // dimension side: the months of 1996-Q1 order dates — a filtered,
    // broadcast dim whose month set is only known at runtime (the DPP
    // trigger shape; reuseBroadcastOnly makes the pruning subquery free)
    val dim = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1996 && quarter(col("o_orderdate")) === 1)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .distinct()
    spark.table("graft_p_lineitem")
      // static prune: literal bounds on the partition column reach the
      // scan as PartitionFilters without touching any file
      .filter(col("l_ship_month") >= "1996-01" && col("l_ship_month") <= "1996-12")
      .join(broadcast(dim), col("l_ship_month") === col("month"))
      .groupBy(col("month"))
      .agg(
        count(lit(1)).as("n_items"),
        out2(sum(dec2(col("l_quantity")))).as("sum_qty"))
      .orderBy(col("month"))
  }

  val q83Oracle: String =
    """WITH dim AS (
      |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
      |  FROM orders WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 1)
      |SELECT month, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
      |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS month, l_quantity FROM lineitem
      |      WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1996-01' AND '1996-12') l
      |JOIN dim USING (month)
      |GROUP BY month
      |ORDER BY month""".stripMargin

  /** Z-ORDER clustering: bit-align both keys to 16 bits via min/max
    * normalization, then Morton-interleave them into one 64-bit curve
    * value ([[graft.expressions.InterleaveBits]]) — the layout sort key
    * that makes per-file min/max statistics tight in BOTH columns at once,
    * so predicates on either dimension skip most files (the multi-column
    * data-skipping lever; ScaleSpec proves the locality on a
    * range-partitioned sort). The normalization is what makes the curve
    * real: raw interleave of a 16-bit key with a 4-bit key degenerates to
    * a single-column sort because the wide key owns every high bit.
    * Stats are a broadcast 1-row frame; integer arithmetic throughout so
    * the oracle replays scaling AND interleave exactly.
    */
  private[graft] def zorderLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val stats = li.agg(
      min(col("l_partkey")).as("minp"), max(col("l_partkey")).as("maxp"),
      min(col("l_suppkey")).as("mins"), max(col("l_suppkey")).as("maxs"))
    li.join(broadcast(stats), lit(true))
      .withColumn("pb",
        expr("CAST((l_partkey - minp) * 65535 div greatest(maxp - minp, 1) AS INT)"))
      .withColumn("sb",
        expr("CAST((l_suppkey - mins) * 65535 div greatest(maxs - mins, 1) AS INT)"))
      .withColumn("zv",
        graft.expressions.InterleaveBits.zorder64(col("pb"), col("sb")))
  }

  def q92ZorderCluster(spark: SparkSession, dir: String): DataFrame =
    zorderLineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("zv"))
      .orderBy(col("zv"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  val q92Oracle: String = {
    def spread(c: String, offset: Int): String =
      s"""list_sum(list_transform(range(0, 32),
         |      i -> ((($c >> i) & 1) << (2 * i + $offset))))""".stripMargin
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, zv FROM (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    CAST(${spread("pb", 0)}
       |       + ${spread("sb", 1)} AS BIGINT) AS zv
       |  FROM (
       |    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |      (l_partkey - minp) * 65535 // GREATEST(maxp - minp, 1) AS pb,
       |      (l_suppkey - mins) * 65535 // GREATEST(maxs - mins, 1) AS sb
       |    FROM lineitem CROSS JOIN (
       |      SELECT MIN(l_partkey) AS minp, MAX(l_partkey) AS maxp,
       |             MIN(l_suppkey) AS mins, MAX(l_suppkey) AS maxs
       |      FROM lineitem)))
       |ORDER BY zv, l_orderkey, l_linenumber
       |LIMIT 100""".stripMargin
  }

  /** BLOOM-PRUNED shuffle join: build a Bloom filter over the SELECTIVE
    * dimension's join keys (a few KB for millions of keys — the CMS/
    * centroid collect-once pattern) and filter the fact side BEFORE its
    * exchange, so the shuffle carries ~selectivity·|fact| rows instead of
    * all of them — the row-level analogue of q83's partition pruning, and
    * what Spark's own runtime row filtering injects when stats allow; here
    * it is explicit and oracle-gated. False positives pass the bloom and
    * are removed by the exact join, so the result is IDENTICAL to the
    * plain join (the oracle proves it) — only the shuffled volume changes
    * (ScaleSpec measures the reduction).
    */
  private[graft] def bloomPrunedLineitem(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"))
    // the sketch lives in the PLAN, not the driver: BloomFilterAggregate
    // (the aggregate behind Spark's own InjectRuntimeFilter) builds the
    // filter distributed inside a scalar subquery, and the codegen'd
    // might_contain probes it on the fact side — same wiring as the
    // built-in runtime row filter, but explicit and oracle-gated. No
    // df.stat collect-to-driver, no ScalaUDF in the hot path.
    // (bloom_filter_agg/might_contain are not in the public function
    // registry in Spark 4.1, hence the direct Catalyst construction.)
    val bloomAgg = dim.agg(
      GraftColumnBridge.column(
        new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(col("o_orderkey"))),
          Literal(100000L), Literal(958506L) // n=100k keys at fpp 1%
        ).toAggregateExpression()).as("bf"))
    val probe = GraftColumnBridge.column(
      BloomFilterMightContain(
        ScalarSubquery(bloomAgg.queryExecution.analyzed),
        GraftColumnBridge.expression(xxhash64(col("l_orderkey")))))
    val prunedFact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .filter(probe)
    (prunedFact, dim)
  }

  def q93BloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = bloomPrunedLineitem(spark, dir)
    // merge hint: at fact-fact scale neither side broadcasts — the bloom
    // exists precisely to shrink the shuffled volume
    fact.join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .agg(
        count(lit(1)).as("n_items"),
        out2(sum(dec2(col("l_quantity")))).as("sum_qty"))
  }

  val q93Oracle: String =
    """SELECT COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996) o
      |  ON l_orderkey = o_orderkey""".stripMargin

  /** SMALL-FILE COMPACTION — the lake-maintenance pass every long-running
    * ingest needs: a fragmented table (64 shards here, simulating
    * per-microbatch/per-task files) is rewritten into a few right-sized
    * files (`repartition` + `maxRecordsPerFile`, the two levers that
    * control output file count and size). The gate aggregates the
    * COMPACTED copy — counts, distinct keys, exact value sum, ts bounds —
    * against the ORIGINAL table's oracle, proving the rewrite is lossless
    * through the full shard→compact round trip; ScaleSpec asserts the
    * file-count collapse itself. At 100 TB this is the difference between
    * a scan planning 10M tiny splits and 10k right-sized ones.
    */
  private[graft] def compactionDirs(dir: String): (java.nio.file.Path, java.nio.file.Path) = {
    val base = graft.util.Staging.dir("graft_compact", dir)
    (base.resolve("shards"), base.resolve("compact"))
  }

  def q95Compaction(spark: SparkSession, dir: String): DataFrame = {
    val (shards, compact) = compactionDirs(dir)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(shards.toString)
    spark.read.parquet(shards.toString)
      .repartition(4)
      .write.option("maxRecordsPerFile", "500000")
      .mode("overwrite").parquet(compact.toString)
    spark.read.parquet(compact.toString)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_events"),
        out2(sum(dec2(col("value")))).as("sum_value"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
  }

  val q95Oracle: String =
    """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value,
      |  MIN(ts) AS min_ts, MAX(ts) AS max_ts
      |FROM events""".stripMargin

  /** DYNAMIC partition overwrite — the idempotent partitioned-ingest
    * posture: re-running a slice's ingest replaces ONLY the partitions
    * the new data touches, leaving every other partition untouched
    * (static overwrite mode would truncate the whole table; append would
    * duplicate). Here the fact table is laid out by ship-month, then one
    * month is re-ingested with corrected quantities: the gate verifies
    * the corrected month AND the survival of every other month from the
    * original layout. At 100 TB this is how daily re-runs stay O(day),
    * not O(table).
    */
  def q116DynamicPartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_dpo_lineitem"
    val monthly = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("l_ship_month"))
    // fresh base layout each run (the overwrite-then-patch cycle IS the
    // semantics under test, so the base cannot be session-cached).
    // Repartition on the partition column first: one task owns one month,
    // so the layout lands as one file per partition instead of
    // (tasks × months) small files — the compaction-friendly ingest shape
    resetManagedTables(spark, Seq(table))
    monthly.repartition(col("l_ship_month"))
      .write.partitionBy("l_ship_month").mode("overwrite").saveAsTable(table)
    val patch = monthly.filter(col("l_ship_month") === "1996-03")
      .withColumn("l_quantity", col("l_quantity") + 100)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try patch.write.mode("overwrite").insertInto(table)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    spark.table(table)
      .groupBy(col("l_ship_month"))
      .agg(count(lit(1)).as("n_items"),
        out2(sum(dec2(col("l_quantity")))).as("sum_qty"))
      .orderBy(col("l_ship_month"))
  }

  val q116Oracle: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS l_ship_month, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(
      |    CASE WHEN strftime(l_shipdate, '%Y-%m') = '1996-03'
      |         THEN l_quantity + 100 ELSE l_quantity END
      |    AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY l_ship_month""".stripMargin

  /** NON-EQUI band join — temporal proximity pairs ACROSS ALL USERS (no
    * equi anchor exists: "any two events within a minute of each other").
    * Written naively this is exactly the shape Spark plans as a
    * broadcast-nested-loop join — O(n·m) comparisons, the non-equi scale
    * killer. The [[graft.plans.BandJoinRewrite]] optimizer rule rewrites
    * it automatically into a BINNED equi-join (bin = band width, probe
    * side explodes ≤ 2 bin keys, original predicate kept as residual),
    * so the plan PlanSpec pins has no BNLJ and the join shuffles on the
    * bin key like any hash join. The oracle replays the naive join —
    * n is small enough there — proving the rewrite exact.
    */
  def q122BandJoin(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.events(spark, dir)
      .select(col("event_id").as("ida"), expr("unix_micros(ts)").as("ta"))
    val b = Tables.events(spark, dir)
      .select(col("event_id").as("idb"), expr("unix_micros(ts)").as("tb"))
    a.join(b, col("tb") > col("ta") && col("tb") <= col("ta") + lit(60000000L))
      .select(col("ida"), col("idb"), (col("tb") - col("ta")).as("gap_us"))
      .orderBy(col("ida"), col("idb"))
  }

  val q122Oracle: String =
    """SELECT a.event_id AS ida, b.event_id AS idb,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM events a JOIN events b
      |  ON epoch_us(b.ts) > epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
      |ORDER BY ida, idb""".stripMargin

  /** SORTED LAKE LAYOUT (q153) — the range-clustered write that makes
    * min/max data skipping WORK: `repartitionByRange` + within-partition
    * sort on the cluster key yields files whose key ranges are PAIRWISE
    * DISJOINT, so a point/range predicate prunes to the one file that can
    * contain it (the 1-D complement to q92's Z-order, and the layout a
    * 100 TB fact table ships to the lake). The disjointness is verified
    * IN-QUERY from the `_metadata.file_name` virtual column: per-file
    * (min, max) ranges, sorted by min, must never overlap their
    * predecessor (window lag over the FILE frame — tiny, one row per
    * file). Roundtrip row count and value sum pin losslessness.
    */
  def q153SortedLayout(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir("graft_sorted", dir)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.mode("overwrite").parquet(out.toString)
    val files = spark.read.parquet(out.toString)
      .groupBy(col("_metadata.file_name").as("f"))
      .agg(min(col("l_shipdate")).as("lo"), max(col("l_shipdate")).as("hi"),
        count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lo"), col("f")) // file frame: one row per FILE, not per row
    files
      .withColumn("prev_hi", lag(col("hi"), 1).over(w))
      .agg(
        sum(col("n")).as("n_rows"),
        (sum(when(col("prev_hi").isNotNull && col("prev_hi") > col("lo"), 1)
          .otherwise(0)) === 0).as("ranges_disjoint"),
        min(col("lo")).as("min_shipdate"), max(col("hi")).as("max_shipdate"))
  }

  val q153Oracle: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS ranges_disjoint,
      |  MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate
      |FROM lineitem""".stripMargin

  /** APPROX-PERCENTILE audit (the q90 recipe for the quantile sketch):
    * `percentile_approx` is the mergeable fixed-size sketch a 100 TB
    * percentile query actually runs (the exact distributed-rank path in
    * q57/q69 costs a corpus shuffle; the sketch is one map-side-combined
    * aggregate). Its guarantee — rank error ≤ n/accuracy, under ANY
    * partitioning/merge order — is checked IN-QUERY against exact
    * per-group ranks and emitted as oracle-expected booleans: for each
    * fraction p/q the sketch's value v must satisfy
    * q·acc·|{x < v}| ≤ acc·p·n + q·n and q·acc·|{x ≤ v}| ≥ acc·p·n − q·n
    * (integer cross-multiplication, no floats). The verdict is robust to
    * the sketch's merge-order nondeterminism — the BOUND holds on every
    * run even when the estimate itself wobbles.
    */
  def q148ApproxPercentileAudit(spark: SparkSession, dir: String): DataFrame = {
    val acc = 100L
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile_approx(cents, array(0.25D, 0.5D, 0.75D), 100)").as("ap"))
      .select(col("l_returnflag"), col("ap")(0).as("v1"),
        col("ap")(1).as("v2"), col("ap")(2).as("v3"))
    def ok(v: org.apache.spark.sql.Column, p: Long, q: Long) = {
      val lt = sum(when(col("cents") < v, 1L).otherwise(0L))
      val le = sum(when(col("cents") <= v, 1L).otherwise(0L))
      val n = count(lit(1))
      (lt * q * acc <= n * (acc * p + q)) && (le * q * acc >= n * (acc * p - q))
    }
    li.join(broadcast(approx), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        ok(col("v1"), 1, 4).as("q25_ok"),
        ok(col("v2"), 1, 2).as("q50_ok"),
        ok(col("v3"), 3, 4).as("q75_ok"))
      .orderBy(col("l_returnflag"))
  }

  val q148Oracle: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** EQUI-DEPTH binning — the decile histogram build that feeds range
    * partitioners, data skipping, and drift monitors: every (group, bin)
    * holds n/10 rows by construction, boundaries fall where the DATA
    * says. Bin = ((rank−1)·10) div n with the rank from
    * [[graft.functions.PrefixSum.runningTotal]] over a unit column —
    * range exchange on (group, price, tiebreak), NOT a window partitioned
    * by the 3-value returnflag key (the anti-pattern; at 100 TB that puts
    * the corpus on 3 tasks). Bin stats are integer-exact cents.
    */
  def q149EquiDepthBins(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"),
        lit(1L).as("one"))
    val totals = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    graft.functions.PrefixSum
      .runningTotal(li, Seq("l_returnflag"),
        Seq(col("cents").asc, col("l_orderkey").asc, col("l_linenumber").asc),
        "one", "rk")
      .join(broadcast(totals), "l_returnflag")
      .withColumn("bin", expr("((rk - 1) * 10) div n"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy(col("l_returnflag"), col("bin"))
  }

  val q149Oracle: String =
    """WITH r AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),
      |               l_orderkey, l_linenumber) AS rk,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag, (rk - 1) * 10 // n AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
      |FROM r GROUP BY l_returnflag, (rk - 1) * 10 // n
      |ORDER BY l_returnflag, bin""".stripMargin

  /** LENGTH-BUCKETED training-batch assembly (q165) — the padding-
    * efficiency trick every seq2seq/LLM training loader applies: fixed
    * 32-doc batches padded to their longest member waste
    * Σ(B·max − Σlen) tokens, and batching SIMILAR lengths together
    * (sort by length, then cut batches) collapses that waste versus
    * arrival-order batching. Both strategies run in one query over the
    * same corpus with per-batch padding accounting, so the saving is
    * measured, not asserted — ScaleSpec pins bucketed ≪ arrival.
    *
    * Scale shape: each strategy is ONE distributed rank
    * ([[graft.functions.PrefixSum.runningTotal]] with a unit value — the
    * q149 recipe) over a range exchange on the sort key: no
    * empty-partition-by window, no corpus collect; batch stats are a
    * high-cardinality (strategy, batch_id) aggregate. Assigning
    * batch_id = (rank−1) div B keeps batches contiguous in the sorted
    * order — exactly what a loader shards to workers.
    */
  def q165LengthBucketedBatching(spark: SparkSession, dir: String): DataFrame = {
    val b = 32
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"),
        lit(1L).as("one"), lit("all").as("g"))
    def assemble(sortCols: Seq[org.apache.spark.sql.Column], strategy: String) =
      graft.functions.PrefixSum
        .runningTotal(docs, Seq("g"), sortCols, "one", "rk")
        .withColumn("batch_id", expr(s"(rk - 1) div $b"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("sum_len"))
        .select(lit(strategy).as("strategy"), col("batch_id"),
          col("n_docs"), col("max_len"),
          (col("n_docs") * col("max_len") - col("sum_len")).as("padding"))
    assemble(Seq(col("doc_id").asc), "arrival")
      .unionByName(assemble(Seq(col("n_tokens").asc, col("doc_id").asc), "bucketed"))
      .orderBy(col("strategy"), col("batch_id"))
  }

  val q165Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |u AS (
      |  SELECT 'arrival' AS strategy,
      |    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS batch_id, n_tokens
      |  FROM d
      |  UNION ALL
      |  SELECT 'bucketed',
      |    (ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1) // 32, n_tokens
      |  FROM d)
      |SELECT strategy, batch_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MAX(n_tokens) AS max_len,
      |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding
      |FROM u GROUP BY strategy, batch_id
      |ORDER BY strategy, batch_id""".stripMargin

  /** SALTING-PLAN ADVISOR (q249) — turn q177's skew diagnosis into an
    * executable mitigation plan: over the orders-per-customer key space
    * (o_custkey — the key the orders⋈customer join shuffles on, and the
    * fixture's genuinely skewed one: hottest customer at 2.5× the
    * mean), flag every key whose count exceeds 2× the mean
    * (cross-multiplied — c·n_keys > 2·total) and prescribe its salt
    * factor ⌈c·n_keys / (2·total)⌉ so each salted bucket lands near the
    * 2×-mean target. Planning-as-data: the output TABLE drives
    * [[graft.transform.Skew.saltedJoin]]'s per-key replication at run
    * time instead of a global worst-case salt constant. All integer
    * arithmetic. The hot threshold is `spark.graft.salt.thresholdPct`
    * (percent of mean, default 200 = 2× — the oracle's constant); the
    * spec drops it to prove the plan fires on the small fixture.
    *
    * Scale shape: one keyed hash-agg (map-side combine eats the hot
    * keys), 1-row totals crossJoin, output bounded by the hot-key
    * count — by construction under half the key space, in skewed
    * practice a handful.
    */
  def q249SaltPlan(spark: SparkSession, dir: String): DataFrame = {
    val t = spark.conf.getOption("spark.graft.salt.thresholdPct")
      .map(_.toLong).getOrElse(SaltThresholdPct)
    val counts = Tables.orders(spark, dir)
      .select(col("o_custkey").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .filter(col("c") * col("n_keys") * 100 > col("total") * t)
      .select(col("key"), col("c"),
        expr(s"""CAST((CAST(c AS DECIMAL(38,0)) * n_keys * 100 + $t * total - 1)
          | div ($t * CAST(total AS DECIMAL(38,0))) AS BIGINT)"""
          .stripMargin).as("salts"))
      .withColumn("rows_per_salt_ceil", expr("(c + salts - 1) div salts"))
      .orderBy(col("c").desc, col("key"))
  }

  val q249Oracle: String = {
    s"""WITH counts AS (
       |  SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM orders
       |  GROUP BY o_custkey),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
       |        CAST(COUNT(*) AS BIGINT) AS n_keys FROM counts)
       |SELECT key, c,
       |  CAST((CAST(c AS HUGEINT) * n_keys * 100 + $SaltThresholdPct * total - 1)
       |    // ($SaltThresholdPct * CAST(total AS HUGEINT)) AS BIGINT) AS salts,
       |  CAST((c + CAST((CAST(c AS HUGEINT) * n_keys * 100 + $SaltThresholdPct * total - 1)
       |    // ($SaltThresholdPct * CAST(total AS HUGEINT)) AS BIGINT) - 1)
       |    // CAST((CAST(c AS HUGEINT) * n_keys * 100 + $SaltThresholdPct * total - 1)
       |    // ($SaltThresholdPct * CAST(total AS HUGEINT)) AS BIGINT) AS BIGINT)
       |    AS rows_per_salt_ceil
       |FROM counts CROSS JOIN t
       |WHERE c * n_keys * 100 > total * $SaltThresholdPct
       |ORDER BY c DESC, key""".stripMargin
  }

  /** ZONE-MAP SKIP REPORT (q297) — the data-skipping audit a layout
    * advisor runs BEFORE committing to a sort order: price one ship-date
    * range predicate (Q1-1996 quarter) against the min/max zone maps of
    * TWO candidate layouts of the same fact table —
    *  - `arrival`: zones are l_orderkey div 4096 blocks, the key the
    *    table is clustered on at ingest (orderkey carries no date
    *    correlation, so every zone straddles the whole date range and
    *    min/max pruning is powerless — the "why is my scan slow" state);
    *  - `shipdate_calendar`: zones are calendar months (year·12+month),
    *    the layout a date-sort would produce, where pruning touches only
    *    the quarter's three zones.
    * Per layout: zone count, zones a min/max scan skips (zmax < lo or
    * zmin > hi), rows scanned vs matched, and the scan fraction in ppm —
    * the exact statistic behind parquet row-group pruning, surfaced as a
    * queryable 2-row comparison whose delta IS the re-sort's payoff.
    * Matched counts must agree across layouts (same predicate) — the
    * report's built-in soundness check.
    *
    * Scale shape: two keyed aggregates over one table scan each
    * (min/max/count all partial, map-side combine), zone-count-sized
    * frames after that, no joins against the fact table. At 100 TB the
    * same query prices skipping for any candidate predicate/layout pair
    * without re-writing a byte of data.
    */
  def q297ZonemapSkip(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-03-31").cast("timestamp")
    def report(zone: org.apache.spark.sql.Column, label: String): DataFrame =
      Tables.lineitem(spark, dir)
        .withColumn("zone", zone)
        .groupBy(col("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_shipdate")).as("zmin"),
          max(col("l_shipdate")).as("zmax"),
          sum(when(col("l_shipdate").between(lo, hi), 1L).otherwise(0L))
            .as("n_match"))
        .withColumn("skipped", col("zmax") < lo || col("zmin") > hi)
        .agg(count(lit(1)).as("n_zones"),
          sum(when(col("skipped"), 1L).otherwise(0L)).as("n_skipped"),
          sum(col("n_rows")).as("rows_total"),
          sum(when(!col("skipped"), col("n_rows")).otherwise(0L))
            .as("rows_scanned"),
          sum(col("n_match")).as("rows_matched"))
        .select(lit(label).as("layout"), col("n_zones"), col("n_skipped"),
          col("rows_total"), col("rows_scanned"), col("rows_matched"),
          expr("rows_scanned * 1000000L div rows_total")
            .as("scan_fraction_ppm"))
    report(expr("l_orderkey div 4096"), "arrival")
      .unionByName(report(
        expr("year(l_shipdate) * 12 + month(l_shipdate)"),
        "shipdate_calendar"))
      .orderBy(col("layout"))
  }

  val q297Oracle: String = {
    def rep(zone: String, label: String): String =
      s"""SELECT '$label' AS layout,
         |  CAST(COUNT(*) AS BIGINT) AS n_zones,
         |  CAST(SUM(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_skipped,
         |  CAST(SUM(n_rows) AS BIGINT) AS rows_total,
         |  CAST(SUM(CASE WHEN skipped THEN 0 ELSE n_rows END) AS BIGINT)
         |    AS rows_scanned,
         |  CAST(SUM(n_match) AS BIGINT) AS rows_matched,
         |  CAST(SUM(CASE WHEN skipped THEN 0 ELSE n_rows END) * 1000000
         |    // SUM(n_rows) AS BIGINT) AS scan_fraction_ppm
         |FROM (
         |  SELECT $zone AS zone, COUNT(*) AS n_rows,
         |    CAST(SUM(CASE WHEN l_shipdate BETWEEN TIMESTAMP '1996-01-01'
         |      AND TIMESTAMP '1996-03-31' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match,
         |    (MAX(l_shipdate) < TIMESTAMP '1996-01-01'
         |     OR MIN(l_shipdate) > TIMESTAMP '1996-03-31') AS skipped
         |  FROM lineitem GROUP BY 1)""".stripMargin
    s"""${rep("l_orderkey // 4096", "arrival")}
       |UNION ALL
       |${rep("year(l_shipdate) * 12 + month(l_shipdate)",
        "shipdate_calendar")}
       |ORDER BY layout""".stripMargin
  }

  /** Ring vnode positions for q371: shard s gets 32 virtual nodes at
    * md5("shard_{s}_vnode_{v}") 32-bit prefixes — deterministic, so
    * both engines inline the SAME ring as literals. Positions are
    * collision-free for these fixed strings (asserted in ScaleSpec). */
  private[graft] def ringVnodes(nShards: Int): Seq[(Long, Int)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (for (s <- 0 until nShards; v <- 0 until 32) yield {
      val h = md.digest(s"shard_${s}_vnode_$v".getBytes("UTF-8"))
      val pos = h.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      (pos, s)
    }).sortBy(_._1)
  }

  /** SHARD REBALANCE AUDIT (q371) — the migration-cost measurement behind
    * the "consistent hashing" slide: growing a keyed store from 8 to 9
    * shards, what fraction of keys MOVE under hash-mod placement vs a
    * 32-vnode consistent-hash ring? Mod reshuffles ~(n/(n+1)) of all keys
    * (every key whose h mod 8 ≠ h mod 9); the ring moves only the keys
    * whose arc lands on the new shard's vnodes (~1/9) — the audit prices
    * BOTH strategies on the real key population, with the post-migration
    * worst shard share as the balance check (a ring that moves nothing
    * but hot-spots one shard is not a win). Ring assignment = first
    * vnode clockwise of the key's 32-bit md5 position (wrap to the
    * ring's first vnode), evaluated as a codegen'd filter over the
    * inlined literal ring — q41's inline-the-deterministic-constants
    * discipline.
    *
    * Scale shape: one distinct-key projection, two pure-projection ring
    * assignments (no join — the ring is a 288-struct literal), one
    * rollup per strategy onto the bounded shard axis. Output is 2 rows.
    */
  def q371ShardRebalance(spark: SparkSession, dir: String): DataFrame = {
    def ringExpr(ring: Seq[(Long, Int)]): String = {
      val arr = ring.map { case (p, s) =>
        s"named_struct('pos', ${p}L, 'shard', $s)" }.mkString(",")
      s"coalesce(try_element_at(filter(array($arr), x -> x.pos >= h)," +
        s" 1).shard, ${ring.head._2})"
    }
    val oldRing = ringVnodes(8)
    val newRing = ringVnodes(9)
    val keys = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)" +
          " AS BIGINT)"))
    val assigned = keys
      .withColumn("mod_old", expr("h % 8"))
      .withColumn("mod_new", expr("h % 9"))
      .withColumn("ring_old", expr(ringExpr(oldRing)).cast("long"))
      .withColumn("ring_new", expr(ringExpr(newRing)).cast("long"))
    def report(name: String, oldC: String, newC: String): DataFrame = {
      val shares = assigned.groupBy(col(newC).as("shard"))
        .agg(count(lit(1)).as("sn"))
        .agg(max(col("sn")).as("max_sn"), sum(col("sn")).as("nk"))
      assigned.agg(count(lit(1)).as("n_keys"),
          sum(when(col(oldC) =!= col(newC), 1L).otherwise(0L))
            .as("moved_keys"))
        .crossJoin(broadcast(shares))
        .select(lit(name).as("strategy"), col("n_keys"), col("moved_keys"),
          expr("CAST(CAST(moved_keys AS DECIMAL(38,0)) * 1000000" +
            " div n_keys AS BIGINT)").as("moved_ppm"),
          expr("CAST(CAST(max_sn AS DECIMAL(38,0)) * 1000000 div nk" +
            " AS BIGINT)").as("max_new_share_ppm"))
    }
    report("mod", "mod_old", "mod_new")
      .unionByName(report("ring", "ring_old", "ring_new"))
      .orderBy(col("strategy"))
  }

  val q371Oracle: String = {
    def values(ring: Seq[(Long, Int)]): String =
      ring.map { case (p, s) => s"($p, $s)" }.mkString(", ")
    val oldRing = ringVnodes(8)
    val newRing = ringVnodes(9)
    s"""WITH u AS (
       |  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
       |k AS (
       |  SELECT user_id,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
       |      AS BIGINT) AS h
       |  FROM u),
       |ro(pos, shard) AS (VALUES ${values(oldRing)}),
       |rn2(pos, shard) AS (VALUES ${values(newRing)}),
       |a AS (
       |  SELECT k.user_id, k.h,
       |    k.h % 8 AS mod_old, k.h % 9 AS mod_new,
       |    CAST(COALESCE((SELECT r.shard FROM ro r WHERE r.pos >= k.h
       |      ORDER BY r.pos LIMIT 1), ${oldRing.head._2}) AS BIGINT)
       |      AS ring_old,
       |    CAST(COALESCE((SELECT r.shard FROM rn2 r WHERE r.pos >= k.h
       |      ORDER BY r.pos LIMIT 1), ${newRing.head._2}) AS BIGINT)
       |      AS ring_new
       |  FROM k),
       |rep AS (
       |  SELECT 'mod' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(SUM(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END)
       |      AS BIGINT) AS moved_keys,
       |    CAST((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM a
       |      GROUP BY mod_new)) AS BIGINT) AS max_sn
       |  FROM a
       |  UNION ALL
       |  SELECT 'ring', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(CASE WHEN ring_old <> ring_new THEN 1 ELSE 0 END)
       |      AS BIGINT),
       |    CAST((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM a
       |      GROUP BY ring_new)) AS BIGINT)
       |  FROM a)
       |SELECT strategy, n_keys, moved_keys,
       |  CAST(CAST(moved_keys AS HUGEINT) * 1000000 // n_keys AS BIGINT)
       |    AS moved_ppm,
       |  CAST(CAST(max_sn AS HUGEINT) * 1000000 // n_keys AS BIGINT)
       |    AS max_new_share_ppm
       |FROM rep ORDER BY strategy""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q371_shard_rebalance", q371ShardRebalance, q371Oracle),
    QuerySpec("q297_zonemap_skip", q297ZonemapSkip, q297Oracle),
    QuerySpec("q249_salt_plan", q249SaltPlan, q249Oracle),
    QuerySpec("q165_length_bucketed_batching", q165LengthBucketedBatching, q165Oracle),
    QuerySpec("q153_sorted_layout", q153SortedLayout, q153Oracle),
    QuerySpec("q148_approx_percentile_audit", q148ApproxPercentileAudit, q148Oracle),
    QuerySpec("q149_equidepth_bins", q149EquiDepthBins, q149Oracle),
    QuerySpec("q122_band_join", q122BandJoin, q122Oracle),
    QuerySpec("q116_dynamic_partition_overwrite", q116DynamicPartitionOverwrite, q116Oracle),
    QuerySpec("q95_compaction", q95Compaction, q95Oracle),
    QuerySpec("q93_bloom_pruned_join", q93BloomPrunedJoin, q93Oracle),
    QuerySpec("q75_bucketed_join", q75BucketedJoin, q75Oracle),
    QuerySpec("q77_skew_salted_join", q77SkewSaltedJoin, q77Oracle),
    QuerySpec("q83_partition_pruning", q83PartitionPruning, q83Oracle),
    QuerySpec("q92_zorder_cluster", q92ZorderCluster, q92Oracle))
}
