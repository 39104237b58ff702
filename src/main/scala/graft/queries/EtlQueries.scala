package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}
import graft.model.{ColumnMapping, TargetSchema}
import graft.store.Upsert
import graft.transform.Transforms

/** Tier-A ETL operators surfaced as verifiable queries (SURVEY.md §2.A
  * A10–A15, A19): exact/keyed dedup, schema mapping, staged upsert, AES
  * roundtrip. Each routes through the actual library functions in
  * `graft.transform` / `graft.store` so the correctness gate exercises the
  * production code paths, not query-local copies.
  */
object EtlQueries {
  import Exact._

  /** A10 exact all-column dedup (dropDuplicates ⇒ hash aggregate). The
    * projection has genuine duplicates (low-cardinality columns), so the
    * dedup does real work.
    */
  def q27DedupExact(spark: SparkSession, dir: String): DataFrame =
    Transforms.dedupExact(
      Tables.lineitem(spark, dir).select(
        col("l_returnflag"), col("l_linestatus"),
        date_trunc("month", col("l_shipdate")).as("ship_month")))
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("ship_month"))

  val q27Oracle: String =
    """SELECT DISTINCT l_returnflag, l_linestatus,
      |  CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month
      |FROM lineitem
      |ORDER BY l_returnflag, l_linestatus, ship_month""".stripMargin

  /** B14 keyed dedup with deterministic survivor (first lineitem per order
    * by linenumber) — the reproducible generalization of
    * `dropDuplicates(keys)`.
    */
  def q28DedupKeyed(spark: SparkSession, dir: String): DataFrame =
    Transforms.dedupKeyed(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          dec2(col("l_extendedprice")).as("price")),
      keys = Seq("l_orderkey"),
      tieBreak = Seq(col("l_linenumber"), col("l_partkey"), col("price")))
      .withColumn("price", col("price").cast(DoubleType)) // final output: double
      .orderBy(col("l_orderkey"))

  val q28Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, CAST(price AS DOUBLE) AS price FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, CAST(l_extendedprice AS DECIMAL(12,2))) AS rn
      |  FROM lineitem)
      |WHERE rn = 1
      |ORDER BY l_orderkey""".stripMargin

  /** A11–A13 schema mapping: rename + cast per target-schema config, as one
    * projection (reference `map_columns_to_target`,
    * `services/transformer.py:25-48`).
    */
  def q29SchemaMap(spark: SparkSession, dir: String): DataFrame =
    Transforms.mapColumnsToTarget(
      Tables.orders(spark, dir),
      TargetSchema(Seq(
        ColumnMapping("order_id", "o_orderkey", "string"),
        ColumnMapping("status", "o_orderstatus", "string"),
        ColumnMapping("total", "o_totalprice", "float"),
        ColumnMapping("placed_on", "o_orderdate", "date"),
        ColumnMapping("priority_code", "o_orderpriority", "string"))))
      .orderBy(col("order_id"))

  val q29Oracle: String =
    """SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
      |  o_orderstatus AS status,
      |  CAST(o_totalprice AS FLOAT) AS total,
      |  CAST(o_orderdate AS DATE) AS placed_on,
      |  o_orderpriority AS priority_code
      |FROM orders
      |ORDER BY order_id""".stripMargin

  /** A15 upsert semantics (delete-matched + insert-staging) as left-anti
    * join + unionByName — the reference's printed-but-never-executed SQL
    * (`services/data_store.py:29-41`) made real and verifiable.
    */
  def q30Upsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val target = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), dec2(col("o_totalprice")).as("total"),
        col("o_orderstatus").as("status"))
    val staging = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        (dec2(col("o_totalprice")) + lit(10)).cast(D2).as("total"),
        lit("U").as("status"))
    Upsert(target, staging, Seq("o_orderkey"))
      .withColumn("total", col("total").cast(DoubleType)) // final output: double
      .orderBy(col("o_orderkey"))
  }

  val q30Oracle: String =
    """WITH tgt AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS total,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |stg AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 10 AS DECIMAL(12,2)) AS total,
      |    'U' AS status
      |  FROM orders WHERE o_orderkey % 3 = 0)
      |SELECT o_orderkey, CAST(total AS DOUBLE) AS total, status FROM (
      |  SELECT t.* FROM tgt t WHERE NOT EXISTS
      |    (SELECT 1 FROM stg s WHERE s.o_orderkey = t.o_orderkey)
      |  UNION ALL
      |  SELECT * FROM stg)
      |ORDER BY o_orderkey""".stripMargin

  /** A19 AES-GCM encrypt/decrypt as distributed expressions. Ciphertext is
    * IV-randomized, so the verifiable output is the roundtrip (decrypt ∘
    * encrypt = identity); the oracle is the identity projection.
    */
  def q31AesRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val key = lit("0123456789abcdef0123456789abcdef") // 32-byte AES-256 key
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        Transforms.aesDecryptCol(
          Transforms.aesEncryptCol(col("c_name"), key), key).as("name_roundtrip"))
      .orderBy(col("c_custkey"))
  }

  val q31Oracle: String =
    """SELECT c_custkey, c_name AS name_roundtrip
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** A21 end-to-end: the constructor-injected pipeline — parquet source →
    * dedup+schema-map transform → parquet upsert store → post-process —
    * run twice against the same target (the second run upserts the same
    * keys), then the stored table is read back. Idempotence and the full
    * composition are what the oracle checks.
    */
  def q68EtlPipeline(spark: SparkSession, dir: String): DataFrame = {
    val target = s"${sys.props("java.io.tmpdir")}/graft_pipe_${Integer.toHexString(dir.hashCode)}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(target), true)
    val pipeline = new graft.pipeline.EtlPipeline(
      source = graft.sources.ParquetSource(s"$dir/customer.parquet"),
      transform = df => Transforms.mapColumnsToTarget(
        Transforms.dedupExact(df),
        TargetSchema(Seq(
          ColumnMapping("customer_id", "c_custkey", "string"),
          ColumnMapping("name", "c_name", "string"),
          ColumnMapping("segment", "c_mktsegment", "string")))),
      store = new graft.store.ParquetStore(target, Seq("customer_id")))
    pipeline.run(spark)
    pipeline.run(spark) // idempotent upsert of identical keys
    spark.read.parquet(target).orderBy(col("customer_id"))
  }

  val q68Oracle: String =
    """SELECT CAST(c_custkey AS VARCHAR) AS customer_id, c_name AS name,
      |  c_mktsegment AS segment
      |FROM customer
      |ORDER BY customer_id""".stripMargin

  /** CDC changelog application with MULTI-ENTRY keys: generation 1 updates
    * keys ≡0 (mod 3); generation 2 deletes keys ≡1 (mod 5) and re-updates
    * keys ≡0 (mod 15) — so some keys carry update-then-update (latest must
    * win) and some update-then-delete (must vanish despite the stale
    * update). The oracle replays the same latest-image set algebra.
    */
  def q70CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val target = orders
      .select(col("o_orderkey"), dec2(col("o_totalprice")).as("total"),
        col("o_orderstatus").as("status"))
    def gen(pred: org.apache.spark.sql.Column, delta: Int, status: String,
        op: String, seq: Int) =
      orders.filter(pred).select(col("o_orderkey"),
        (dec2(col("o_totalprice")) + lit(delta)).cast(D2).as("total"),
        lit(status).as("status"), lit(op).as("op"), lit(seq).as("seq"))
    val changelog =
      gen(col("o_orderkey") % 3 === 0, 5, "C1", "U", 1)
        .unionByName(gen(col("o_orderkey") % 5 === 1, 0, "XX", "D", 2))
        .unionByName(gen(col("o_orderkey") % 15 === 0, 7, "C2", "U", 2))
    graft.store.ApplyChangelog(target, changelog, Seq("o_orderkey"), "seq")
      .withColumn("total", col("total").cast(DoubleType)) // final output: double
      .orderBy(col("o_orderkey"))
  }

  val q70CdcOracle: String =
    """WITH tgt AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS total,
      |    o_orderstatus AS status FROM orders),
      |chg AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 5 AS DECIMAL(12,2)) AS total,
      |    'C1' AS status, 'U' AS op, 1 AS seq
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 0 AS DECIMAL(12,2)),
      |    'XX', 'D', 2 FROM orders WHERE o_orderkey % 5 = 1
      |  UNION ALL
      |  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 7 AS DECIMAL(12,2)),
      |    'C2', 'U', 2 FROM orders WHERE o_orderkey % 15 = 0),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      |  FROM chg)
      |SELECT o_orderkey, CAST(total AS DOUBLE) AS total, status FROM (
      |  SELECT t.* FROM tgt t WHERE NOT EXISTS
      |    (SELECT 1 FROM chg c WHERE c.o_orderkey = t.o_orderkey)
      |  UNION ALL
      |  SELECT o_orderkey, total, status FROM latest WHERE rn = 1 AND op <> 'D')
      |ORDER BY o_orderkey""".stripMargin

  /** Data-quality validation: five checks evaluated in one aggregation
    * pass; output is the per-check scoreboard.
    */
  def q71DataQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.QualityChecks._
    run(Tables.orders(spark, dir), Seq(
      notNull("o_custkey"),
      inRange("o_totalprice", 0, 1000000),
      inSet("o_orderstatus", Seq("F", "O", "P")),
      matches("o_orderpriority", "^[1-5]-"),
      uniqueKey("o_orderkey")))
  }

  val q71Oracle: String =
    """WITH wide AS (
      |  SELECT COUNT(*) AS total,
      |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS c2,
      |    SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS c3,
      |    SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS c4,
      |    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS c5
      |  FROM orders)
      |SELECT check_name, total, violations, violations = 0 AS passed FROM (
      |  SELECT total, 'not_null_o_custkey' AS check_name, CAST(c1 AS BIGINT) AS violations FROM wide
      |  UNION ALL SELECT total, 'range_o_totalprice', CAST(c2 AS BIGINT) FROM wide
      |  UNION ALL SELECT total, 'in_set_o_orderstatus', CAST(c3 AS BIGINT) FROM wide
      |  UNION ALL SELECT total, 'regex_o_orderpriority', CAST(c4 AS BIGINT) FROM wide
      |  UNION ALL SELECT total, 'unique_o_orderkey', CAST(c5 AS BIGINT) FROM wide)
      |ORDER BY check_name""".stripMargin

  /** SCD Type-2 dimension history from a change stream: each user's event
    * stream is read as attribute updates to `event_type`; consecutive
    * duplicates collapse and the surviving versions get [valid_from,
    * valid_to) intervals with the open one flagged current — the standard
    * warehouse dimension-history build ([[Transforms.scd2Historize]]).
    */
  def q102Scd2History(spark: SparkSession, dir: String): DataFrame =
    Transforms.scd2Historize(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type")),
      keys = Seq("user_id"), attrs = Seq("event_type"),
      ts = "ts", tieBreak = Seq("event_id"))
      .orderBy(col("user_id"), col("version"))

  val q102Oracle: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    ROW_NUMBER() OVER w AS rn, LAG(event_type) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |versions AS (
      |  SELECT user_id, event_id, ts, event_type FROM ordered
      |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
      |SELECT user_id, event_type, ts AS valid_from,
      |  LEAD(ts) OVER w2 AS valid_to,
      |  LEAD(ts) OVER w2 IS NULL AS is_current,
      |  CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS version
      |FROM versions
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** SCD2 POINT-IN-TIME JOIN (q201) — the read side of q102's dimension
    * history: every order is enriched with the dimension version that was
    * valid AT ITS TIMESTAMP (the PIT join behind every "as it was then"
    * report and every leakage-safe ML feature join — joining today's
    * attributes onto yesterday's facts is the classic label-leakage bug).
    * A version applies from valid_from inclusively, so at an exact
    * boundary the NEW version wins; orders before a user's first version
    * keep a NULL attribute (LEFT semantics).
    *
    * Implemented WITHOUT a range join: q56's union-window shape — version
    * rows and probe rows tag into ONE stream, one window over
    * (user, ts, is_probe) carries a running max of the
    * (valid_from, version, attr) struct, probes read it off. One shuffle
    * on the user key, no row multiplication, no BNLJ — the scalable PIT
    * form at any fact:dimension ratio. The oracle is DuckDB's native
    * ASOF LEFT JOIN against the q102-oracle version CTE.
    */
  def q201PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val versions = q102Scd2History(spark, dir)
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("version"))
    val probes = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("ts"))
    val tagged = versions
      .select(col("user_id"), col("valid_from").as("ts"),
        lit(null).cast("long").as("o_orderkey"), lit(false).as("is_probe"),
        struct(col("valid_from"), col("version"), col("event_type")).as("vrec"))
      .unionByName(probes
        .select(col("user_id"), col("ts"), col("o_orderkey"),
          lit(true).as("is_probe"),
          lit(null).cast("struct<valid_from:timestamp,version:int," +
            "event_type:string>").as("vrec")))
    // inclusive valid_from: at ts == valid_from the version row sorts
    // first (is_probe false < true), so the probe sees it
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("pit", max(col("vrec")).over(w))
      .filter(col("is_probe"))
      .select(col("o_orderkey"), col("user_id"), col("ts").as("order_ts"),
        col("pit.event_type").as("pit_event_type"),
        col("pit.version").as("pit_version"))
      .orderBy(col("o_orderkey"))
  }

  val q201Oracle: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    ROW_NUMBER() OVER w AS rn, LAG(event_type) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |versions AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS version
      |  FROM (SELECT user_id, event_id, ts, event_type FROM ordered
      |        WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |probes AS (
      |  SELECT o_orderkey, o_custkey AS user_id,
      |    CAST(o_orderdate AS TIMESTAMP) AS ts
      |  FROM orders)
      |SELECT p.o_orderkey, p.user_id, p.ts AS order_ts,
      |  (SELECT v.event_type FROM versions v
      |   WHERE v.user_id = p.user_id AND v.valid_from <= p.ts
      |   ORDER BY v.valid_from DESC, v.version DESC LIMIT 1) AS pit_event_type,
      |  (SELECT v.version FROM versions v
      |   WHERE v.user_id = p.user_id AND v.valid_from <= p.ts
      |   ORDER BY v.valid_from DESC, v.version DESC LIMIT 1) AS pit_version
      |FROM probes p
      |ORDER BY p.o_orderkey""".stripMargin

  /** CHANGE-FEED generation — the inverse of q70's changelog APPLY: two
    * snapshots of the orders table (deterministic deletes/updates/inserts
    * between them) diff into the I/U/D feed via one full-outer join on
    * the key ([[graft.store.ChangeFeed]]). PropertySpec proves the
    * algebra closes: applying the generated feed to the old snapshot
    * reproduces the new one.
    */
  def q129ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), dec2(col("o_totalprice")).as("total"),
        col("o_orderstatus").as("status"))
    val newer = base.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("total",
        when(col("o_orderkey") % 3 === 0, (col("total") + 5).cast(D2))
          .otherwise(col("total")))
      .unionByName(base.filter(col("o_orderkey") % 5 === 0)
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          col("total"), lit("N").as("status")))
    graft.store.ChangeFeed(base, newer, Seq("o_orderkey"))
      .withColumn("total", col("total").cast(DoubleType))
      .orderBy(col("o_orderkey"))
  }

  val q129Oracle: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS total,
      |    o_orderstatus AS status
      |  FROM orders)
      |SELECT k AS o_orderkey, CAST(total AS DOUBLE) AS total, status, op FROM (
      |  SELECT k, total, status, 'D' AS op FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k, CAST(total + 5 AS DECIMAL(12,2)), status, 'U'
      |  FROM base WHERE k % 3 = 0 AND k % 7 <> 0
      |  UNION ALL
      |  SELECT k + 10000000, total, 'N', 'I' FROM base WHERE k % 5 = 0)
      |ORDER BY o_orderkey""".stripMargin

  /** Column PROFILING — the per-column ingest report (completeness,
    * cardinality, range) every pipeline runs before trusting a feed: one
    * aggregation pass computes null count, exact distinct count, and
    * min/max (stringified for the uniform report schema) for each
    * profiled column, unpivoted to a row per column. Count-distincts over
    * several columns expand to a single multi-count aggregate — one scan,
    * no per-column jobs.
    */
  def q130ProfileColumns(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    // money pre-cast to DECIMAL(12,2): double→string formatting is not
    // portable across engines, decimal→string is
    val orders = Tables.orders(spark, dir)
      .withColumn("o_totalprice", dec2(col("o_totalprice")))
    val agg = orders.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast(StringType).as(s"${c}_min"),
        max(col(c)).cast(StringType).as(s"${c}_max"))): _*)
    cols.map { c =>
      agg.select(
        lit(c).as("column_name"), col("n_rows"),
        col(s"${c}_nulls").as("n_nulls"),
        col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").as("min_str"), col(s"${c}_max").as("max_str"))
    }.reduce(_ unionByName _).orderBy(col("column_name"))
  }

  val q130Oracle: String = {
    def row(c: String) =
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_str, CAST(MAX($c) AS VARCHAR) AS max_str
         |FROM (SELECT o_custkey, o_orderstatus, o_orderpriority,
         |        CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice FROM orders)""".stripMargin
    Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .map(row).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** CDC CHANGELOG COMPACTION (q255) — apply a change stream to produce
    * the current snapshot, the Delta/Hudi merge semantic every lakehouse
    * implements: per key keep the HIGHEST-sequence operation
    * (last-writer-wins via one struct-max aggregate — no window, no
    * sort), then drop keys whose final operation is a DELETE tombstone.
    * The changelog is synthesized deterministically from orders so the
    * oracle can rebuild it: seq 1 INSERTs every order; seq 2 UPDATEs
    * every 5th key (status → 'U'); seq 3 DELETEs every 7th. Keys hit by
    * both rules (every 35th) must resolve to the delete — ordering
    * bugs, not just merge bugs, hash-mismatch.
    *
    * Scale shape: one union scan → one hash-aggregate keyed on the
    * primary key. Compaction at 100 TB is exactly this shape, run
    * partition-by-partition.
    */
  def q255CdcCompaction(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val log = o.select(col("k"), lit(1L).as("seq"), lit("I").as("op"),
        col("status"), col("price"))
      .unionByName(o.filter(col("k") % 5 === 0)
        .select(col("k"), lit(2L).as("seq"), lit("U").as("op"),
          lit("U").as("status"), (col("price") + 1).as("price")))
      .unionByName(o.filter(col("k") % 7 === 0)
        .select(col("k"), lit(3L).as("seq"), lit("D").as("op"),
          lit(null).cast(StringType).as("status"),
          lit(null).cast(DoubleType).as("price")))
    log.groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("status"), col("price")))
        .as("last"))
      .filter(col("last.op") =!= "D")
      .select(col("k").as("o_orderkey"), col("last.op").as("last_op"),
        col("last.status").as("status"), col("last.price").as("price"))
      .orderBy(col("o_orderkey"))
  }

  val q255Oracle: String =
    """WITH log AS (
      |  SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS seq, 'I' AS op,
      |    o_orderstatus AS status, o_totalprice AS price
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', 'U', o_totalprice + 1
      |  FROM orders WHERE o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 3, 'D', NULL, NULL
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |last AS (
      |  SELECT k,
      |    (max({'seq': seq, 'op': op, 'status': status, 'price': price})).op
      |      AS last_op,
      |    (max({'seq': seq, 'op': op, 'status': status, 'price': price})).status
      |      AS status,
      |    (max({'seq': seq, 'op': op, 'status': status, 'price': price})).price
      |      AS price
      |  FROM log GROUP BY k)
      |SELECT k AS o_orderkey, last_op, status, price
      |FROM last
      |WHERE last_op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q255_cdc_compaction", q255CdcCompaction, q255Oracle),
    QuerySpec("q130_profile_columns", q130ProfileColumns, q130Oracle),
    QuerySpec("q129_change_feed", q129ChangeFeed, q129Oracle),
    QuerySpec("q102_scd2_history", q102Scd2History, q102Oracle),
    QuerySpec("q201_pit_join", q201PitJoin, q201Oracle),
    QuerySpec("q70_cdc_apply", q70CdcApply, q70CdcOracle),
    QuerySpec("q71_data_quality", q71DataQuality, q71Oracle),
    QuerySpec("q68_etl_pipeline", q68EtlPipeline, q68Oracle),
    QuerySpec("q27_dedup_exact", q27DedupExact, q27Oracle),
    QuerySpec("q28_dedup_keyed", q28DedupKeyed, q28Oracle),
    QuerySpec("q29_schema_map", q29SchemaMap, q29Oracle),
    QuerySpec("q30_upsert", q30Upsert, q30Oracle),
    QuerySpec("q31_aes_roundtrip", q31AesRoundtrip, q31Oracle))
}
