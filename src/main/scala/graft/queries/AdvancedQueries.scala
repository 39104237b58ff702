package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}
import graft.functions.{Percentiles, PrefixSum, TextFunctions}

/** Advanced relational + text operators: as-of join, exact percentiles,
  * histogram binning, edit-distance similarity, tf-idf term weighting.
  */
object AdvancedQueries {
  import Exact._

  /** As-of join — for each purchase, the latest strictly-preceding click of
    * the same user — WITHOUT a join: tag both event kinds, one window over
    * (user, time), running max of the click (ts, value) struct over
    * preceding rows. One shuffle on user_id, no row multiplication — the
    * scalable as-of shape. The oracle uses DuckDB's native ASOF JOIN.
    */
  def q56AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tagged = ev.filter(col("event_type").isin("purchase", "click"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        (col("event_type") === "click").as("is_click"))
    // at equal ts a click is NOT eligible (strict <), so purchases sort first
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_click"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tagged
      .withColumn("last_click",
        max(when(col("is_click"), struct(col("ts").as("cts"), col("value").as("cval"))))
          .over(w))
      .filter(!col("is_click"))
      .select(
        col("event_id"), col("user_id"),
        col("last_click.cts").as("click_ts"),
        col("last_click.cval").as("click_value"))
      .orderBy(col("event_id"))
  }

  val q56Oracle: String =
    """SELECT p.event_id, p.user_id, c.ts AS click_ts, c.value AS click_value
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.ts < p.ts
      |ORDER BY p.event_id""".stripMargin

  /** Exact interpolated percentiles per group (≡ DuckDB `quantile_cont`:
    * linear interpolation between closest ranks) — computed via the
    * DISTRIBUTED-RANK operator [[graft.functions.Percentiles]], not the
    * `percentile()` aggregate, whose per-group buffer-and-sort lands the
    * whole corpus on ≤5 reducers here at any scale. One range exchange on
    * (group, value), O(1)-memory rank streaming, broadcast rank picks;
    * bit-equal to the aggregate's interpolation formula (PercentilesSpec
    * proves it; PlanSpec pins the plan shape).
    */
  def q57Percentiles(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Percentiles.exactPercentiles(
        Tables.orders(spark, dir), "o_orderpriority", "o_totalprice",
        Seq(0.5, 0.9, 0.99))
      .select(
        col("o_orderpriority"),
        round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"),
        round(col("p99"), 4).as("p99"),
        col("n"))
      .orderBy(col("o_orderpriority"))

  val q57Oracle: String =
    """SELECT o_orderpriority,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |  ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Approximate percentiles (Greenwald-Khanna sketch) — the everyday
    * 100 TB percentile path: fixed-size mergeable sketch, no per-group
    * sort. Sketch values are implementation-specific, so the gate emits an
    * in-query `within_bounds` check of each approximate percentile against
    * the exact interpolated one (≤2.5% relative — p99 over a few hundred
    * rows per group is inherently noisy), which the DuckDB oracle expects
    * to be literally TRUE alongside the recomputed group counts — a full
    * oracle gate. The exact side comes from the distributed-rank operator
    * (the q57 path), so the VERIFICATION harness is as scale-safe as the
    * operator under test — no `percentile()` buffer-and-sort anywhere.
    */
  def q69ApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val approx = orders
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)").as("ap"),
        count(lit(1)).as("n"))
    val exact = graft.functions.Percentiles.exactPercentiles(
        orders, "o_orderpriority", "o_totalprice", Seq(0.5, 0.9, 0.99))
      .select(col("o_orderpriority"),
        array(col("p50"), col("p90"), col("p99")).as("ep"))
    approx.join(broadcast(exact), Seq("o_orderpriority"))
      .select(
        col("o_orderpriority"), col("n"),
        expr("forall(zip_with(ap, ep, (a, e) -> abs(cast(a AS double) - e) <= 0.025 * e), x -> x)")
          .as("within_bounds"))
      .orderBy(col("o_orderpriority"))
  }

  val q69Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n, TRUE AS within_bounds
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** MERGEABLE HLL sketches (Apache DataSketches via `hll_sketch_agg`) —
    * the re-aggregatable distinct-count path: per-group sketches are
    * built ONCE, then union to coarser granularities without rescanning
    * the data (`hll_union_agg`) — the OLAP-cube / pre-aggregation posture
    * q11's scalar `approx_count_distinct` can't express. The gate checks
    * BOTH levels in-query against exact distinct counts (≤5% relative,
    * deterministic — DataSketches HLL has no seed), and the oracle expects
    * the bounds to be literally TRUE beside the recomputed exact counts —
    * the q69 sketch-gate recipe.
    */
  def q94HllSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val perGroup = orders
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(
        expr("hll_sketch_agg(o_custkey, 12)").as("sk"),
        countDistinct(col("o_custkey")).as("n_distinct"))
    def bounded(df: DataFrame): DataFrame = df.select(
      col("grp"), col("n_distinct"),
      (abs(expr("hll_sketch_estimate(sk)") - col("n_distinct"))
        <= lit(0.05) * col("n_distinct")).as("within_bounds"))
    val groups = bounded(perGroup)
    val overall = bounded(
      perGroup.agg(expr("hll_union_agg(sk)").as("sk"))
        .join(broadcast(
          orders.agg(countDistinct(col("o_custkey")).as("n_distinct"))), lit(true))
        .withColumn("grp", lit("ALL")))
    groups.unionByName(overall).orderBy(col("grp"))
  }

  val q94Oracle: String =
    """SELECT grp, n_distinct, TRUE AS within_bounds FROM (
      |  SELECT o_orderpriority AS grp, COUNT(DISTINCT o_custkey) AS n_distinct
      |  FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT 'ALL', COUNT(DISTINCT o_custkey) FROM orders)
      |ORDER BY grp""".stripMargin

  /** Histogram binning via pure arithmetic (portable, unlike width_bucket
    * dialects): 50k-wide buckets over order totals.
    */
  def q58Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(least(floor(col("o_totalprice") / 50000), lit(9)).cast(IntegerType).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        out2(sum(dec2(col("o_totalprice")))).as("sum_total"))
      .orderBy(col("bucket"))

  val q58Oracle: String =
    """SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 9) AS INTEGER) AS bucket,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_total
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Edit-distance similarity over near-id part-name pairs (the
    * string-metric complement to token-level dedup).
    */
  def q59EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val a = p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"))
    // a bare id-range join would plan as a nested loop (O(n²)); a small
    // fixed offset set turns it into a union of equi-joins — one shuffle
    // each, linear work
    val pairs = (1 to 2).map(off =>
        a.join(b, col("id_b") === col("id_a") + off))
      .reduce(_ unionByName _)
    pairs
      .select(
        col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b")).as("edit_dist"),
        (element_at(split(col("name_a"), " "), -1) ===
          element_at(split(col("name_b"), " "), -1)).as("same_noun"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q59Oracle: String =
    """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
      |  string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1] AS same_noun
      |FROM part a JOIN part b
      |  ON b.p_partkey > a.p_partkey AND b.p_partkey <= a.p_partkey + 2
      |ORDER BY id_a, id_b""".stripMargin

  /** tf-idf term weighting: top-3 terms per document. tf and df come from
    * two hash aggregates; the document count joins in as a broadcast 1-row
    * frame (no driver round-trip, no global window).
    */
  def q60TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .join(broadcast(nDocs), lit(true))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast(DoubleType) / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"),
        round(col("tfidf"), 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rn"))
  }

  val q60Oracle: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, rn, term, tfidf FROM (
      |  SELECT tf.doc_id, tf.term,
      |    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) DESC, tf.term) AS INTEGER) AS rn
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin

  /** FUNNEL analysis — ordered-stage conversion (view → click → purchase):
    * a user reaches a stage only via an event STRICTLY AFTER their first
    * event of the previous stage. Three high-cardinality-key aggregations
    * chained by user_id equi-joins — each stage shrinks the frame, no
    * window over a hot key, no row explosion; the standard product-
    * analytics query at any scale.
    */
  def q96Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    def firstAfter(evType: String, prev: DataFrame): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
        .filter(col("ts") > col("prev_t"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val clicks = firstAfter("click", views)
    val purchases = firstAfter("purchase", clicks)
    views.agg(count(lit(1)).as("n_users")).select(lit("a_view").as("stage"), col("n_users"))
      .unionByName(clicks.agg(count(lit(1)).as("n_users"))
        .select(lit("b_click").as("stage"), col("n_users")))
      .unionByName(purchases.agg(count(lit(1)).as("n_users"))
        .select(lit("c_purchase").as("stage"), col("n_users")))
      .orderBy(col("stage"))
  }

  val q96Oracle: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      |  WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT stage, n_users FROM (
      |  SELECT 'a_view' AS stage, COUNT(*) AS n_users FROM v
      |  UNION ALL SELECT 'b_click', COUNT(*) FROM c
      |  UNION ALL SELECT 'c_purchase', COUNT(*) FROM p)
      |ORDER BY stage""".stripMargin

  /** Content-hash exact dedup at scale: md5 of the text is the dedup key
    * (how petabyte corpora dedup without comparing full texts); keeps the
    * lowest doc_id per hash.
    */
  def q61DedupContentHash(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("h"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val q61Oracle: String =
    """SELECT doc_id, h, n_chars FROM (
      |  SELECT doc_id, md5(text) AS h, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** Top-k per group through the CUSTOM PHYSICAL OPERATOR
    * [[graft.plans.GroupTopK]] (logical node → strategy → heap-based exec,
    * one shuffle, NO sort) — same semantics as the window-function q18, and
    * checked against the same oracle.
    */
  def q62TopKCustomOperator(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        money(col("c_acctbal")).as("balance"))
    graft.plans.GroupTopK.topKPerGroup(
        base,
        keyCols = Seq("c_mktsegment"),
        orderDescCol = "balance",
        tieAscCol = "c_custkey",
        k = 3)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  // identical to the q18 oracle (the operator must reproduce the window
  // formulation exactly)
  val q62Oracle: String =
    """SELECT c_mktsegment, c_custkey, balance, rn FROM (
      |  SELECT c_mktsegment, c_custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS balance,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
      |  FROM customer)
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** Deterministic hash-based train/val/test split — the reproducible way
    * to partition a training corpus (content-independent RNG splits break
    * on re-runs and on data re-ordering; a key hash never does). md5 is
    * identical in Spark and DuckDB, so the assignment itself is
    * oracle-gated.
    */
  def q63TrainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast(StringType)), 1, 1).as("hx"))
      .withColumn("split",
        when(col("hx").isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b"), "train")
          .when(col("hx").isin("c", "d"), "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
      .orderBy(col("split"))

  val q63Oracle: String =
    """SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id FROM (
      |  SELECT doc_id,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      |              IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
      |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |GROUP BY split
      |ORDER BY split""".stripMargin

  /** Sequence packing: stream documents (per language, in id order) into
    * ~2048-token training bins via a running token cumsum — the standard
    * pre-tokenization packing pass. The cumsum rides
    * [[graft.functions.PrefixSum.runningTotal]]: `lang` is a ~5-value key,
    * so the window form (`Window.partitionBy(lang)`) would hand the whole
    * corpus to 5 tasks at any scale — the exact anti-pattern the two-pass
    * scaffold exists to cure (range exchange on (lang, doc_id), offsets
    * over the tiny P·G frame; same shape as q128).
    */
  def q64SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens_l"))
    PrefixSum
      .runningTotal(scored, Seq("lang"), Seq(col("doc_id")), "n_tokens_l", "cum_tokens")
      .withColumn("bin", floor((col("cum_tokens") - 1) / 2048).cast(IntegerType))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("cum_tokens"), col("bin"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val q64Oracle: String =
    """SELECT lang, doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
      |  CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER))
      |    OVER (PARTITION BY lang ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(FLOOR((CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER))
      |    OVER (PARTITION BY lang ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1) / 2048) AS INTEGER) AS bin
      |FROM documents
      |ORDER BY lang, doc_id""".stripMargin

  /** Exponential time-decay features — the recency-weighted activity
    * signal (feature-store staple): per user, over the trailing 16 events,
    * a half-life-per-event weighted value sum. Weights are powers of two
    * over CENTS integers, so every term (cents·2^-k, k ≤ 15: a 31-bit
    * dyadic) and every partial sum stays exact in double arithmetic —
    * order-independent, hence replayable bit-for-bit by the oracle's
    * index-aware list fold. One window exchange on user_id; the frame
    * fold is per-row compute (no second shuffle). `ewma` divides two
    * identical exact doubles, so it too is deterministic across engines.
    */
  def q103DecayFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w16 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-15, Window.currentRow)
    val withArr = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .withColumn("arr", collect_list(col("cents")).over(w16))
    val m = size(col("arr"))
    // fold with index: element i (0-based) of an m-frame weighs 2^(i-m+1)
    // — current row (last) weighs 1, each step back halves
    val decayed = aggregate(
      col("arr"),
      struct(lit(0.0).as("s"), lit(0).as("i")),
      (acc, x) => struct(
        (acc.getField("s") +
          x.cast(DoubleType) * pow(lit(2.0), acc.getField("i") - m + 1)).as("s"),
        (acc.getField("i") + 1).as("i")),
      acc => acc.getField("s"))
    // geometric norm over the actual frame: sum 2^(i-m+1) = 2 - 2^(1-m)
    val norm = lit(2.0) - pow(lit(2.0), lit(1) - m)
    withArr.select(
      col("user_id"), col("event_id"), col("ts"),
      decayed.as("decay_cents"),
      // no rounding: both engines divide IDENTICAL exact doubles, and
      // identical doubles stringify identically — a round() would only
      // introduce cross-engine tie-rule risk
      (decayed / norm / 100.0).as("ewma"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val q103Oracle: String =
    """SELECT user_id, event_id, ts,
      |  list_sum(list_transform(arr, (x, i) -> x * power(2.0, i - len(arr)))) AS decay_cents,
      |  list_sum(list_transform(arr, (x, i) -> x * power(2.0, i - len(arr))))
      |    / (2.0 - power(2.0, 1 - len(arr))) / 100.0 AS ewma
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
      |  FROM (SELECT user_id, event_id, ts,
      |          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |        FROM events))
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** Correlation / regression statistics, INTEGER-EXACT: Pearson r and
    * the OLS slope between event value (cents) and hour-of-day, per event
    * type. Both engines' stock corr() aggregates disagree in the last ulp
    * (different accumulation orders), so the moments n, Σx, Σy, Σxy, Σx²,
    * Σy² are computed exactly — one map-side-combined aggregate, exact
    * and order-independent — and r/slope assemble from them with
    * identical IEEE ops (sqrt is correctly rounded; divisions see
    * identical operands). This is also the SCALABLE shape: moments
    * partial-aggregate; a rank-based or pairwise formulation would not.
    * The second-order sums accumulate as DECIMAL(38,0): a BIGINT Σx²
    * wraps silently in Spark (non-ANSI) once Σ cents² exceeds 2⁶³ —
    * ≈10⁹ rows at 4-digit cent values — while DuckDB sums via HUGEINT,
    * so the engines would diverge exactly at the scale this query is
    * pitched for. The moment COMBINATIONS (n·Σxy − Σx·Σy etc.) stay in
    * DECIMAL(38,0) too before the final double cast.
    */
  def q110CorrStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      col("event_type"),
      (dec2(col("value")) * 100).cast(LongType).as("x"),
      hour(col("ts")).cast(LongType).as("y"))
    val d38 = DecimalType(38, 0)
    val n = col("n").cast(d38)
    val sx = col("sx").cast(d38)
    val sy = col("sy").cast(d38)
    val cxy = n * col("sxy") - sx * sy
    val vx = n * col("sx2") - sx * sx
    val vy = n * col("sy2") - sy * sy
    e.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"),
        sum(col("x").cast(d38) * col("x")).as("sx2"),
        sum(col("y").cast(d38) * col("y")).as("sy2"))
      .select(
        col("event_type"), col("n"),
        when(vx > 0 && vy > 0,
          cxy.cast(DoubleType)
            / (sqrt(vx.cast(DoubleType)) * sqrt(vy.cast(DoubleType))))
          .as("pearson_r"),
        when(vx > 0, cxy.cast(DoubleType) / vx.cast(DoubleType)).as("ols_slope"))
      .orderBy(col("event_type"))
  }

  val q110Oracle: String =
    // moments and their combinations stay HUGEINT (exact to 1.7e38, the
    // mirror of the Spark side's DECIMAL(38,0)) — only the final ratio
    // casts to double, so both engines divide identical exact operands
    """SELECT event_type, CAST(n AS BIGINT) AS n,
      |  CASE WHEN n*sx2 - sx*sx > 0 AND n*sy2 - sy*sy > 0
      |    THEN CAST(n*sxy - sx*sy AS DOUBLE)
      |      / (sqrt(CAST(n*sx2 - sx*sx AS DOUBLE)) * sqrt(CAST(n*sy2 - sy*sy AS DOUBLE)))
      |  END AS pearson_r,
      |  CASE WHEN n*sx2 - sx*sx > 0
      |    THEN CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sx2 - sx*sx AS DOUBLE)
      |  END AS ols_slope
      |FROM (
      |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT)*y) AS sxy,
      |    SUM(CAST(x AS HUGEINT)*x) AS sx2, SUM(CAST(y AS HUGEINT)*y) AS sy2
      |  FROM (SELECT event_type,
      |          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
      |          CAST(hour(ts) AS BIGINT) AS y
      |        FROM events)
      |  GROUP BY event_type)
      |ORDER BY event_type""".stripMargin

  /** Exact ROLLING median — the robust rolling signal (spike-resistant
    * where q103's decay mean is not): per user, the median of the
    * trailing 15 events' values. The frame is BOUNDED, so the per-row
    * sort is O(16 log 16) compute inside the projection — no second
    * shuffle, no percentile state; the only exchange is the window's
    * user_id partition. Arithmetic is cents-integer: the median of an
    * even frame averages two longs with one identical IEEE division, so
    * the oracle matches bit-for-bit. (Unbounded exact percentiles are a
    * different operator — q57's distributed rank.)
    */
  def q111RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w15 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-14, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .withColumn("sorted", sort_array(collect_list(col("cents")).over(w15)))
      .withColumn("m", size(col("sorted")))
      .select(
        col("user_id"), col("event_id"), col("ts"), col("m").as("n_frame"),
        // lo = hi at odd m; even m averages the two middle cents values
        ((expr("element_at(sorted, cast((m + 1) div 2 as int))")
          + expr("element_at(sorted, cast(m div 2 + 1 as int))")) / 200.0)
          .as("rolling_median"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val q111Oracle: String =
    """SELECT user_id, event_id, ts, CAST(len(l) AS INTEGER) AS n_frame,
      |  (l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 200.0 AS rolling_median
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS l
      |  FROM (SELECT user_id, event_id, ts,
      |          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |        FROM events))
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** Time-series RESAMPLING: each user's irregular event stream becomes a
    * regular hourly grid with LINEAR INTERPOLATION between the
    * surrounding observations (backfill before the first, carry-forward
    * after the last, exact value on a direct hit). Implementation is the
    * union-and-two-frames shape: grid rows union with observation rows,
    * one window partitioning per user orders by (t, is_grid) — an
    * observation at a grid instant sorts first and becomes its value —
    * and growing frames pull (prev, next) observation value and time —
    * the "next" side runs on a REVERSE-ordered growing frame rather than
    * an UNBOUNDED FOLLOWING one: Spark evaluates unbounded-following
    * frames by rescanning the shrinking frame per row (O(n²) per
    * partition — measured 12 s at sf0.1), while a reversed
    * unbounded-preceding frame is the O(n) running aggregate. One
    * exchange on user_id (the two sorts are partition-local); grid
    * generation is sequence+explode over a per-user bounds aggregate.
    * Arithmetic: cents integers and epoch seconds, so the interpolation
    * works on identical exact doubles in both engines; event_id makes
    * the ordering total where two events share a timestamp.
    */
  def q115ResampleInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"),
      expr("unix_micros(ts) div 1000000").as("t"),
      (dec2(col("value")) * 100).cast(LongType).as("cents"),
      col("event_id"))
    val bounds = ev.groupBy(col("user_id"))
      .agg(expr("min(t) div 3600").as("h0"), expr("max(t) div 3600").as("h1"))
    val grid = bounds
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
      .select(col("user_id"), (col("h") * 3600).as("t"),
        lit(null).cast(LongType).as("cents"),
        lit(null).cast(LongType).as("event_id"), lit(1).as("is_grid"))
    val all = ev.withColumn("is_grid", lit(0)).unionByName(grid)
    val wp = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("is_grid").asc, col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exact reverse of wp's total order → "first at-or-after" as an O(n)
    // running aggregate instead of an O(n²) unbounded-following frame
    val wr = Window.partitionBy(col("user_id"))
      .orderBy(col("t").desc, col("is_grid").desc, col("event_id").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsT = when(col("cents").isNotNull, col("t"))
    all
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wp))
      .withColumn("pt", last(obsT, ignoreNulls = true).over(wp))
      .withColumn("nv", last(col("cents"), ignoreNulls = true).over(wr))
      .withColumn("nt", last(obsT, ignoreNulls = true).over(wr))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("t").as("grid_ts"),
        (when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .when(col("nt") === col("pt"), col("pv"))
          .otherwise(col("pv") +
            (col("nv") - col("pv")) * (col("t") - col("pt"))
              / (col("nt") - col("pt")))
          / 100.0).as("value_interp"))
      .orderBy(col("user_id"), col("grid_ts"))
  }

  val q115Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) // 1000 AS t,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents, event_id
      |  FROM events),
      |bounds AS (
      |  SELECT user_id, MIN(t) // 3600 AS h0, MAX(t) // 3600 AS h1
      |  FROM ev GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, CAST(h * 3600 AS BIGINT) AS t,
      |    CAST(NULL AS BIGINT) AS cents, CAST(NULL AS BIGINT) AS event_id, 1 AS is_grid
      |  FROM bounds, UNNEST(range(h0, h1 + 1)) AS g(h)),
      |allr AS (
      |  SELECT user_id, t, cents, event_id, 0 AS is_grid FROM ev
      |  UNION ALL SELECT user_id, t, cents, event_id, is_grid FROM grid),
      |win AS (
      |  SELECT *,
      |    last_value(cents IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN cents IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS pt,
      |    first_value(cents IGNORE NULLS) OVER wn AS nv,
      |    first_value(CASE WHEN cents IS NOT NULL THEN t END IGNORE NULLS) OVER wn AS nt
      |  FROM allr
      |  WINDOW
      |    wp AS (PARTITION BY user_id ORDER BY t, is_grid, event_id NULLS FIRST
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wn AS (PARTITION BY user_id ORDER BY t, is_grid, event_id NULLS FIRST
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, t AS grid_ts,
      |  CASE WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       WHEN nt = pt THEN pv
      |       ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END / 100.0 AS value_interp
      |FROM win WHERE is_grid = 1
      |ORDER BY user_id, grid_ts""".stripMargin

  /** Exact WEIGHTED median — each value weighted by its quantity (the
    * "median price per unit sold" statistic plain medians get wrong).
    * Runs on [[Percentiles.exactWeightedQuantiles]]: a range exchange on
    * (returnflag, price) spreads every group across the cluster, the
    * cumulative weight comes from per-partition streaming sums + a
    * prefix-offset window over the tiny P·G frame, and the median row is
    * the map-side partial MIN of the qualifying suffix (cw·2 ≥ tw). The
    * pre-round-6 shape — a window cumsum partitioned by the 3-value
    * returnflag — put the whole corpus in 3 tasks at any scale; this one
    * has no corpus-wide hash exchange on the group at all. All integer
    * arithmetic (cents × quantity-cents longs), so the threshold compare
    * and the selected value replay exactly in DuckDB.
    */
  def q121WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_returnflag"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("v"),
      (dec2(col("l_quantity")) * 100).cast(LongType).as("w"))
    Percentiles
      .exactWeightedQuantiles(li, "l_returnflag", "v", "w",
        Seq(("median_cents", 1L, 2L)))
      .select(col("l_returnflag"),
        (col("median_cents") / 100.0).as("weighted_median"),
        (col("total_w") / 100.0).as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** Weighted QUARTILES per event type — the multi-fraction face of
    * [[Percentiles.exactWeightedQuantiles]] (q121 gates the median):
    * event values weighted by their hour-of-day+1 (a deterministic
    * positive integer weight), quartiles at exact rationals 1/4, 1/2,
    * 3/4 picked by integer threshold compares (cw·4 ≥ tw·k). One range
    * exchange; the oracle replays the sequential cumulative-weight
    * definition with a window — equality proves the distributed
    * decomposition, not just the median special case.
    */
  def q132WeightedQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type"),
      (dec2(col("value")) * 100).cast(LongType).as("v"),
      (hour(col("ts")) + 1).cast(LongType).as("w"))
    Percentiles
      .exactWeightedQuantiles(ev, "event_type", "v", "w",
        Seq(("q1_cents", 1L, 4L), ("q2_cents", 1L, 2L), ("q3_cents", 3L, 4L)))
      .select(col("event_type"),
        (col("q1_cents") / 100.0).as("wq1"),
        (col("q2_cents") / 100.0).as("wq2"),
        (col("q3_cents") / 100.0).as("wq3"),
        col("total_w"))
      .orderBy(col("event_type"))
  }

  val q132Oracle: String =
    """WITH ranked AS (
      |  SELECT event_type, v, w,
      |    SUM(w) OVER (PARTITION BY event_type ORDER BY v, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY event_type) AS tw
      |  FROM (SELECT event_type, event_id,
      |          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
      |          CAST(hour(ts) + 1 AS BIGINT) AS w
      |        FROM events))
      |SELECT event_type,
      |  MIN(CASE WHEN cw * 4 >= tw * 1 THEN v END) / 100.0 AS wq1,
      |  MIN(CASE WHEN cw * 2 >= tw * 1 THEN v END) / 100.0 AS wq2,
      |  MIN(CASE WHEN cw * 4 >= tw * 3 THEN v END) / 100.0 AS wq3,
      |  CAST(MIN(tw) AS BIGINT) AS total_w
      |FROM ranked
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val q121Oracle: String =
    """WITH ranked AS (
      |  SELECT l_returnflag, v, w,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v, l_orderkey, l_linenumber
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM (SELECT l_returnflag,
      |          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
      |          CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS w,
      |          l_orderkey, l_linenumber
      |        FROM lineitem))
      |SELECT l_returnflag,
      |  MIN(CASE WHEN cw * 2 >= tw THEN v END) / 100.0 AS weighted_median,
      |  MIN(tw) / 100.0 AS total_weight
      |FROM ranked
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** COHORT RETENTION — the product-analytics staple: users grouped by
    * first-seen week (their cohort), then counted per (cohort, weeks-
    * since-cohort) cell — the retention matrix. Three skew-free
    * aggregations keyed on user_id or (cohort, offset): min-ts per user,
    * distinct user-weeks, then the matrix roll-up; the per-user cohort
    * joins back broadcast-free on user_id (high cardinality). All-integer
    * week arithmetic (ISO Monday truncation, day-diff div 7), so counts
    * replay exactly.
    */
  def q123CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast(DateType).as("wk"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    val active = ev.distinct()
    active.join(cohorts, "user_id")
      .select(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast(IntegerType).as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q123Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id, wk FROM ev)
      |SELECT cohort_week,
      |  CAST((wk - cohort_week) // 7 AS INTEGER) AS week_offset,
      |  COUNT(*) AS n_users
      |FROM active JOIN cohorts USING (user_id)
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** SPIKE detection against the rolling median — the robust anomaly
    * screen (a mean-based threshold is dragged by the spike itself; the
    * median is not): an event is a spike when its value exceeds 3× the
    * median of the PRECEDING 15 events. The verdict is INTEGER-EXACT:
    * with lo+hi the two middle cents of the sorted frame (their sum is
    * twice the median), `cents > 3 × median` is exactly
    * `2·cents > 3·(lo+hi)` — no float in the decision. Same single
    * user_id window exchange as q111; the frame here is 15 PRECEDING to
    * 1 PRECEDING so the candidate never votes on its own baseline.
    */
  def q124SpikeDetect(spark: SparkSession, dir: String): DataFrame = {
    val w15 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-15, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .withColumn("sorted", sort_array(collect_list(col("cents")).over(w15)))
      .withColumn("m", size(col("sorted")))
      .filter(col("m") >= 4) // too little history → no verdict
      .select(
        col("user_id"), col("event_id"), col("ts"),
        (col("cents") / 100.0).as("value"),
        ((expr("element_at(sorted, cast((m + 1) div 2 as int))")
          + expr("element_at(sorted, cast(m div 2 + 1 as int))")) / 200.0)
          .as("baseline_median"),
        (col("cents") * 2 >
          (expr("element_at(sorted, cast((m + 1) div 2 as int))")
            + expr("element_at(sorted, cast(m div 2 + 1 as int))")) * 3)
          .as("is_spike"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val q124Oracle: String =
    """SELECT user_id, event_id, ts, cents / 100.0 AS value,
      |  (l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 200.0 AS baseline_median,
      |  cents * 2 > (l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) * 3 AS is_spike
      |FROM (
      |  SELECT user_id, event_id, ts, cents,
      |    list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 15 PRECEDING AND 1 PRECEDING)) AS l
      |  FROM (SELECT user_id, event_id, ts,
      |          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |        FROM events))
      |WHERE len(l) >= 4
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** SESSIONIZED funnel — conversion measured WITHIN a visit, the form
    * product analytics actually uses (q96's lifetime funnel credits a
    * purchase days after the view; this one requires view → click →
    * purchase inside one 30-minute-gap session). Sessionization is the
    * explicit lag/cumsum window (one user_id exchange); the stage chain
    * is three (user, session)-keyed aggregates with ts-ordered
    * first-reach semantics — high-cardinality keys throughout, so every
    * shuffle stays skew-free at corpus scale.
    */
  def q125SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("is_new",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) >= 1800L * 1000000, 1).otherwise(0))
      .withColumn("sid", sum(col("is_new")).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val keys = Seq("user_id", "sid")
    val views = sess.filter(col("event_type") === "view")
      .groupBy(keys.map(col): _*).agg(min(col("us")).as("va"))
    val clicks = sess.filter(col("event_type") === "click")
      .join(views, keys).filter(col("us") > col("va"))
      .groupBy(keys.map(col): _*).agg(min(col("us")).as("ca"))
    val purchases = sess.filter(col("event_type") === "purchase")
      .join(clicks, keys).filter(col("us") > col("ca"))
      .groupBy(keys.map(col): _*).agg(min(col("us")).as("pa"))
    views.agg(count(lit(1)).as("n_sessions"))
      .select(lit("a_view").as("stage"), col("n_sessions"))
      .unionByName(purchasesStage("b_click", clicks))
      .unionByName(purchasesStage("c_purchase", purchases))
      .orderBy(col("stage"))
  }

  private def purchasesStage(stage: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_sessions"))
      .select(lit(stage).as("stage"), col("n_sessions"))

  val q125Oracle: String =
    """WITH brk AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM brk),
      |v AS (SELECT user_id, sid, MIN(us) AS va FROM sess
      |      WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT s.user_id, s.sid, MIN(s.us) AS ca FROM sess s
      |      JOIN v ON s.user_id = v.user_id AND s.sid = v.sid AND s.us > v.va
      |      WHERE s.event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT s.user_id, s.sid, MIN(s.us) AS pa FROM sess s
      |      JOIN c ON s.user_id = c.user_id AND s.sid = c.sid AND s.us > c.ca
      |      WHERE s.event_type = 'purchase' GROUP BY 1, 2)
      |SELECT stage, n_sessions FROM (
      |  SELECT 'a_view' AS stage, COUNT(*) AS n_sessions FROM v
      |  UNION ALL SELECT 'b_click', COUNT(*) FROM c
      |  UNION ALL SELECT 'c_purchase', COUNT(*) FROM p)
      |ORDER BY stage""".stripMargin

  /** PARETO / ABC contribution analysis — each customer's share of their
    * segment's revenue plus the cumulative share in descending-revenue
    * order, classified A (first 70% of revenue), B (to 90%), C (tail).
    * The classification compares integers only: `cum·1 > total·0.7` is
    * `10·cum > 7·total` in cents longs, so the A/B/C verdicts are exact
    * in both engines; the reported shares divide identical exact longs.
    * The running revenue comes from [[PrefixSum.runningTotal]] — a range
    * exchange on (segment, revenue desc, custkey) plus two-pass offsets —
    * NOT a window partitioned by the 5-value segment key, which would
    * put the whole per-customer frame (∝ |customers|, hundreds of
    * millions at 100 TB) on 5 tasks; segment totals come from a
    * broadcast-joined aggregate for the same reason.
    */
  def q128ParetoAbc(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
    val totals = perCust.groupBy(col("c_mktsegment"))
      .agg(sum(col("cents")).as("total"))
    PrefixSum
      .runningTotal(perCust, Seq("c_mktsegment"),
        Seq(col("cents").desc, col("c_custkey")), "cents", "cum")
      .join(broadcast(totals), Seq("c_mktsegment"))
      .select(
        col("c_mktsegment"), col("c_custkey"),
        (col("cents").cast(DoubleType) / col("total")).as("share"),
        (col("cum").cast(DoubleType) / col("total")).as("cum_share"),
        when(col("cum") * 10 <= col("total") * 7, "A")
          .when(col("cum") * 10 <= col("total") * 9, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("c_mktsegment"), col("cum_share"))
  }

  val q128Oracle: String =
    """WITH per_cust AS (
      |  SELECT c_mktsegment, c_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment, c_custkey),
      |ranked AS (
      |  SELECT *,
      |    SUM(cents) OVER (PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cents) OVER (PARTITION BY c_mktsegment) AS total
      |  FROM per_cust)
      |SELECT c_mktsegment, c_custkey,
      |  CAST(cents AS DOUBLE) / total AS share,
      |  CAST(cum AS DOUBLE) / total AS cum_share,
      |  CASE WHEN cum * 10 <= total * 7 THEN 'A'
      |       WHEN cum * 10 <= total * 9 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM ranked
      |ORDER BY c_mktsegment, cum_share""".stripMargin

  /** 2D SKYLINE (Pareto frontier): the orders no other order beats on BOTH
    * price and date (strict dominance over distinct (price, day) points —
    * cheapest-earliest frontier). Sorted by (price, day), a point is
    * dominated exactly when some strict predecessor has day ≤ its own —
    * i.e. when `day ≥ exclusive-prefix-min(day)` — so the whole operator
    * is one [[PrefixSum.runningMin]] pass: a RANGE exchange on the sort
    * key whose partition count grows with the data, then a per-row
    * integer compare. The window formulation
    * (`min(day) over (order by price rows unbounded preceding..1
    * preceding)`) has an EMPTY partition-by — one task would own the
    * whole corpus; the scaffold is the cure, same as q128's cumsum.
    * Prices compare in cents longs, dates as epoch days: integer-exact
    * dominance in both engines.
    */
  def q146Skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir)
      .select((dec2(col("o_totalprice")) * 100).cast(LongType).as("price_cents"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast(LongType).as("order_day"))
      .distinct()
      .withColumn("all", lit(0L)) // single logical group: the scaffold
                                  // range-partitions on the SORT keys, so
                                  // cardinality-1 here costs nothing
    PrefixSum.runningMin(pts, Seq("all"),
        Seq(col("price_cents").asc, col("order_day").asc),
        "order_day", "m")
      .filter(col("m").isNull || col("order_day") < col("m"))
      .select(col("price_cents"), col("order_day"))
      .orderBy(col("price_cents"), col("order_day"))
  }

  val q146Oracle: String =
    """WITH pts AS (
      |  SELECT DISTINCT
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents,
      |    CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS order_day
      |  FROM orders),
      |m AS (
      |  SELECT price_cents, order_day,
      |    MIN(order_day) OVER (ORDER BY price_cents, order_day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
      |  FROM pts)
      |SELECT price_cents, order_day FROM m
      |WHERE m IS NULL OR order_day < m
      |ORDER BY price_cents, order_day""".stripMargin

  /** ROBUST outlier screen via MAD (median absolute deviation) — the
    * med/MAD rule survives the contamination that wrecks q104's
    * mean/stddev z-score (one huge value shifts a mean; it cannot move a
    * median). COMPOSITION of the distributed quantile operator: pass 1
    * computes each group's exact median (cents longs, the least-v
    * crossing rule), pass 2 re-runs the SAME
    * [[Percentiles.exactWeightedQuantiles]] over the derived deviations
    * |v − med|, and the verdict counts rows with |v − med| > 3·mad —
    * integers end-to-end, so both medians, the MAD, and every verdict are
    * exact. The per-group median/MAD frames are tiny and broadcast back;
    * the corpus-sized work is two range-exchange quantile passes plus one
    * aggregate.
    */
  def q155RobustMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type"),
      (dec2(col("value")) * 100).cast(LongType).as("v"),
      lit(1L).as("w"))
    val med = Percentiles
      .exactWeightedQuantiles(ev, "event_type", "v", "w",
        Seq(("med_cents", 1L, 2L)))
      .select(col("event_type"), col("med_cents"))
    val withMed = ev.join(broadcast(med), "event_type")
    val mad = Percentiles
      .exactWeightedQuantiles(
        withMed.select(col("event_type"),
          abs(col("v") - col("med_cents")).as("d"), col("w")),
        "event_type", "d", "w", Seq(("mad_cents", 1L, 2L)))
      .select(col("event_type"), col("mad_cents"))
    withMed.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("med_cents")).as("med_cents"),
        min(col("mad_cents")).as("mad_cents"),
        sum(when(abs(col("v") - col("med_cents")) > col("mad_cents") * 3, 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  val q155Oracle: String =
    """WITH base AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |r1 AS (
      |  SELECT event_type, v,
      |    SUM(1) OVER (PARTITION BY event_type ORDER BY v, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM base),
      |med AS (
      |  SELECT event_type, MIN(CASE WHEN cw * 2 >= n THEN v END) AS med_cents
      |  FROM r1 GROUP BY event_type),
      |r2 AS (
      |  SELECT b.event_type, abs(b.v - m.med_cents) AS d,
      |    SUM(1) OVER (PARTITION BY b.event_type
      |                 ORDER BY abs(b.v - m.med_cents), b.event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    COUNT(*) OVER (PARTITION BY b.event_type) AS n
      |  FROM base b JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, MIN(CASE WHEN cw * 2 >= n THEN d END) AS mad_cents
      |  FROM r2 GROUP BY event_type)
      |SELECT b.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(m.med_cents) AS med_cents, MIN(a.mad_cents) AS mad_cents,
      |  CAST(SUM(CASE WHEN abs(b.v - m.med_cents) > a.mad_cents * 3
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM base b JOIN med m USING (event_type) JOIN mad a USING (event_type)
      |GROUP BY b.event_type
      |ORDER BY b.event_type""".stripMargin

  /** FORWARD as-of join WITH TOLERANCE — q56's mirror: for each click,
    * the EARLIEST strictly-later purchase of the same user, but only if
    * it lands within 2 hours (attribution windows expire). Same
    * no-join shape: one window over (user, time), running MIN of the
    * purchase (ts, event_id, value) struct over FOLLOWING rows —
    * purchases sort before clicks at equal ts, so the strictly-after rule
    * costs nothing — then the tolerance turns an out-of-window match into
    * null. One shuffle on user_id, no row multiplication.
    */
  def q156AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val tagged = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        (col("event_type") === "click").as("is_click"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_click")) // purchase(false) first at ties
      .rowsBetween(1, Window.unboundedFollowing)
    tagged
      .withColumn("np",
        min(when(!col("is_click"),
          struct(col("ts").as("pts"), col("event_id").as("peid"),
            col("value").as("pval")))).over(w))
      .filter(col("is_click"))
      .withColumn("hit",
        when(col("np.pts") <= col("ts") + expr("INTERVAL 2 HOURS"), col("np")))
      .select(col("event_id"), col("user_id"),
        col("hit.pts").as("purchase_ts"),
        col("hit.peid").as("purchase_event"),
        col("hit.pval").as("purchase_value"))
      .orderBy(col("event_id"))
  }

  val q156Oracle: String =
    """WITH t AS (
      |  SELECT event_id, user_id, ts, value, event_type = 'click' AS is_click
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |w AS (
      |  SELECT *,
      |    MIN(CASE WHEN NOT is_click THEN ts END) OVER (
      |      PARTITION BY user_id ORDER BY ts, is_click
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS npts
      |  FROM t),
      |p AS (SELECT user_id, ts, event_id, value FROM t WHERE NOT is_click),
      |pmin AS (
      |  SELECT p.user_id, p.ts, p.event_id, p.value FROM p
      |  JOIN (SELECT user_id, ts, MIN(event_id) AS peid
      |        FROM p GROUP BY user_id, ts) m
      |    ON p.user_id = m.user_id AND p.ts = m.ts AND p.event_id = m.peid)
      |SELECT w.event_id, w.user_id,
      |  CASE WHEN w.npts <= w.ts + INTERVAL '2 hours' THEN pm.ts END AS purchase_ts,
      |  CASE WHEN w.npts <= w.ts + INTERVAL '2 hours' THEN pm.event_id END AS purchase_event,
      |  CASE WHEN w.npts <= w.ts + INTERVAL '2 hours' THEN pm.value END AS purchase_value
      |FROM w LEFT JOIN pmin pm
      |  ON pm.user_id = w.user_id AND pm.ts = w.npts
      |WHERE w.is_click
      |ORDER BY w.event_id""".stripMargin

  /** DISTRIBUTION DRIFT screen between two ingest batches (q157) — the
    * monitor a pipeline runs before accepting a new slice: bin boundaries
    * are the REFERENCE batch's exact deciles (data-derived, via the
    * distributed quantile operator — no fixed grid to go stale), both
    * batches are histogrammed on those boundaries, and each bin's share
    * shift is tested integer-exactly: |o_a·n_b − o_b·n_a|·10 > n_a·n_b
    * flags a >10-percentage-point share move with zero float arithmetic
    * (the PSI/χ² alternatives need logs/divisions whose last ulp is
    * engine-specific). Batches here are the order-key parity split — the
    * deterministic stand-in for "yesterday's load vs today's".
    *
    * Scale shape: one quantile pass over the reference batch (range
    * exchange), then the 9-value boundary array broadcasts into a
    * codegen'd bin projection over both scans; the histogram aggregate
    * keys on (bin) after per-partition partials — tiny result, map-side
    * combined.
    */
  def q157DriftScreen(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"),
      (col("o_orderkey") % 2 === 0).as("is_ref"),
      lit("all").as("g"), lit(1L).as("w"))
    val deciles = Percentiles.exactWeightedQuantiles(
      o.filter(col("is_ref")), "g", "cents", "w",
      (1 to 9).map(k => (s"d$k", k.toLong, 10L)))
    val bnds = deciles.select(array((1 to 9).map(k => col(s"d$k")): _*).as("bnds"))
    val binned = o.join(broadcast(bnds))
      .withColumn("bin", size(filter(col("bnds"), b => b <= col("cents"))))
    val hist = binned.groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_new"))
    val tot = hist.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_new")).as("t_new"))
    hist.join(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_new"),
        (abs(col("n_ref") * col("t_new") - col("n_new") * col("t_ref")) * 10
          > col("t_ref") * col("t_new")).as("shifted"))
      .orderBy(col("bin"))
  }

  val q157Oracle: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    o_orderkey % 2 = 0 AS is_ref
      |  FROM orders),
      |r AS (
      |  SELECT cents,
      |    SUM(1) OVER (ORDER BY cents, o_orderkey
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    COUNT(*) OVER () AS n
      |  FROM o WHERE is_ref),
      |b AS (
      |  SELECT [MIN(CASE WHEN cw * 10 >= n * 1 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 2 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 3 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 4 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 5 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 6 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 7 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 8 THEN cents END),
      |          MIN(CASE WHEN cw * 10 >= n * 9 THEN cents END)] AS bnds
      |  FROM r),
      |binned AS (
      |  SELECT CAST(len(list_filter(b.bnds, x -> x <= o.cents)) AS INTEGER) AS bin,
      |    is_ref
      |  FROM o, b),
      |hist AS (
      |  SELECT bin,
      |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_new
      |  FROM binned GROUP BY bin),
      |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
      |               CAST(SUM(n_new) AS BIGINT) AS t_new FROM hist)
      |SELECT bin, n_ref, n_new,
      |  abs(n_ref * t_new - n_new * t_ref) * 10 > t_ref * t_new AS shifted
      |FROM hist, tot
      |ORDER BY bin""".stripMargin

  /** FREQUENT-PHRASE mining per language (q159) — the boilerplate-
    * detection pass: the top-10 trigram phrases of each language by
    * occurrence count (headers, licenses, navigation chrome surface here
    * long before any model sees them). Occurrence stream from the
    * codegen'd ShingleStrings expression (duplicates kept — counts are
    * occurrences, not document frequencies); the (lang, phrase) count
    * keys on a high-cardinality composite; and the per-lang top-10 is
    * written as the plain `row_number().over(...)` window that
    * [[graft.plans.TopKRewrite]] rewrites into the no-sort GroupTopK
    * operator automatically — the optimizer-rule path proving itself on
    * a production query shape.
    */
  def q159PhraseMining(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("lang"), explode(graft.expressions.ShingleStrings
        .shingleOccurrences(TextFunctions.tokens(col("text")), 3)).as("phrase"))
    val counts = grams.groupBy(col("lang"), col("phrase"))
      .agg(count(lit(1)).as("n_occ"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_occ").desc, col("phrase"))
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("phrase"), col("n_occ"))
      .orderBy(col("lang"), col("rk"))
  }

  val q159Oracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH t AS (SELECT lang, $toks AS tk FROM documents),
       |g AS (
       |  SELECT lang, unnest(
       |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |         ELSE list_transform(range(1, len(tk) - 1),
       |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS phrase
       |  FROM t),
       |c AS (SELECT lang, phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
       |      FROM g GROUP BY lang, phrase),
       |r AS (SELECT *, ROW_NUMBER() OVER (
       |        PARTITION BY lang ORDER BY n_occ DESC, phrase) AS rk
       |      FROM c)
       |SELECT lang, CAST(rk AS INTEGER) AS rk, phrase, n_occ
       |FROM r WHERE rk <= 10
       |ORDER BY lang, rk""".stripMargin
  }

  /** RFM SEGMENTATION (q246) — the marketing-analytics staple: every
    * user scored by Recency (last active day), Frequency (event count)
    * and Monetary (DECIMAL-exact value sum), each dimension cut into
    * equal-depth quartiles (q149's exact rule, rank via the distributed
    * prefix-sum scaffold — three scaffolds, one per dimension, no
    * one-partition window), then the 4×4×4 segment grid reported with
    * its population and exact monetary mass. Quartile 0 is best
    * (most recent / most frequent / highest spend); ties break on
    * user_id so both engines cut identically.
    *
    * Scale shape: one per-user aggregate, three range exchanges for the
    * ranks, a ≤64-row rollup. Nothing downstream scales with users.
    */
  def q246RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max(expr("unix_micros(date_trunc('DAY', ts)) div 86400000000"))
          .as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(38, 2))
          .as("mon"))
      .withColumn("one", lit(1L)).withColumn("g", lit(0))
      // four consumers (three rank scaffolds + the user total) —
      // materialize the per-user aggregate once so the events scan and
      // its groupBy run once, not per consumer (round-15)
      .localCheckpoint(true)
    def rank(df: DataFrame,
        order: Seq[org.apache.spark.sql.Column], out: String): DataFrame =
      PrefixSum.runningTotal(df, Seq("g"), order, "one", out)
    val ranked = rank(rank(rank(perUser,
        Seq(col("last_day").desc, col("user_id").asc), "r_rk"),
        Seq(col("freq").desc, col("user_id").asc), "f_rk"),
        Seq(col("mon").desc, col("user_id").asc), "m_rk")
    val tot = perUser.agg(count(lit(1)).as("n_users"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("r_q", expr("((r_rk - 1) * 4) div n_users"))
      .withColumn("f_q", expr("((f_rk - 1) * 4) div n_users"))
      .withColumn("m_q", expr("((m_rk - 1) * 4) div n_users"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n"),
        sum(col("mon")).cast(DecimalType(38, 2)).cast(DoubleType)
          .as("segment_monetary"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val q246Oracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400)
      |      AS last_day,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS mon
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT u.*,
      |    row_number() OVER (ORDER BY last_day DESC, user_id) AS r_rk,
      |    row_number() OVER (ORDER BY freq DESC, user_id) AS f_rk,
      |    row_number() OVER (ORDER BY mon DESC, user_id) AS m_rk,
      |    COUNT(*) OVER () AS n_users
      |  FROM u)
      |SELECT ((r_rk - 1) * 4) // n_users AS r_q,
      |  ((f_rk - 1) * 4) // n_users AS f_q,
      |  ((m_rk - 1) * 4) // n_users AS m_q,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(mon) AS DECIMAL(38,2)) AS DOUBLE) AS segment_monetary
      |FROM r
      |GROUP BY 1, 2, 3
      |ORDER BY r_q, f_q, m_q""".stripMargin

  /** CONVERSION-WINDOW FUNNEL (q257) — q96's lifetime funnel with the
    * constraint real attribution uses: each stage must land within 24
    * hours of the previous one (a purchase a month after the click is
    * not that click's conversion). Same first-qualifying-event
    * recursion (min ts per user per stage), with the window bound in
    * the join predicate — the change that turns a vanity funnel into
    * an attribution funnel. Stage rows carry the window so the report
    * is self-describing.
    *
    * Scale shape: identical to q96 — per-stage keyed aggregates and
    * broadcast-joined user frontiers; the window predicate only
    * tightens the join.
    */
  def q257WindowedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    def firstWithin(evType: String, prev: DataFrame): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
        .filter(col("ts") > col("prev_t") &&
          col("ts") <= col("prev_t") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val clicks = firstWithin("click", views)
    val purchases = firstWithin("purchase", clicks)
    views.agg(count(lit(1)).as("n_users"))
      .select(lit("a_view").as("stage"), col("n_users"))
      .unionByName(clicks.agg(count(lit(1)).as("n_users"))
        .select(lit("b_click").as("stage"), col("n_users")))
      .unionByName(purchases.agg(count(lit(1)).as("n_users"))
        .select(lit("c_purchase").as("stage"), col("n_users")))
      .withColumn("window_hours", lit(24L))
      .orderBy(col("stage"))
  }

  val q257Oracle: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      |   AND e.ts <= v.t + INTERVAL 24 HOURS
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      |   AND e.ts <= c.t + INTERVAL 24 HOURS
      |  WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT stage, n_users, CAST(24 AS BIGINT) AS window_hours FROM (
      |  SELECT 'a_view' AS stage, COUNT(*) AS n_users FROM v
      |  UNION ALL SELECT 'b_click', COUNT(*) FROM c
      |  UNION ALL SELECT 'c_purchase', COUNT(*) FROM p)
      |ORDER BY stage""".stripMargin

  /** TRANSITION-LATENCY MATRIX (q258) — q173's transition counts tell
    * you WHERE users go next; this tells you HOW LONG they take: per
    * (from, to) consecutive-event pair within a user's timeline, the
    * count and the exact gap statistics (min/max/DECIMAL-exact mean in
    * microseconds). A slow view→click edge is a UX finding; a
    * near-zero anything→anything edge is a bot signature. Per-user lag
    * windows (bounded partitions), then one 25-cell rollup.
    */
  def q258TransitionLatency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_us",
        expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        expr("CAST(CAST(sum(gap_us) AS DECIMAL(38,0)) * 1 div count(1) AS BIGINT)")
          .as("mean_gap_us"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q258Oracle: String =
    """WITH g AS (
      |  SELECT
      |    lag(event_type) OVER w AS from_type,
      |    event_type AS to_type,
      |    CAST(epoch_us(ts) AS BIGINT)
      |      - lag(CAST(epoch_us(ts) AS BIGINT)) OVER w AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
      |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
      |  CAST(CAST(SUM(gap_us) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_gap_us
      |FROM g
      |WHERE from_type IS NOT NULL
      |GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin

  /** MULTI-TOUCH ATTRIBUTION (q298) — linear revenue attribution with
    * EXACT cent conservation: each purchase's value splits equally across
    * the user's clicks in the preceding hour (the q56 as-of family's
    * window), and the integer remainder goes one cent each to the most
    * recent touches (largest-remainder, the q233 allocator applied
    * per-purchase) — Σ attributed over a purchase's touches equals its
    * cents EXACTLY, the invariant float splitting cannot give a finance
    * team. Touchless purchases land in the `click_event = 0` direct
    * bucket carrying their full value, so the report conserves total
    * revenue by construction.
    *
    * Scale shape: the touch join is an EQUI join on user_id with the
    * hour-range as a residual predicate — hash/sort-merge shuffle on the
    * user key, never a cartesian band join; per-purchase windows
    * (count + recency rank) partition on p_event, bounded by per-user
    * click rate × 1 h. Direct bucket = left-anti on the same keys.
    * Purchases are filtered to value ≥ 0 so div/mod arithmetic is
    * engine-identical (floor vs truncate differ only below zero).
    */
  def q298Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase" && col("value") >= 0)
      .select(col("event_id").as("p_event"), col("user_id"),
        col("ts").as("pts"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("cts"))
    val touches = p.join(c,
      col("user_id") === col("c_user") &&
        col("cts") < col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"))
    val wn = Window.partitionBy(col("p_event"))
    val wr = Window.partitionBy(col("p_event"))
      .orderBy(col("cts").desc, col("c_event").asc)
    val split = touches
      .withColumn("n_touches", count(lit(1)).over(wn))
      .withColumn("rk", row_number().over(wr))
      .select(col("p_event"), col("c_event").as("click_event"),
        col("n_touches"),
        (expr("cents div n_touches") +
          when(col("rk") <= col("cents") % col("n_touches"), 1L)
            .otherwise(0L)).as("attributed_cents"))
    val direct = p.join(touches.select(col("p_event")), Seq("p_event"),
        "left_anti")
      .select(col("p_event"), lit(0L).as("click_event"),
        lit(0L).as("n_touches"), col("cents").as("attributed_cents"))
    split.unionByName(direct)
      .orderBy(col("p_event"), col("click_event"))
  }

  val q298Oracle: String =
    """WITH p AS (
      |  SELECT event_id AS p_event, user_id, ts AS pts,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' AND value >= 0),
      |c AS (
      |  SELECT event_id AS c_event, user_id, ts AS cts
      |  FROM events WHERE event_type = 'click'),
      |t AS (
      |  SELECT p.p_event, p.cents, c.c_event, c.cts
      |  FROM p JOIN c ON c.user_id = p.user_id
      |   AND c.cts < p.pts AND c.cts >= p.pts - INTERVAL 1 HOUR),
      |r AS (
      |  SELECT p_event, cents, c_event, cts,
      |    CAST(COUNT(*) OVER (PARTITION BY p_event) AS BIGINT) AS n_touches,
      |    ROW_NUMBER() OVER (PARTITION BY p_event
      |      ORDER BY cts DESC, c_event ASC) AS rk
      |  FROM t)
      |SELECT p_event, c_event AS click_event, n_touches,
      |  CAST(cents // n_touches
      |    + CASE WHEN rk <= cents % n_touches THEN 1 ELSE 0 END
      |    AS BIGINT) AS attributed_cents
      |FROM r
      |UNION ALL
      |SELECT p.p_event, 0, 0, p.cents
      |FROM p
      |WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.p_event = p.p_event)
      |ORDER BY p_event, click_event""".stripMargin

  /** MONTH-OVER-MONTH GROWTH DECOMPOSITION (q317) — the BI bridge
    * chart, integer-exact: revenue change per ship-month split into a
    * VOLUME effect (what the quantity change would have contributed at
    * last month's realized price) and a PRICE/MIX effect (the rest).
    * volume = Δq·r₀ div q₀ in cents (integer division, both engines
    * truncate identically); price_mix = Δrev − volume, the RESIDUAL
    * assignment — so the two effects sum to the exact revenue delta BY
    * CONSTRUCTION, cent for cent, the property float decompositions
    * lose to rounding. (The exact Δq·p₀ is a rational; flooring it and
    * absorbing the remainder into price/mix is the q298
    * largest-remainder discipline applied to a 2-way split.)
    *
    * Scale shape: one (month) aggregate over lineitem with map-side
    * combine, then lag over the |months| frame — time-bounded, the
    * q217 bar posture. Quantity carries as centi-units and money as
    * cents so every intermediate is a long; products promote to
    * DECIMAL(38,0).
    */
  def q317GrowthDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.lineitem(spark, dir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        (dec2(col("l_quantity")) * 100).cast(LongType).as("cq"),
        (dec2(col("l_extendedprice")) * 100).cast(LongType).as("cents"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("cq")).as("qty_c"),
        sum(col("cents")).as("rev_c"))
    val w = Window.orderBy(col("month"))
    // |months| rows — the single-partition window is over the
    // time-bounded monthly frame, never the corpus
    monthly
      .withColumn("q0", lag(col("qty_c"), 1).over(w))
      .withColumn("r0", lag(col("rev_c"), 1).over(w))
      .withColumn("d_rev", col("rev_c") - col("r0"))
      .withColumn("vol_effect", expr(
        "CAST(CAST(qty_c - q0 AS DECIMAL(38,0)) * r0 div q0 AS BIGINT)"))
      .select(col("month"), col("n_items"), col("qty_c"), col("rev_c"),
        col("d_rev"), col("vol_effect"),
        (col("d_rev") - col("vol_effect")).as("price_mix_effect"))
      .orderBy(col("month"))
  }

  val q317Oracle: String =
    """WITH m AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |    CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS qty_c,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1),
      |l AS (
      |  SELECT month, n_items, qty_c, rev_c,
      |    lag(qty_c) OVER (ORDER BY month) AS q0,
      |    lag(rev_c) OVER (ORDER BY month) AS r0
      |  FROM m)
      |SELECT month, n_items, qty_c, rev_c,
      |  rev_c - r0 AS d_rev,
      |  CAST(CAST(qty_c - q0 AS HUGEINT) * r0 // q0 AS BIGINT)
      |    AS vol_effect,
      |  (rev_c - r0) - CAST(CAST(qty_c - q0 AS HUGEINT) * r0 // q0
      |    AS BIGINT) AS price_mix_effect
      |FROM l
      |ORDER BY month""".stripMargin

  /** SHIFT-SHARE DECOMPOSITION (q318) — the regional-economics classic
    * made cent-exact: each (region, market-segment) cell's revenue
    * change between the corpus's FIRST and LAST order year splits into
    * a NATIONAL effect (what growing at the corpus-wide rate would have
    * contributed), a MIX effect (the extra from the cell's segment
    * growing faster/slower than the corpus), and a COMPETITIVE residual
    * (the cell's own out/under-performance within its segment). The
    * three effects telescope — national = ⌊r0·T1/T0⌋ − r0, mix =
    * ⌊r0·S1/S0⌋ − ⌊r0·T1/T0⌋, competitive = r1 − ⌊r0·S1/S0⌋ — so they
    * sum to the exact cent delta BY CONSTRUCTION (q317's residual
    * discipline lifted to a 3-way split; every floored term appears
    * once positive and once negative except the exact endpoints).
    *
    * Scale shape: the year endpoints come from a 1-row broadcast; the
    * only corpus-sized shuffle is orders⋈customer on custkey (both
    * frames pre-filtered to the two endpoint years); nation/region
    * broadcast; segment totals and grand totals are tiny broadcast
    * rollups of the 25-cell frame. Engine parity on integer division is
    * unconditional here: Spark's `div` and DuckDB's integer `//` BOTH
    * truncate toward zero (verified: -7 // 2 = -3 in DuckDB), so the
    * effects agree exactly regardless of operand sign — positive
    * operands are not a correctness requirement for div///, only for
    * floor-vs-truncate semantics neither engine uses.
    */
  def q318ShiftShare(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val yy = o.agg(min(col("yr")).as("y0"), max(col("yr")).as("y1"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        col("c_nationkey"))
    val natReg = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name").as("region"))
    val cell = o.crossJoin(broadcast(yy))
      .filter(col("yr") === col("y0") || col("yr") === col("y1"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(natReg), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("region"), col("segment"))
      .agg(sum(when(col("yr") === col("y0"), col("cents"))
          .otherwise(lit(0L))).as("r0"),
        sum(when(col("yr") === col("y1"), col("cents"))
          .otherwise(lit(0L))).as("r1"))
    val seg = cell.groupBy(col("segment"))
      .agg(sum(col("r0")).as("s0"), sum(col("r1")).as("s1"))
    val tot = cell.agg(sum(col("r0")).as("t0"), sum(col("r1")).as("t1"))
    cell.join(broadcast(seg), Seq("segment"))
      .crossJoin(broadcast(tot))
      .withColumn("nat_scaled",
        expr("CAST(CAST(r0 AS DECIMAL(38,0)) * t1 div t0 AS BIGINT)"))
      .withColumn("mix_scaled",
        expr("CAST(CAST(r0 AS DECIMAL(38,0)) * s1 div s0 AS BIGINT)"))
      .select(col("region"), col("segment"), col("r0"), col("r1"),
        (col("r1") - col("r0")).as("d_rev"),
        (col("nat_scaled") - col("r0")).as("national_effect"),
        (col("mix_scaled") - col("nat_scaled")).as("mix_effect"),
        (col("r1") - col("mix_scaled")).as("competitive_effect"))
      .orderBy(col("region"), col("segment"))
  }

  val q318Oracle: String =
    """WITH o AS (
      |  SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |yy AS (SELECT MIN(yr) AS y0, MAX(yr) AS y1 FROM o),
      |cell AS (
      |  SELECT r_name AS region, c_mktsegment AS segment,
      |    CAST(SUM(CASE WHEN yr = y0 THEN cents ELSE 0 END) AS BIGINT)
      |      AS r0,
      |    CAST(SUM(CASE WHEN yr = y1 THEN cents ELSE 0 END) AS BIGINT)
      |      AS r1
      |  FROM o CROSS JOIN yy
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE yr = y0 OR yr = y1
      |  GROUP BY 1, 2),
      |seg AS (
      |  SELECT segment, SUM(r0) AS s0, SUM(r1) AS s1
      |  FROM cell GROUP BY segment),
      |tot AS (SELECT SUM(r0) AS t0, SUM(r1) AS t1 FROM cell),
      |sc AS (
      |  SELECT region, c.segment, r0, r1,
      |    CAST(CAST(r0 AS HUGEINT) * t1 // t0 AS BIGINT) AS nat_scaled,
      |    CAST(CAST(r0 AS HUGEINT) * s1 // s0 AS BIGINT) AS mix_scaled
      |  FROM cell c JOIN seg ON c.segment = seg.segment CROSS JOIN tot)
      |SELECT region, segment, r0, r1,
      |  r1 - r0 AS d_rev,
      |  nat_scaled - r0 AS national_effect,
      |  mix_scaled - nat_scaled AS mix_effect,
      |  r1 - mix_scaled AS competitive_effect
      |FROM sc
      |ORDER BY region, segment""".stripMargin

  /** FUNNEL LATENCY PERCENTILES (q349) — the timing q257's windowed
    * funnel counts but never measures: for each converting transition
    * (view→click, click→purchase under the same 24 h windows), the
    * exact min / lower-median / p90 / max latency in whole seconds.
    * "How long does conversion take" drives attribution-window and
    * retargeting choices; a vanity funnel without it picks windows
    * blind. Ranks are exact: the latency axis is BOUNDED by the
    * conversion window (≤ 86 400 distinct seconds), so the per-second
    * histogram + one distributed prefix sum give exact order
    * statistics with no corpus-sized sort — median = smallest second
    * with cum ≥ (n+1) div 2, p90 = smallest with 10·cum ≥ 9·n (the
    * ceil-rank convention, identical in both engines).
    *
    * Scale shape: q257's per-stage keyed aggregates; latencies collapse
    * onto the ≤ 86 400-second axis; the cumulative rides the
    * distributed prefix sum; ONE row per transition.
    */
  def q349FunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    def firstWithin(evType: String, prev: DataFrame): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
        .filter(col("ts") > col("prev_t") &&
          col("ts") <= col("prev_t") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val clicks = firstWithin("click", views)
    val purchases = firstWithin("purchase", clicks)
    def latencies(from: DataFrame, to: DataFrame): DataFrame =
      to.join(from.select(col("user_id"), col("t").as("t0")), "user_id")
        .select(expr("(unix_micros(t) - unix_micros(t0)) div 1000000")
          .as("lat_s"))
    def stats(name: String, lat: DataFrame): DataFrame = {
      val h = lat.groupBy(col("lat_s")).agg(count(lit(1)).as("c"))
        .withColumn("g", lit(0))
      val cum = PrefixSum.runningTotal(
        h, Seq("g"), Seq(col("lat_s").asc), "c", "cum")
      val n = h.agg(sum(col("c")).as("n"))
      cum.crossJoin(broadcast(n))
        .agg(max(col("n")).as("n_converted"),
          min(col("lat_s")).as("min_s"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("lat_s")))
            .as("median_s"),
          min(when(col("cum") * 10 >= expr("9 * n"), col("lat_s")))
            .as("p90_s"),
          max(col("lat_s")).as("max_s"))
        .select(lit(name).as("transition"), col("n_converted"),
          col("min_s"), col("median_s"), col("p90_s"), col("max_s"))
    }
    stats("a_view_to_click", latencies(views, clicks))
      .unionByName(stats("b_click_to_purchase", latencies(clicks, purchases)))
      .orderBy(col("transition"))
  }

  val q349Oracle: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t
      |    AND e.ts <= v.t + INTERVAL '24 hours'
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t
      |  FROM events e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t
      |    AND e.ts <= c.t + INTERVAL '24 hours'
      |  GROUP BY 1),
      |lat1 AS (
      |  SELECT (epoch_us(c.t) - epoch_us(v.t)) // 1000000 AS lat_s
      |  FROM c JOIN v ON v.user_id = c.user_id),
      |lat2 AS (
      |  SELECT (epoch_us(p.t) - epoch_us(c.t)) // 1000000 AS lat_s
      |  FROM p JOIN c ON c.user_id = p.user_id),
      |h1 AS (SELECT lat_s, CAST(COUNT(*) AS BIGINT) AS c FROM lat1
      |       GROUP BY 1),
      |h2 AS (SELECT lat_s, CAST(COUNT(*) AS BIGINT) AS c FROM lat2
      |       GROUP BY 1),
      |cum1 AS (SELECT lat_s, c, SUM(c) OVER (ORDER BY lat_s) AS cum,
      |         SUM(c) OVER () AS n FROM h1),
      |cum2 AS (SELECT lat_s, c, SUM(c) OVER (ORDER BY lat_s) AS cum,
      |         SUM(c) OVER () AS n FROM h2),
      |s1 AS (
      |  SELECT 'a_view_to_click' AS transition,
      |    CAST(MAX(n) AS BIGINT) AS n_converted,
      |    MIN(lat_s) AS min_s,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN lat_s END) AS median_s,
      |    MIN(CASE WHEN cum * 10 >= 9 * n THEN lat_s END) AS p90_s,
      |    MAX(lat_s) AS max_s
      |  FROM cum1),
      |s2 AS (
      |  SELECT 'b_click_to_purchase' AS transition,
      |    CAST(MAX(n) AS BIGINT) AS n_converted,
      |    MIN(lat_s) AS min_s,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN lat_s END) AS median_s,
      |    MIN(CASE WHEN cum * 10 >= 9 * n THEN lat_s END) AS p90_s,
      |    MAX(lat_s) AS max_s
      |  FROM cum2)
      |SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |ORDER BY transition""".stripMargin

  /** FIRST/LAST-TOUCH ATTRIBUTION (q343) — the marketing-analytics split
    * q257's funnel and q279's retention don't answer: when a user's
    * activity carries value, WHICH event type gets the credit? Two
    * standard models side by side per event_type: first-touch (the type
    * of the user's earliest event claims the user's whole value) and
    * last-touch (the latest event's type claims it), with user counts —
    * the divergence between the two columns IS the attribution
    * sensitivity a channel report must disclose. Deterministic
    * endpoints via (ts, event_id) struct argmin/argmax (q217's OHLC
    * recipe); value in exact cents.
    *
    * Scale shape: ONE per-user aggregate (min/max struct + decimal sum,
    * all map-side combinable), then two rollups onto the bounded
    * event-type axis, full-outer-joined there. No window, no self-join.
    */
  def q343TouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    // event_type IS NOT NULL mirrors the sibling event queries: a NULL
    // type would surface as two distinct NULL-keyed rows out of the
    // full-outer join whose relative order under ORDER BY event_type is
    // unspecified in both engines — latent hash flake, filtered at scan
    val perUser = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("user_id"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_touch"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("last_touch"),
        sum(col("cents")).as("user_cents"))
    val first = perUser.groupBy(col("first_touch").as("event_type"))
      .agg(count(lit(1)).as("n_users_first"),
        sum(col("user_cents")).as("first_touch_cents"))
    val last = perUser.groupBy(col("last_touch").as("event_type"))
      .agg(count(lit(1)).as("n_users_last"),
        sum(col("user_cents")).as("last_touch_cents"))
    first.join(last, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_users_first"), lit(0L)).as("n_users_first"),
        coalesce(col("first_touch_cents"), lit(0L)).as("first_touch_cents"),
        coalesce(col("n_users_last"), lit(0L)).as("n_users_last"),
        coalesce(col("last_touch_cents"), lit(0L)).as("last_touch_cents"))
      .orderBy(col("event_type"))
  }

  val q343Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL),
      |pu AS (
      |  SELECT user_id,
      |    (min({'t': ts, 'e': event_id, 'y': event_type})).y AS first_touch,
      |    (max({'t': ts, 'e': event_id, 'y': event_type})).y AS last_touch,
      |    CAST(SUM(cents) AS BIGINT) AS user_cents
      |  FROM ev GROUP BY user_id),
      |f AS (
      |  SELECT first_touch AS event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_users_first,
      |    CAST(SUM(user_cents) AS BIGINT) AS first_touch_cents
      |  FROM pu GROUP BY 1),
      |l AS (
      |  SELECT last_touch AS event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_users_last,
      |    CAST(SUM(user_cents) AS BIGINT) AS last_touch_cents
      |  FROM pu GROUP BY 1)
      |SELECT COALESCE(f.event_type, l.event_type) AS event_type,
      |  COALESCE(n_users_first, 0) AS n_users_first,
      |  COALESCE(first_touch_cents, 0) AS first_touch_cents,
      |  COALESCE(n_users_last, 0) AS n_users_last,
      |  COALESCE(last_touch_cents, 0) AS last_touch_cents
      |FROM f FULL OUTER JOIN l ON l.event_type = f.event_type
      |ORDER BY event_type""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q349_funnel_latency", q349FunnelLatency, q349Oracle),
    QuerySpec("q343_touch_attribution", q343TouchAttribution, q343Oracle),
    QuerySpec("q317_growth_decomposition", q317GrowthDecomposition, q317Oracle),
    QuerySpec("q318_shift_share", q318ShiftShare, q318Oracle),
    QuerySpec("q298_attribution", q298Attribution, q298Oracle),
    QuerySpec("q257_windowed_funnel", q257WindowedFunnel, q257Oracle),
    QuerySpec("q258_transition_latency", q258TransitionLatency, q258Oracle),
    QuerySpec("q246_rfm_segments", q246RfmSegments, q246Oracle),
    QuerySpec("q159_phrase_mining", q159PhraseMining, q159Oracle),
    QuerySpec("q157_drift_screen", q157DriftScreen, q157Oracle),
    QuerySpec("q156_asof_forward", q156AsofForward, q156Oracle),
    QuerySpec("q155_robust_mad", q155RobustMad, q155Oracle),
    QuerySpec("q146_skyline", q146Skyline, q146Oracle),
    QuerySpec("q128_pareto_abc", q128ParetoAbc, q128Oracle),
    QuerySpec("q125_session_funnel", q125SessionFunnel, q125Oracle),
    QuerySpec("q124_spike_detect", q124SpikeDetect, q124Oracle),
    QuerySpec("q123_cohort_retention", q123CohortRetention, q123Oracle),
    QuerySpec("q121_weighted_median", q121WeightedMedian, q121Oracle),
    QuerySpec("q132_weighted_quartiles", q132WeightedQuartiles, q132Oracle),
    QuerySpec("q115_resample_interpolate", q115ResampleInterpolate, q115Oracle),
    QuerySpec("q111_rolling_median", q111RollingMedian, q111Oracle),
    QuerySpec("q110_corr_stats", q110CorrStats, q110Oracle),
    QuerySpec("q103_decay_features", q103DecayFeatures, q103Oracle),
    QuerySpec("q94_hll_sketch_rollup", q94HllSketchRollup, q94Oracle),
    QuerySpec("q96_funnel", q96Funnel, q96Oracle),
    QuerySpec("q69_approx_percentiles", q69ApproxPercentiles, q69Oracle),
    QuerySpec("q63_train_test_split", q63TrainTestSplit, q63Oracle),
    QuerySpec("q64_sequence_packing", q64SequencePacking, q64Oracle),
    QuerySpec("q62_topk_custom_operator", q62TopKCustomOperator, q62Oracle),
    QuerySpec("q56_asof_join", q56AsofJoin, q56Oracle),
    QuerySpec("q57_percentiles", q57Percentiles, q57Oracle),
    QuerySpec("q58_histogram", q58Histogram, q58Oracle),
    QuerySpec("q59_edit_distance", q59EditDistance, q59Oracle),
    QuerySpec("q60_tfidf", q60TfIdf, q60Oracle),
    QuerySpec("q61_dedup_content_hash", q61DedupContentHash, q61Oracle))
}
