package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.{QuerySpec, Tables}

/** Time-series downsampling and seasonality over the event stream — the
  * monitoring tier of an analytics engine: raw events are unreadable at
  * 100 TB, so dashboards and anomaly screens run on DOWNSAMPLED bars and
  * per-season baselines, both computed as single hash-aggregations.
  *
  * Both operators follow the suite's exactness discipline: order-dependent
  * double arithmetic is confined to min/max (order-free); sums go through
  * DECIMAL casts (q01's recipe); threshold comparisons cross-multiply
  * integers instead of dividing (q144/q190's recipe).
  */
object TimeSeriesQueries {

  /** OHLC BARS (q217) — the canonical time-series downsample: per
    * (event_type, hour) the open/high/low/close of `value`, the event
    * count, and the DECIMAL-exact volume. Open/close are argmin/argmax by
    * (ts, event_id) via single-pass `min(struct(...))` — Spark's struct
    * ordering is lexicographic, exactly DuckDB's, and event_id breaks ts
    * ties deterministically. No window functions: one hash-aggregate,
    * map-side partial combine, shuffle keyed on (event_type, bar) — the
    * shape that holds at any scale because bar count grows with time, not
    * data volume.
    */
  def q217OhlcBars(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("bar_ts"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("bar_ts"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
          .cast("double").as("volume"))
      .orderBy(col("event_type"), col("bar_ts"))

  val q217Oracle: String =
    """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
      |  (min({'t': ts, 'e': event_id, 'v': value})).v AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  (max({'t': ts, 'e': event_id, 'v': value})).v AS close,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS volume
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, bar_ts""".stripMargin

  /** SEASONAL-BASELINE ANOMALY SCREEN (q221) — hour buckets whose traffic
    * deviates ≥ 2× from their hour-of-day seasonal baseline. The baseline
    * for (event_type, hour-of-day) is that cell's MEAN hourly count over
    * the corpus's distinct days; a bucket is 'high' when
    * n·n_days > 2·total_hod and 'low' when 2·n·n_days < total_hod — both
    * cross-multiplied integer comparisons, no division, no floats. The
    * z-score screen (q104) flags outliers against a GLOBAL distribution;
    * this one knows 3 a.m. and 3 p.m. have different normals — the screen
    * that actually works on diurnal traffic.
    *
    * Scale shape: bars from one hash-agg; the 24×|event_type| baseline
    * table broadcasts back onto bars; the distinct-day count is a 1-row
    * crossJoin. Hours with ZERO events produce no bar and are not
    * reported (documented: absence detection needs a calendar spine).
    */
  def q221SeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bars = ev.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("bar_ts"))
      .agg(count(lit(1)).as("n"))
    val hod = bars.groupBy(col("event_type"), hour(col("bar_ts")).as("hod"))
      .agg(sum(col("n")).as("total_hod"))
    val days = ev.agg(countDistinct(to_date(col("ts"))).as("n_days"))
    bars.withColumn("hod", hour(col("bar_ts")))
      .join(broadcast(hod), Seq("event_type", "hod"))
      .crossJoin(broadcast(days))
      .filter(col("n") * col("n_days") > col("total_hod") * 2 ||
        col("n") * col("n_days") * 2 < col("total_hod"))
      .select(col("event_type"), col("bar_ts"), col("n"),
        col("total_hod"), col("n_days"),
        when(col("n") * col("n_days") > col("total_hod") * 2, lit("high"))
          .otherwise(lit("low")).as("verdict"))
      .orderBy(col("event_type"), col("bar_ts"))
  }

  val q221Oracle: String =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bar_ts, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |h AS (
      |  SELECT event_type, EXTRACT(hour FROM bar_ts) AS hod,
      |    CAST(SUM(n) AS BIGINT) AS total_hod
      |  FROM b GROUP BY 1, 2),
      |d AS (SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days FROM events)
      |SELECT b.event_type, b.bar_ts, b.n, h.total_hod, d.n_days,
      |  CASE WHEN b.n * d.n_days > h.total_hod * 2 THEN 'high'
      |       ELSE 'low' END AS verdict
      |FROM b
      |JOIN h ON h.event_type = b.event_type
      |      AND h.hod = EXTRACT(hour FROM b.bar_ts)
      |CROSS JOIN d
      |WHERE b.n * d.n_days > h.total_hod * 2
      |   OR b.n * d.n_days * 2 < h.total_hod
      |ORDER BY b.event_type, b.bar_ts""".stripMargin

  /** CALENDAR-SPINE GAP RUNS (q223) — the missing-data detector q221
    * explicitly cannot be: hours with ZERO events produce no bar, so
    * finding them requires a generated hour spine. The spine spans the
    * corpus's [min, max] hour, crossed with the distinct event types,
    * anti-joined against the observed bars; consecutive missing hours
    * collapse into runs (gaps-and-islands: hour-index minus per-type
    * row_number is constant within a run — q176's discipline). Output is
    * one row per OUTAGE, not per missing hour: (event_type, gap_start,
    * gap_end, n_hours), the shape an alerting system consumes.
    *
    * Scale shape: the spine is |hours|×|types| — time-bounded, not
    * data-bounded (a year is 8 760 rows per type no matter how many
    * petabytes of events); the only corpus-sized pass is the distinct-bar
    * aggregation. The per-type window runs on spine-sized partitions.
    */
  def q223CalendarGapRuns(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mm = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val types = ev.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(mm))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("bar_ts"))
    val present = ev
      .select(col("event_type"), date_trunc("hour", col("ts")).as("bar_ts"))
      .distinct()
    val missing = spine.join(present, Seq("event_type", "bar_ts"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("bar_ts"))
    missing
      .withColumn("isl",
        expr("unix_timestamp(bar_ts) div 3600") - row_number().over(w))
      .groupBy(col("event_type"), col("isl"))
      .agg(min(col("bar_ts")).as("gap_start"),
        max(col("bar_ts")).as("gap_end"),
        count(lit(1)).as("n_hours"))
      .select(col("event_type"), col("gap_start"), col("gap_end"), col("n_hours"))
      .orderBy(col("event_type"), col("gap_start"))
  }

  val q223Oracle: String =
    """WITH mm AS (
      |  SELECT date_trunc('hour', min(ts)) AS h0,
      |    date_trunc('hour', max(ts)) AS h1 FROM events),
      |sp AS (
      |  SELECT et.event_type, g AS bar_ts
      |  FROM (SELECT DISTINCT event_type FROM events) et, mm,
      |    UNNEST(generate_series(mm.h0, mm.h1, INTERVAL 1 HOUR)) AS t(g)),
      |pr AS (
      |  SELECT DISTINCT event_type, date_trunc('hour', ts) AS bar_ts
      |  FROM events),
      |miss AS (
      |  SELECT sp.event_type, sp.bar_ts FROM sp
      |  WHERE NOT EXISTS (SELECT 1 FROM pr
      |    WHERE pr.event_type = sp.event_type AND pr.bar_ts = sp.bar_ts)),
      |r AS (
      |  SELECT event_type, bar_ts,
      |    CAST(epoch(bar_ts) AS BIGINT) // 3600
      |      - row_number() OVER (PARTITION BY event_type ORDER BY bar_ts) AS isl
      |  FROM miss)
      |SELECT event_type, min(bar_ts) AS gap_start, max(bar_ts) AS gap_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_hours
      |FROM r GROUP BY event_type, isl
      |ORDER BY event_type, gap_start""".stripMargin

  /** DISPERSION INDEX (q228) — the variance-to-mean ratio (Fano factor)
    * of hourly arrival counts per event type: ~1 for Poisson-like
    * organic traffic, ≫1 for bursty/bot traffic, ≪1 for metronomic
    * schedulers. Computed from the exact integer moments of the bar
    * counts — D·10⁶ = (n·Σc² − (Σc)²)·10⁶ div (n·Σc) — so both engines
    * agree to the last ppm digit. The q221 seasonal screen asks "which
    * hour is anomalous"; this asks "is this stream's arrival process
    * even plausibly organic" — the upstream triage question.
    *
    * Moments run over OBSERVED bars (hours with ≥ 1 event); to include
    * silent hours, compose with q223's calendar spine first — kept
    * separate so each operator stays one aggregation.
    *
    * Scale shape: bars from one hash-agg, then a |event_type|-row moment
    * rollup. DECIMAL(38,0) promotion keeps n·Σc² exact far past any
    * realistic bar count.
    */
  def q228DispersionIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bar_ts"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_bars"),
        sum(col("c")).as("sum_c"),
        sum(col("c") * col("c")).as("sum_c2"))
      .withColumn("dispersion_ppm", expr(
        """CAST((CAST(n_bars AS DECIMAL(38,0)) * sum_c2
          |  - CAST(sum_c AS DECIMAL(38,0)) * sum_c) * 1000000
          |  div (CAST(n_bars AS DECIMAL(38,0)) * sum_c) AS BIGINT)""".stripMargin))
      .orderBy(col("event_type"))

  val q228Oracle: String =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bar_ts, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bars,
      |    CAST(SUM(c) AS BIGINT) AS sum_c,
      |    CAST(SUM(c * c) AS BIGINT) AS sum_c2
      |  FROM b GROUP BY event_type)
      |SELECT event_type, n_bars, sum_c, sum_c2,
      |  CAST((CAST(n_bars AS HUGEINT) * sum_c2
      |    - CAST(sum_c AS HUGEINT) * sum_c) * 1000000
      |    // (CAST(n_bars AS HUGEINT) * sum_c) AS BIGINT) AS dispersion_ppm
      |FROM m
      |ORDER BY event_type""".stripMargin

  /** CUSUM CHANGE-POINT SCREEN (q237) — the sequential drift detector:
    * per event type, the one-sided CUSUM over daily counts
    * Sₜ = max(0, Sₜ₋₁ + (cₜ − μ − slack)) accumulates only sustained
    * upward departures from the mean daily rate; a spike resets next
    * day, a level shift climbs. Everything scaled by n_days to stay
    * integer: S′ₜ = max(0, S′ₜ₋₁ + n·cₜ − total − slack′) with
    * slack′ = total div 4 (μ/4 slack), crossing threshold 2·total
    * (= 2μ·n). Output per type: the max statistic, whether it crossed,
    * and the FIRST crossing day — the "when did this stream change"
    * answer q181's whole-range OLS trend smears out.
    *
    * The fold is inherently sequential in time but DAY-BOUNDED: per
    * type the day series collects into one array (365 entries/year
    * regardless of petabytes) and folds in a single higher-order
    * `aggregate` — the oracle replays it with a recursive CTE.
    */
  def q237CusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total"),
        array_sort(collect_list(struct(col("day"), col("c")))).as("ds"))
      .withColumn("slack", expr("total div 4"))
      .withColumn("fold", expr(
        """aggregate(
          |  ds,
          |  named_struct('s', 0L, 'mx', 0L,
          |    'crossday', CAST(NULL AS LONG)),
          |  (acc, x) -> named_struct(
          |    's', greatest(0L, acc.s + n_days * x.c - total - slack),
          |    'mx', greatest(acc.mx,
          |      greatest(0L, acc.s + n_days * x.c - total - slack)),
          |    'crossday', CASE WHEN acc.crossday IS NULL
          |        AND greatest(0L, acc.s + n_days * x.c - total - slack)
          |          > 2 * total
          |      THEN x.day ELSE acc.crossday END))""".stripMargin))
      .select(col("event_type"), col("n_days"), col("total"),
        col("fold.mx").as("max_cusum_scaled"),
        (col("fold.mx") > col("total") * 2).as("crossed"),
        col("fold.crossday").as("first_cross_day"))
      .orderBy(col("event_type"))
  }

  val q237Oracle: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type,
      |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS total,
      |    CAST(SUM(c) AS BIGINT) // 4 AS slack
      |  FROM daily GROUP BY event_type),
      |dd AS (
      |  SELECT daily.event_type, daily.day, daily.c, m.n_days, m.total,
      |    m.slack,
      |    row_number() OVER (PARTITION BY daily.event_type
      |      ORDER BY daily.day) AS rn
      |  FROM daily JOIN m USING (event_type)),
      |r AS (
      |  SELECT event_type, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS s,
      |    CAST(0 AS BIGINT) AS mx, CAST(NULL AS BIGINT) AS crossday
      |  FROM m
      |  UNION ALL
      |  SELECT dd.event_type, dd.rn,
      |    greatest(0, r.s + dd.n_days * dd.c - dd.total - dd.slack),
      |    greatest(r.mx,
      |      greatest(0, r.s + dd.n_days * dd.c - dd.total - dd.slack)),
      |    CASE WHEN r.crossday IS NULL
      |        AND greatest(0, r.s + dd.n_days * dd.c - dd.total - dd.slack)
      |          > 2 * dd.total
      |      THEN dd.day ELSE r.crossday END
      |  FROM r JOIN dd ON dd.event_type = r.event_type AND dd.rn = r.rn + 1)
      |SELECT m.event_type, m.n_days, m.total,
      |  r.mx AS max_cusum_scaled,
      |  r.mx > m.total * 2 AS crossed,
      |  r.crossday AS first_cross_day
      |FROM m JOIN r ON r.event_type = m.event_type AND r.rn = m.n_days
      |ORDER BY m.event_type""".stripMargin

  /** TRAFFIC-MIX CONCENTRATION (q244) — the Herfindahl–Hirschman index
    * of the event-type mix per day: HHI·10⁶ = Σcᵢ²·10⁶ div N², from
    * 10⁶/|types| (perfectly even) to 10⁶ (one type owns the day). The
    * "did one traffic source take over" screen — a concentration spike
    * with flat volume is a bot cohort or a broken producer, invisible
    * to per-type counts alone. Includes each day's dominant type and
    * its exact share. All integer arithmetic.
    *
    * Scale shape: one (day, type) hash-agg, then a |days|-row rollup
    * with max(struct(c, type)) for the dominant slot.
    */
  def q244HhiMix(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
        .as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sum_c2"),
        max(struct(col("c"), col("event_type"))).as("top"))
      .select(col("day"), col("n_types"), col("n_events"),
        expr("""CAST(CAST(sum_c2 AS DECIMAL(38,0)) * 1000000
          | div (CAST(n_events AS DECIMAL(38,0)) * n_events) AS BIGINT)"""
          .stripMargin).as("hhi_ppm"),
        col("top.event_type").as("dominant_type"),
        expr("top.c * 1000000L div n_events").as("dominant_share_ppm"))
      .orderBy(col("day"))

  val q244Oracle: String =
    """WITH d AS (
      |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
      |    event_type, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(c) AS BIGINT) AS n_events,
      |    CAST(SUM(c * c) AS BIGINT) AS sum_c2,
      |    (max({'c': c, 'event_type': event_type})).c AS top_c,
      |    (max({'c': c, 'event_type': event_type})).event_type AS top_t
      |  FROM d GROUP BY day)
      |SELECT day, n_types, n_events,
      |  CAST(CAST(sum_c2 AS HUGEINT) * 1000000
      |    // (CAST(n_events AS HUGEINT) * n_events) AS BIGINT) AS hhi_ppm,
      |  top_t AS dominant_type,
      |  CAST(CAST(top_c AS HUGEINT) * 1000000 // n_events AS BIGINT)
      |    AS dominant_share_ppm
      |FROM g
      |ORDER BY day""".stripMargin

  /** OFFLINE GREEDY-BANDIT REPLAY (q256) — off-policy evaluation on
    * logged data (the Li et al. replay method, daily-batch form): each
    * day the greedy policy picks the arm (event type) with the best
    * CUMULATIVE mean value over all prior days, and is paid that day's
    * actual mean value of the chosen arm. Means are quantized to exact
    * integers (cents·10⁶ div n — the policy is defined ON the quantized
    * statistic, so both engines pick identical arms; ties to the
    * lexicographically last arm via struct-max; day 1, with no history,
    * falls to that same tie rule over empty means). The "what would the
    * naive exploit-only strategy have earned" baseline every
    * experimentation platform reports.
    *
    * Scale shape: one (type, day) aggregate, per-type cumulative
    * windows over day-bounded partitions, a |days|-row argmax.
    */
  def q256BanditReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = daily
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cs", sum(col("s")).over(w))
      .withColumn("mean_prev", expr(
        """CASE WHEN cn IS NULL THEN -1L
          | ELSE CAST(CAST(cs AS DECIMAL(38,0)) * 1000000
          |   div cn AS BIGINT) END""".stripMargin))
      .withColumn("mean_today", expr(
        "CAST(CAST(s AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"))
    val chosen = grid.groupBy(col("day"))
      .agg(max(struct(col("mean_prev"), col("event_type"))).as("pick"))
      .select(col("day"), col("pick.event_type").as("chosen_arm"),
        col("pick.mean_prev").as("mean_prev_scaled"))
    chosen.join(grid.select(col("day"), col("event_type").as("chosen_arm"),
        col("mean_today").as("reward_scaled")), Seq("day", "chosen_arm"))
      .orderBy(col("day"))
  }

  val q256Oracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT *,
      |    SUM(n) OVER w AS cn, SUM(s) OVER w AS cs
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |m AS (
      |  SELECT day, event_type,
      |    CASE WHEN cn IS NULL THEN -1
      |      ELSE CAST(CAST(cs AS HUGEINT) * 1000000 // cn AS BIGINT) END
      |      AS mean_prev,
      |    CAST(CAST(s AS HUGEINT) * 1000000 // n AS BIGINT) AS mean_today
      |  FROM grid),
      |pick AS (
      |  SELECT day,
      |    (max({'mp': mean_prev, 'et': event_type})).et AS chosen_arm,
      |    (max({'mp': mean_prev, 'et': event_type})).mp AS mean_prev_scaled
      |  FROM m GROUP BY day)
      |SELECT pick.day, pick.chosen_arm, pick.mean_prev_scaled,
      |  m.mean_today AS reward_scaled
      |FROM pick JOIN m
      |  ON m.day = pick.day AND m.event_type = pick.chosen_arm
      |ORDER BY pick.day""".stripMargin

  /** RAPID-REPEAT SCREEN (q259) — the telemetry double-fire detector:
    * the same user emitting the same event TYPE twice within 60 seconds
    * is a suspected client double-fire or retry storm. Per-user lag
    * windows flag the SECOND event of each pair with its exact gap —
    * the review-list a cleanup job consumes (value equality is
    * deliberately NOT required: retried requests often re-randomize
    * payload fields; the type+proximity signature is the durable
    * tell). Microsecond arithmetic, no floats.
    */
  def q259EventDoubleFire(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_us",
        expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w))
      .filter(col("prev_type") === col("event_type") &&
        col("gap_us") < 60000000L)
      .select(col("user_id"), col("event_id").as("dup_event_id"),
        col("event_type"), col("gap_us"))
      .orderBy(col("dup_event_id"))
  }

  val q259Oracle: String =
    """WITH g AS (
      |  SELECT user_id, event_id, event_type,
      |    lag(event_type) OVER w AS prev_type,
      |    CAST(epoch_us(ts) AS BIGINT)
      |      - lag(CAST(epoch_us(ts) AS BIGINT)) OVER w AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id AS dup_event_id, event_type, gap_us
      |FROM g
      |WHERE prev_type = event_type AND gap_us < 60000000
      |ORDER BY dup_event_id""".stripMargin

  /** DAU/MAU STICKINESS (q261) — the product-analytics retention pulse:
    * per day, the active users that day (DAU), the distinct users of
    * the trailing 28 days (MAU), and stickiness = DAU·10⁶ div MAU.
    * Exact sliding distinct WITHOUT window state: each (user, day)
    * activity contributes itself to the 28 window-days it covers
    * (constant ×28 explode), then one distinct-count per window-day —
    * the fan-out shape that scales because it never holds a window's
    * user set in memory. Days before a full window report their
    * partial-window MAU (standard dashboard behavior, documented).
    */
  def q261DauMau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("day"))
      .distinct()
    val span = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val mau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 27)).as("wday"))
      .distinct()
      .groupBy(col("wday")).agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau.select(col("wday").as("day"), col("mau")), "day")
      .crossJoin(broadcast(span))
      .filter(col("day") <= col("d1"))
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 1000000L div mau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  val q261Oracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      |        FROM ud GROUP BY day),
      |mau AS (
      |  SELECT wday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      |  FROM (SELECT DISTINCT user_id, day + k AS wday
      |        FROM ud, UNNEST(range(0, 28)) AS t(k))
      |  GROUP BY wday),
      |sp AS (SELECT MAX(day) AS d1 FROM ud)
      |SELECT dau.day, dau.dau, mau.mau,
      |  CAST(CAST(dau.dau AS HUGEINT) * 1000000 // mau.mau AS BIGINT)
      |    AS stickiness_ppm
      |FROM dau JOIN mau ON mau.wday = dau.day
      |CROSS JOIN sp
      |WHERE dau.day <= sp.d1
      |ORDER BY dau.day""".stripMargin

  /** COHORT RETENTION MATRIX (q279) — the canonical product-analytics
    * report DAU/MAU (q261) cannot answer: per signup cohort (week of
    * first activity), what fraction is still active k weeks later. The
    * matrix separates "new users mask churn" from real retention — a
    * flat DAU with collapsing cohort rows is the classic failure this
    * surfaces. All counts exact distinct users; retention in integer
    * ppm against the cohort size.
    *
    * Scale shape: (user, week) distinct → per-user min (cohort) → one
    * user-keyed equi-join back → (cohort, offset) distinct-count. Every
    * shuffle keys on user_id or the tiny (cohort, offset) space; cohort
    * sizes broadcast onto the matrix.
    */
  def q279CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("n_cohort"))
    ev.join(cohort, "user_id")
      .withColumn("week_offset",
        expr("CAST(datediff(wk, cohort_wk) div 7 AS BIGINT)"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_cohort"),
        col("n_active"),
        expr("n_active * 1000000L div n_cohort").as("retention_ppm"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  val q279Oracle: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
      |s AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_cohort
      |      FROM c GROUP BY cohort_wk),
      |a AS (
      |  SELECT c.cohort_wk,
      |    CAST(date_diff('day', CAST(c.cohort_wk AS DATE),
      |      CAST(ev.wk AS DATE)) // 7 AS BIGINT) AS week_offset,
      |    CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active
      |  FROM ev JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT a.cohort_wk, week_offset, n_cohort, n_active,
      |  n_active * 1000000 // n_cohort AS retention_ppm
      |FROM a JOIN s USING (cohort_wk)
      |ORDER BY a.cohort_wk, week_offset""".stripMargin

  /** PER-SERIES TREND SLOPE — EXACT INTEGER OLS (q283): for each event
    * type, the least-squares slope of value (cents) against time (hours
    * since corpus start), carried as the EXACT rational
    * num/den = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with the quotient
    * reported in milli-cents/hour by integer division — both engines
    * truncate toward zero, so negative slopes stay bit-identical. CUSUM
    * (q237) finds level SHIFTS and the seasonal screen (q221) periodic
    * structure; this is the monotone-drift detector that catches slow
    * leaks neither fires on. Products are promoted to DECIMAL(38,0)
    * (q227's discipline) — n·Σxy at 100 TB event counts wraps BIGINT.
    *
    * Scale shape: one 1-row min broadcast to rebase x (keeps x² small
    * AND overflow-safe), then a single ~|type|-key aggregate with
    * map-side combine. No windows, no joins beyond the broadcast.
    */
  def q283TrendSlope(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts)").as("us"),
        (col("value").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
    val t0 = ev.agg(min(col("us")).as("us0"))
    ev.crossJoin(broadcast(t0))
      .withColumn("x", expr("(us - us0) div 3600000000L"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"),
        sum(col("cents")).as("sum_y"),
        sum(expr("x * x")).as("sum_xx"),
        sum(expr("x * cents")).as("sum_xy"))
      .withColumn("num", expr(
        "CAST(n AS DECIMAL(38,0)) * sum_xy - " +
          "CAST(sum_x AS DECIMAL(38,0)) * sum_y"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * sum_xx - " +
          "CAST(sum_x AS DECIMAL(38,0)) * sum_x"))
      .select(col("event_type"), col("n"), col("sum_x"), col("sum_y"),
        col("sum_xx"), col("sum_xy"),
        expr("CAST(num * 1000 div den AS BIGINT)")
          .as("slope_millicents_per_hour"))
      .orderBy(col("event_type"))
  }

  val q283Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |t0 AS (SELECT MIN(us) AS us0 FROM ev),
      |xy AS (
      |  SELECT event_type, (us - us0) // 3600000000 AS x, cents
      |  FROM ev CROSS JOIN t0),
      |s AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sum_x,
      |    CAST(SUM(cents) AS BIGINT) AS sum_y,
      |    CAST(SUM(x * x) AS BIGINT) AS sum_xx,
      |    CAST(SUM(x * cents) AS BIGINT) AS sum_xy
      |  FROM xy GROUP BY event_type)
      |SELECT event_type, n, sum_x, sum_y, sum_xx, sum_xy,
      |  CAST((CAST(n AS HUGEINT) * sum_xy - CAST(sum_x AS HUGEINT) * sum_y)
      |    * 1000
      |    // (CAST(n AS HUGEINT) * sum_xx - CAST(sum_x AS HUGEINT) * sum_x)
      |    AS BIGINT) AS slope_millicents_per_hour
      |FROM s
      |ORDER BY event_type""".stripMargin

  /** SESSION-GAP SENSITIVITY (q292) — how fragile is "session count" to
    * its one magic number? Every sessionization (q45, q242, q250) fixes
    * a 30-minute gap; this runs the SAME cut at 15/30/60 minutes in ONE
    * pass and reports sessions, sessions-per-user (exact milli) and the
    * share of single-event sessions at each threshold. If the metric
    * halves between 15 and 60 minutes, the dashboard number is a
    * parameter artifact, not user behavior — the sensitivity check that
    * should precede any session-based KPI.
    *
    * One lag window per user computes each event's gap once; every
    * threshold is then a conditional aggregate over the same frame — no
    * per-threshold rescans. A session start is gap NULL (first event)
    * or gap > t; single-event sessions are starts whose NEXT gap also
    * starts a session (lead back over the same window).
    *
    * Scale shape: one user-keyed window pass + three constant
    * aggregates unioned; output 3 rows.
    */
  def q292SessionGapSensitivity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .withColumn("next_gap_us", lead(col("gap_us"), 1).over(w))
    val nUsers = ev.agg(countDistinct(col("user_id")).as("n_users"))
    val frames = Seq(900L, 1800L, 3600L).map { t =>
      val tUs = t * 1000000L
      val isStart = col("gap_us").isNull || col("gap_us") > tUs
      val nextStarts = col("next_gap_us").isNull || col("next_gap_us") > tUs
      ev.agg(
          sum(when(isStart, 1L).otherwise(0L)).as("n_sessions"),
          sum(when(isStart && nextStarts, 1L).otherwise(0L))
            .as("n_single_event"))
        .crossJoin(broadcast(nUsers))
        .select(lit(t).as("gap_seconds"), col("n_sessions"),
          col("n_single_event"), col("n_users"),
          expr("n_sessions * 1000 div n_users").as("sessions_per_user_milli"),
          expr("n_single_event * 1000000L div n_sessions")
            .as("single_event_ppm"))
    }
    frames.reduce(_ unionByName _).orderBy(col("gap_seconds"))
  }

  val q292Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |g0 AS (
      |  SELECT user_id, event_id, us,
      |    us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS gap_us
      |  FROM ev),
      |g AS (
      |  SELECT user_id, us, gap_us,
      |    LEAD(gap_us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS next_gap_us
      |  FROM g0),
      |u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |      FROM ev),
      |t AS (SELECT CAST(v.g AS BIGINT) AS gap_seconds
      |      FROM (VALUES (900), (1800), (3600)) v(g))
      |SELECT t.gap_seconds,
      |  CAST(SUM(CASE WHEN g.gap_us IS NULL
      |        OR g.gap_us > t.gap_seconds * 1000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_sessions,
      |  CAST(SUM(CASE WHEN (g.gap_us IS NULL
      |        OR g.gap_us > t.gap_seconds * 1000000)
      |        AND (g.next_gap_us IS NULL
      |        OR g.next_gap_us > t.gap_seconds * 1000000) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_single_event,
      |  u.n_users,
      |  CAST(SUM(CASE WHEN g.gap_us IS NULL
      |        OR g.gap_us > t.gap_seconds * 1000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000 // u.n_users AS sessions_per_user_milli,
      |  CAST(SUM(CASE WHEN (g.gap_us IS NULL
      |        OR g.gap_us > t.gap_seconds * 1000000)
      |        AND (g.next_gap_us IS NULL
      |        OR g.next_gap_us > t.gap_seconds * 1000000) THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000
      |    // CAST(SUM(CASE WHEN g.gap_us IS NULL
      |        OR g.gap_us > t.gap_seconds * 1000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS single_event_ppm
      |FROM g CROSS JOIN t CROSS JOIN u
      |GROUP BY t.gap_seconds, u.n_users
      |ORDER BY gap_seconds""".stripMargin

  /** CENSORING-AWARE LIFE TABLE (q299) — the survival-analysis complement
    * to q279's retention matrix: per day-offset k from each user's first
    * activity, how many users were AT RISK (still active entering k),
    * how many CHURNED at k (last event at offset k with the observation
    * window extending past it), and how many are CENSORED (last event at
    * the window edge — absence of data, not evidence of churn; counting
    * these as churn is the classic retention-analysis bias this operator
    * exists to remove). Hazard = churned·10⁶ div at_risk, the discrete
    * Kaplan-Meier increment, integer-exact — the KM survival PRODUCT is
    * deliberately not emitted (cumulative rational products overflow any
    * fixed decimal; the hazard sequence carries the same information).
    *
    * Scale shape: one per-user aggregate (min/max day — map-side
    * combine), a 1-row global-max broadcast, then all counting collapses
    * to the ≤ #distinct-offsets frame: churn/censor tallies per offset
    * and at_risk as a reverse running sum over that tiny frame. No join
    * touches raw events twice.
    */
  def q299LifeTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("f"), max(to_date(col("ts"))).as("l"))
    val g = u.agg(max(col("l")).as("gmax"))
    val o = u.join(broadcast(g))
      .select(datediff(col("l"), col("f")).cast(LongType).as("off"),
        datediff(col("gmax"), col("f")).cast(LongType).as("omax"))
    val sparse = o.groupBy(col("off"))
      .agg(count(lit(1)).as("n_end"),
        sum(when(col("omax") > col("off"), 1L).otherwise(0L)).as("churned"),
        sum(when(col("omax") === col("off"), 1L).otherwise(0L)).as("censored"))
    // Dense interval spine 0..max(off): a life table has a row per
    // interval even when nobody exits there (at_risk must be defined at
    // every offset). The spine is bounded by the calendar span in days —
    // a tiny frame regardless of corpus size.
    val grp = sparse.agg(max(col("off")).as("m"))
      .select(explode(sequence(lit(0L), col("m"))).as("off"))
      .join(sparse, Seq("off"), "left")
      .na.fill(0L, Seq("n_end", "churned", "censored"))
    grp.withColumn("at_risk",
        sum(col("n_end")).over(Window.orderBy(col("off").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("off").as("day_offset"), col("at_risk"), col("churned"),
        col("censored"),
        expr("churned * 1000000L div at_risk").as("hazard_ppm"))
      .orderBy(col("day_offset"))
  }

  val q299Oracle: String =
    """WITH u AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |g AS (SELECT MAX(l) AS gmax FROM u),
      |o AS (
      |  SELECT CAST(date_diff('day', f, l) AS BIGINT) AS off,
      |    CAST(date_diff('day', f, gmax) AS BIGINT) AS omax
      |  FROM u CROSS JOIN g),
      |sparse AS (
      |  SELECT off, CAST(COUNT(*) AS BIGINT) AS n_end,
      |    CAST(SUM(CASE WHEN omax > off THEN 1 ELSE 0 END) AS BIGINT)
      |      AS churned,
      |    CAST(SUM(CASE WHEN omax = off THEN 1 ELSE 0 END) AS BIGINT)
      |      AS censored
      |  FROM o GROUP BY off),
      |spine AS (
      |  SELECT CAST(UNNEST(generate_series(
      |      0, (SELECT MAX(off) FROM sparse))) AS BIGINT) AS off),
      |grp AS (
      |  SELECT spine.off,
      |    COALESCE(n_end, 0) AS n_end,
      |    COALESCE(churned, 0) AS churned,
      |    COALESCE(censored, 0) AS censored
      |  FROM spine LEFT JOIN sparse ON spine.off = sparse.off),
      |r AS (
      |  SELECT off AS day_offset,
      |    CAST(SUM(n_end) OVER (ORDER BY off DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS at_risk,
      |    churned, censored
      |  FROM grp)
      |SELECT day_offset, at_risk, churned, censored,
      |  churned * 1000000 // at_risk AS hazard_ppm
      |FROM r
      |ORDER BY day_offset""".stripMargin

  /** PEAK-CONCURRENCY SWEEP LINE (q303) — per day: the maximum number of
    * SIMULTANEOUSLY open user sessions, with the timestamp where the peak
    * is first reached — the capacity-planning gauge (connection pools,
    * rate limits, serving replicas are sized to peak concurrency, not
    * event volume). Sessions are q45's exact semantics (session_window,
    * 30-minute gap, half-open [start, last+30min)); the sweep is the
    * classic interval algebra: every session contributes a +1 boundary at
    * start and a −1 at end, and concurrency at any boundary is the
    * running total over all boundaries in (ts, delta) order — delta
    * ascending so an end and a start at the same instant do NOT overlap
    * (half-open intervals).
    *
    * Scale shape: the running level is the textbook one-global-window
    * anti-pattern (a single task would sort 2·#sessions rows), so it runs
    * on [[graft.functions.PrefixSum.runningTotal]] — the two-pass
    * distributed prefix sum: range-exchange on the sort key, O(1)-state
    * local cumsum, tiny per-partition offset frame broadcast back. Day
    * rollup and the peak-timestamp lookup are one aggregate + one
    * broadcast join over the boundary frame. Days with no boundary hold
    * the previous close (no session starts or ends — concurrency cannot
    * peak) and are deliberately not emitted.
    */
  def q303PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = graft.streaming.StreamingOps
      .sessionAgg(Tables.events(spark, dir))
      .select(col("s_start"), col("s_end"))
    val bounds = sess.select(col("s_start").as("ts"), lit(1L).as("delta"))
      .unionByName(sess.select(col("s_end").as("ts"), lit(-1L).as("delta")))
      .withColumn("g", lit("all"))
    val leveled = graft.functions.PrefixSum.runningTotal(
        bounds, Seq("g"), Seq(col("ts").asc, col("delta").asc),
        "delta", "level")
      .withColumn("day", to_date(col("ts")))
    val byDay = leveled.groupBy(col("day"))
      .agg(max(col("level")).as("peak_concurrency"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_ends"))
    leveled.join(broadcast(byDay), Seq("day"))
      .filter(col("level") === col("peak_concurrency"))
      .groupBy(col("day"), col("peak_concurrency"),
        col("n_starts"), col("n_ends"))
      .agg(min(col("ts")).as("peak_ts"))
      .select(col("day"), col("peak_concurrency"), col("n_starts"),
        col("n_ends"), col("peak_ts"))
      .orderBy(col("day"))
  }

  val q303Oracle: String =
    """WITH brk AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess0 AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM brk),
      |sess AS (
      |  SELECT MIN(ts) AS s_start, MAX(ts) + INTERVAL '30 minutes' AS s_end
      |  FROM sess0 GROUP BY user_id, sid),
      |b AS (
      |  SELECT s_start AS ts, CAST(1 AS BIGINT) AS delta FROM sess
      |  UNION ALL
      |  SELECT s_end AS ts, CAST(-1 AS BIGINT) AS delta FROM sess),
      |lv AS (
      |  SELECT ts, delta,
      |    SUM(delta) OVER (ORDER BY ts, delta
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS level
      |  FROM b),
      |d AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(MAX(level) AS BIGINT) AS peak_concurrency,
      |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_starts,
      |    CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_ends
      |  FROM lv GROUP BY 1)
      |SELECT d.day, d.peak_concurrency, d.n_starts, d.n_ends,
      |  MIN(lv.ts) AS peak_ts
      |FROM d JOIN lv
      |  ON CAST(lv.ts AS DATE) = d.day AND lv.level = d.peak_concurrency
      |GROUP BY 1, 2, 3, 4
      |ORDER BY d.day""".stripMargin

  /** Shared daily spine for the backtest/cross-correlation pair
    * (q312/q314): per (event_type, calendar day) the exact cents total,
    * densified over the full [min, max] day range so lag arithmetic is
    * calendar-true (a silent day reads as 0 cents, not as a skipped lag).
    * `day_idx` is days since corpus start — integer, join- and
    * lag-friendly. Scale shape: one corpus-keyed aggregate; the spine
    * itself is |days|×|types|, time-bounded, not data-bounded.
    */
  private def dailyCentsSpine(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        (col("value").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
    val mm = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val types = ev.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(mm))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"), col("d0"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("cents"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        expr("datediff(day, d0)").cast(LongType).as("day_idx"),
        coalesce(col("cents"), lit(0L)).as("cents"))
  }

  /** SEASONAL-NAIVE FORECAST BACKTEST (q312) — the eval discipline for
    * the monitoring tier: before trusting any anomaly threshold (q221)
    * or drift alarm (q237), measure how predictable the series even IS.
    * Per event type, forecast the LAST 7 days with the seasonal-naive
    * rule x̂(t) = x(t−7) and score it with MASE (mean absolute scaled
    * error): test error divided by the in-sample one-step naive error —
    * the scale-free forecast metric that needs no float (both sums are
    * exact cents; the ratio ships in ppm by cross-multiplied integer
    * division). MASE < 1e6 means the weekly pattern beats a random-walk
    * guess; ≫ 1e6 means "seasonality" is noise and any
    * seasonal-baseline alert on this series is theater.
    *
    * Scale shape: rides [[dailyCentsSpine]] (one corpus aggregate);
    * lags are windows over spine-sized per-type partitions (≤ |days|
    * rows each — time-bounded, documented q221/q223 posture); output is
    * |types| rows.
    */
  def q312MaseBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyCentsSpine(spark, dir)
    val nDays = daily.groupBy(col("event_type"))
      .agg((max(col("day_idx")) + 1).as("n_days"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
    val lagged = daily
      .withColumn("lag7", lag(col("cents"), 7).over(w))
      .withColumn("lag1", lag(col("cents"), 1).over(w))
      .join(broadcast(nDays), "event_type")
    lagged.groupBy(col("event_type"), col("n_days"))
      .agg(
        sum(when(col("day_idx") >= col("n_days") - 7,
          abs(col("cents") - col("lag7")))).as("sum_abs_err"),
        sum(when(col("day_idx") < col("n_days") - 7 && col("day_idx") >= 1,
          abs(col("cents") - col("lag1")))).as("sum_abs_naive"),
        count(when(col("day_idx") < col("n_days") - 7 && col("day_idx") >= 1,
          lit(1))).as("n_train_diffs"))
      .select(col("event_type"), col("n_days"), col("sum_abs_err"),
        col("sum_abs_naive"), col("n_train_diffs"),
        expr("CASE WHEN sum_abs_naive = 0 THEN NULL ELSE " +
          "CAST(CAST(sum_abs_err AS DECIMAL(38,0)) * n_train_diffs " +
          "* 1000000 div (7 * CAST(sum_abs_naive AS DECIMAL(38,0))) " +
          "AS BIGINT) END").as("mase_ppm"))
      .orderBy(col("event_type"))
  }

  val q312Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |mm AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      |sp AS (
      |  SELECT et.event_type,
      |    CAST(date_diff('day', mm.d0, CAST(g AS DATE)) AS BIGINT)
      |      AS day_idx
      |  FROM (SELECT DISTINCT event_type FROM ev) et, mm,
      |    UNNEST(generate_series(CAST(mm.d0 AS TIMESTAMP),
      |      CAST(mm.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS t(g)),
      |d AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', mm.d0, day) AS BIGINT) AS day_idx,
      |    CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM ev, mm GROUP BY 1, 2),
      |f AS (
      |  SELECT sp.event_type, sp.day_idx, COALESCE(d.cents, 0) AS cents
      |  FROM sp LEFT JOIN d
      |    ON d.event_type = sp.event_type AND d.day_idx = sp.day_idx),
      |n AS (
      |  SELECT event_type, MAX(day_idx) + 1 AS n_days FROM f
      |  GROUP BY event_type),
      |l AS (
      |  SELECT f.event_type, day_idx, cents, n.n_days,
      |    lag(cents, 7) OVER (PARTITION BY f.event_type ORDER BY day_idx)
      |      AS lag7,
      |    lag(cents, 1) OVER (PARTITION BY f.event_type ORDER BY day_idx)
      |      AS lag1
      |  FROM f JOIN n USING (event_type)),
      |s AS (
      |  SELECT event_type, n_days,
      |    CAST(SUM(CASE WHEN day_idx >= n_days - 7
      |      THEN abs(cents - lag7) END) AS BIGINT) AS sum_abs_err,
      |    CAST(SUM(CASE WHEN day_idx < n_days - 7 AND day_idx >= 1
      |      THEN abs(cents - lag1) END) AS BIGINT) AS sum_abs_naive,
      |    CAST(COUNT(CASE WHEN day_idx < n_days - 7 AND day_idx >= 1
      |      THEN 1 END) AS BIGINT) AS n_train_diffs
      |  FROM l GROUP BY event_type, n_days)
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, sum_abs_err,
      |  sum_abs_naive, n_train_diffs,
      |  CASE WHEN sum_abs_naive = 0 THEN NULL ELSE
      |    CAST(CAST(sum_abs_err AS HUGEINT) * n_train_diffs * 1000000
      |      // (7 * CAST(sum_abs_naive AS HUGEINT)) AS BIGINT) END
      |    AS mase_ppm
      |FROM s
      |ORDER BY event_type""".stripMargin

  /** LEAD–LAG CROSS-CORRELATION SCREEN (q314) — which series PREDICTS
    * which: for every ordered pair of event types and lag L ∈ 0..3 days,
    * the Pearson correlation between x = A's daily cents at day t and
    * y = B's at day t+L, reported EXACTLY as the integer covariance
    * numerator's sign plus corr² in ppm (squares cross-multiplied —
    * sqrt never happens, so both engines agree bit-for-bit; sign + r²
    * carry the same decision content as r). A peak at L > 0 with
    * positive sign means A leads B by L days — the signal behind
    * alert-cascade root-causing and metric-dependency maps.
    *
    * Scale shape: rides the same [[dailyCentsSpine]]; the pair×lag
    * frame is |types|²×4 rows built by a day_idx equi-join on the
    * time-bounded spine — never a corpus-sized join. DECIMAL(38,0)
    * promotion on every second-order product (q227/q283 discipline).
    */
  def q314LeadLagXcorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCentsSpine(spark, dir)
    val a = daily.select(col("event_type").as("type_a"),
      col("day_idx"), col("cents").as("x"))
    val b = daily.select(col("event_type").as("type_b"),
      col("day_idx").as("day_b"), col("cents").as("y"))
    val lags = Seq(0L, 1L, 2L, 3L)
    a.withColumn("lag", explode(typedLit(lags)))
      .join(b, col("day_b") === col("day_idx") + col("lag"))
      .filter(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sum_xy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sum_xx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("sum_yy"))
      .withColumn("num", expr(
        "CAST(n AS DECIMAL(38,0)) * sum_xy - " +
          "CAST(sum_x AS DECIMAL(38,0)) * sum_y"))
      .withColumn("den_x", expr(
        "CAST(n AS DECIMAL(38,0)) * sum_xx - " +
          "CAST(sum_x AS DECIMAL(38,0)) * sum_x"))
      .withColumn("den_y", expr(
        "CAST(n AS DECIMAL(38,0)) * sum_yy - " +
          "CAST(sum_y AS DECIMAL(38,0)) * sum_y"))
      .select(col("type_a"), col("type_b"), col("lag"), col("n"),
        expr("CAST(sign(num) AS BIGINT)").as("corr_sign"),
        expr("CASE WHEN den_x = 0 OR den_y = 0 THEN NULL ELSE " +
          "CAST(num * num * 1000000 div (den_x * den_y) AS BIGINT) END")
          .as("corr2_ppm"))
      .orderBy(col("type_a"), col("type_b"), col("lag"))
  }

  val q314Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |mm AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      |sp AS (
      |  SELECT et.event_type,
      |    CAST(date_diff('day', mm.d0, CAST(g AS DATE)) AS BIGINT)
      |      AS day_idx
      |  FROM (SELECT DISTINCT event_type FROM ev) et, mm,
      |    UNNEST(generate_series(CAST(mm.d0 AS TIMESTAMP),
      |      CAST(mm.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS t(g)),
      |d AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', mm.d0, day) AS BIGINT) AS day_idx,
      |    CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM ev, mm GROUP BY 1, 2),
      |f AS (
      |  SELECT sp.event_type, sp.day_idx, COALESCE(d.cents, 0) AS cents
      |  FROM sp LEFT JOIN d
      |    ON d.event_type = sp.event_type AND d.day_idx = sp.day_idx),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(a.cents) AS BIGINT) AS sum_x,
      |    CAST(SUM(b.cents) AS BIGINT) AS sum_y,
      |    SUM(CAST(a.cents AS HUGEINT) * b.cents) AS sum_xy,
      |    SUM(CAST(a.cents AS HUGEINT) * a.cents) AS sum_xx,
      |    SUM(CAST(b.cents AS HUGEINT) * b.cents) AS sum_yy
      |  FROM f a
      |  CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS lag) l
      |  JOIN f b ON b.day_idx = a.day_idx + l.lag
      |    AND b.event_type <> a.event_type
      |  GROUP BY 1, 2, 3),
      |c AS (
      |  SELECT type_a, type_b, lag, n,
      |    CAST(n AS HUGEINT) * sum_xy
      |      - CAST(sum_x AS HUGEINT) * sum_y AS num,
      |    CAST(n AS HUGEINT) * sum_xx
      |      - CAST(sum_x AS HUGEINT) * sum_x AS den_x,
      |    CAST(n AS HUGEINT) * sum_yy
      |      - CAST(sum_y AS HUGEINT) * sum_y AS den_y
      |  FROM p)
      |SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n,
      |  CAST(sign(num) AS BIGINT) AS corr_sign,
      |  CASE WHEN den_x = 0 OR den_y = 0 THEN NULL ELSE
      |    CAST(num * num * 1000000 // (den_x * den_y) AS BIGINT) END
      |    AS corr2_ppm
      |FROM c
      |ORDER BY type_a, type_b, lag""".stripMargin

  /** DAU / MAU STICKINESS (q315) — the canonical engagement ratio, made
    * calendar-exact: for every day of the corpus span, the count of
    * users active THAT day (DAU), the count active in the trailing
    * 28-day window (MAU28), and stickiness = DAU/MAU in ppm. Rolling
    * COUNT DISTINCT has no window-function form in either engine — the
    * standard wrong answer sums daily DAUs (double-counting returnees).
    * Here membership is materialized: the distinct (user, day) activity
    * frame joins the day spine on a 0 ≤ d − active_day ≤ 27 band, and a
    * distinct-per-day count collapses multi-day users — exact by
    * construction.
    *
    * Scale shape: activity is one distinct aggregate (corpus-keyed);
    * the band join fans each (user, active-day) row out ≤ 28× — a
    * CONSTANT multiplier on a frame already collapsed to user×day, and
    * the join key (day) is time-bounded. Nothing windows over users.
    */
  def q315DauMauStickiness(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("aday"))
      .filter(col("user_id").isNotNull)
      .distinct()
    val mm = active.agg(min(col("aday")).as("d0"), max(col("aday")).as("d1"))
    val spine = broadcast(mm)
      .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
        .as("day"))
    val dau = active.groupBy(col("aday").as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = spine.join(active,
        expr("datediff(day, aday) BETWEEN 0 AND 27"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("mau28"))
    mau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        col("mau28"),
        expr("coalesce(dau, 0L) * 1000000L div mau28").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  val q315Oracle: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS aday FROM events
      |  WHERE user_id IS NOT NULL),
      |mm AS (SELECT MIN(aday) AS d0, MAX(aday) AS d1 FROM active),
      |sp AS (
      |  SELECT CAST(g AS DATE) AS day
      |  FROM mm, UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS t(g)),
      |dau AS (
      |  SELECT aday AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM active GROUP BY aday),
      |mau AS (
      |  SELECT sp.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS mau28
      |  FROM sp JOIN active a
      |    ON date_diff('day', a.aday, sp.day) BETWEEN 0 AND 27
      |  GROUP BY sp.day)
      |SELECT m.day, COALESCE(d.dau, 0) AS dau, m.mau28,
      |  COALESCE(d.dau, 0) * 1000000 // m.mau28 AS stickiness_ppm
      |FROM mau m LEFT JOIN dau d ON d.day = m.day
      |ORDER BY m.day""".stripMargin

  /** ACTIVITY-STREAK HISTOGRAM (q321) — the engagement-depth
    * distribution: for every user, consecutive-calendar-day activity
    * runs via gaps-and-islands (island key = active day minus the
    * per-user day rank — constant exactly within a consecutive run,
    * q176's discipline applied PER ENTITY instead of per calendar), then
    * two corpus rollups onto the streak-length axis: how many streaks
    * of each exact length exist, and how many users PEAK at that length.
    * The two marginals answer different product questions (volume of
    * n-day runs vs depth of the user base) and reconcile against each
    * other in the spec: Σ n_users_peak = |users|, Σ len·n_streaks =
    * Σ active days.
    *
    * Scale shape: the window partitions by user_id — corpus-cardinality
    * keys, every partition a handful of rows, nothing global; the two
    * histograms aggregate onto the tiny streak-length axis and
    * full-outer-join there. No single-partition anything.
    */
  def q321StreakHistogram(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("aday"))
      .distinct()
    val isl = active.withColumn("rn",
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("aday"))))
      .withColumn("grp", date_sub(col("aday"), col("rn").cast("int")))
    val streaks = isl.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    val byLen = streaks.groupBy(col("len"))
      .agg(count(lit(1)).as("n_streaks"))
    val peak = streaks.groupBy(col("user_id"))
      .agg(max(col("len")).as("len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n_users_peak"))
    byLen.join(peak, Seq("len"), "full_outer")
      .select(col("len"),
        coalesce(col("n_streaks"), lit(0L)).as("n_streaks"),
        coalesce(col("n_users_peak"), lit(0L)).as("n_users_peak"))
      .orderBy(col("len"))
  }

  val q321Oracle: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS aday FROM events
      |  WHERE user_id IS NOT NULL),
      |isl AS (
      |  SELECT user_id, aday,
      |    aday - CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY aday) AS INTEGER) AS grp
      |  FROM active),
      |streaks AS (
      |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY user_id, grp),
      |by_len AS (
      |  SELECT len, CAST(COUNT(*) AS BIGINT) AS n_streaks
      |  FROM streaks GROUP BY len),
      |peak AS (
      |  SELECT len, CAST(COUNT(*) AS BIGINT) AS n_users_peak
      |  FROM (SELECT user_id, MAX(len) AS len FROM streaks
      |        GROUP BY user_id) GROUP BY len)
      |SELECT COALESCE(b.len, p.len) AS len,
      |  COALESCE(n_streaks, 0) AS n_streaks,
      |  COALESCE(n_users_peak, 0) AS n_users_peak
      |FROM by_len b FULL OUTER JOIN peak p ON b.len = p.len
      |ORDER BY len""".stripMargin

  /** THEIL–SEN ROBUST TREND (q323) — the median-of-pairwise-slopes
    * estimator that q283's exact OLS trend is NOT robust to: one
    * corrupted day drags a least-squares slope arbitrarily, but moves
    * the pairwise-slope median by at most one rank. Per event_type the
    * daily-count series yields C(d,2) slopes (c2−c1)/(day2−day1); the
    * LOWER MEDIAN is selected by rank over (double ratio, num, den) —
    * the double is ORDERING ONLY (identical IEEE result in both
    * engines), the reported slope stays the exact integer pair
    * (med_num, med_den) of the selected row, so equal-ratio ties
    * resolve to the same concrete fraction everywhere.
    *
    * Scale shape: events collapse to the (event_type × day) axis first
    * — the pairwise self-join is O(d²) in the BOUNDED day axis per
    * series, embarrassingly parallel across series, and never touches
    * row-level data; the median rank is a window partitioned by
    * event_type over that small pair frame. No global sort, no
    * collect.
    */
  def q323TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val l = daily.select(col("event_type"), col("day").as("d1"), col("c").as("c1"))
    val r = daily.select(col("event_type"), col("day").as("d2"), col("c").as("c2"))
    val slopes = l.join(r, Seq("event_type"))
      .filter(col("d2") > col("d1"))
      .select(col("event_type"),
        (col("c2") - col("c1")).as("num"),
        datediff(col("d2"), col("d1")).cast(LongType).as("den"))
    val ranked = slopes.withColumn("rn",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy((col("num").cast("double") / col("den")).asc,
            col("num").asc, col("den").asc)))
      .withColumn("np",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val nDays = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    ranked.filter(col("rn") === expr("(np + 1) div 2"))
      .join(nDays, "event_type")
      .select(col("event_type"), col("n_days"), col("np").as("n_pairs"),
        col("num").as("med_num"), col("den").as("med_den"))
      .orderBy(col("event_type"))
  }

  val q323Oracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      |slopes AS (
      |  SELECT l.event_type, r.c - l.c AS num,
      |    CAST(r.day - l.day AS BIGINT) AS den
      |  FROM daily l JOIN daily r
      |    ON r.event_type = l.event_type AND r.day > l.day),
      |ranked AS (
      |  SELECT event_type, num, den,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS np
      |  FROM slopes),
      |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      |       FROM daily GROUP BY 1)
      |SELECT r.event_type, n_days, CAST(np AS BIGINT) AS n_pairs,
      |  num AS med_num, den AS med_den
      |FROM ranked r JOIN nd ON nd.event_type = r.event_type
      |WHERE rn = (np + 1) // 2
      |ORDER BY r.event_type""".stripMargin

  /** SINGLE CHANGEPOINT DETECTION (q329) — binary segmentation's first
    * split: per event_type, the day boundary that minimizes total
    * within-segment variance of the daily count series — the drift
    * LOCALIZER that complements q237's CUSUM (which says "drifted", not
    * "when"). For a split after position i of d days, each segment's
    * within-SSE is kept exact and SCALED by its length:
    *   a = n_seg·Σx² − (Σx)²   (= n_seg² · variance, integer-exact)
    * and the selection minimizes a1/n1 + a2/n2. The double-valued
    * ratio is ORDERING ONLY (the q323 Theil–Sen discipline: both
    * engines compute the identical two IEEE divisions and one add, with
    * a deterministic day tie-break); everything REPORTED is the exact
    * integer (a1, a2, n1, n2) of the selected split.
    *
    * Scale shape: events collapse to the bounded (event_type × day)
    * axis first; prefix sums ride a window partitioned by event_type
    * over that tiny frame; candidate evaluation is one pass over the
    * same frame joined to a |types|-row total. Nothing row-scale past
    * the first aggregate.
    */
  def q329Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val pre = daily
      .withColumn("i", row_number().over(w).cast(LongType))
      .withColumn("s1", sum(col("c")).over(w))
      .withColumn("s2", sum(expr("CAST(c AS DECIMAL(38,0)) * c")).over(w))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("t1"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("t2"))
    val cand = pre.join(tot, "event_type")
      .filter(col("i") < col("n_days"))
      .withColumn("a1", expr(
        "i * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("a2", expr(
        "(n_days - i) * (t2 - s2) - CAST(t1 - s1 AS DECIMAL(38,0)) * (t1 - s1)"))
      .withColumn("cost",
        expr("CAST(a1 AS DOUBLE) / i + CAST(a2 AS DOUBLE) / (n_days - i)"))
    cand.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("cost").asc, col("day").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"), col("day").as("split_day"),
        col("i").as("n_left"), (col("n_days") - col("i")).as("n_right"),
        col("a1").cast(LongType).as("sse_left_scaled"),
        col("a2").cast(LongType).as("sse_right_scaled"))
      .orderBy(col("event_type"))
  }

  val q329Oracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      |pre AS (
      |  SELECT event_type, day, c,
      |    CAST(row_number() OVER
      |      (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY day) AS s1,
      |    SUM(CAST(c AS HUGEINT) * c) OVER
      |      (PARTITION BY event_type ORDER BY day) AS s2
      |  FROM daily),
      |tot AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS t1, SUM(CAST(c AS HUGEINT) * c) AS t2
      |  FROM daily GROUP BY 1),
      |cand AS (
      |  SELECT pre.event_type, pre.day, pre.i, tot.n_days,
      |    i * s2 - CAST(s1 AS HUGEINT) * s1 AS a1,
      |    (n_days - i) * (t2 - s2)
      |      - CAST(t1 - s1 AS HUGEINT) * (t1 - s1) AS a2,
      |    CAST(i * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / i
      |      + CAST((n_days - i) * (t2 - s2)
      |          - CAST(t1 - s1 AS HUGEINT) * (t1 - s1) AS DOUBLE)
      |        / (n_days - i) AS cost
      |  FROM pre JOIN tot ON tot.event_type = pre.event_type
      |  WHERE i < n_days),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY cost, day) AS rn
      |  FROM cand)
      |SELECT event_type, n_days, day AS split_day,
      |  i AS n_left, n_days - i AS n_right,
      |  CAST(a1 AS BIGINT) AS sse_left_scaled,
      |  CAST(a2 AS BIGINT) AS sse_right_scaled
      |FROM best WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  /** TIME-WEIGHTED AVERAGE (TWAP, q332) — per (event_type, day), the
    * value average weighted by how LONG each observation was current
    * (the finance/monitoring staple the arithmetic mean corrupts: a
    * burst of 100 cheap ticks in one second must not outweigh one
    * price that held for an hour). Each event's weight is the
    * microsecond gap to the next event of the same (type, day), ties
    * broken by event_id (the suite's deterministic total order); the
    * day's last observation closes no segment (no fabricated
    * end-of-day duration). twap_cents = Σ(cents·dur_us) div Σdur_us —
    * integer-exact; the unweighted mean_cents rides along so the
    * burst bias is visible as (mean − twap).
    *
    * Scale shape: one lead() on the (event_type, day)-partitioned
    * window (many bounded partitions — the q217 OHLC posture), then
    * one hash-agg onto the bounded type×day axis. NULL (not a crash,
    * not 0) when a day's events all share one timestamp.
    */
  def q332Twap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        expr("unix_micros(ts)").as("tsus"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("tsus").asc, col("event_id").asc)
    ev.withColumn("dur_us", lead(col("tsus"), 1).over(w) - col("tsus"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("dur_us").isNotNull, 1L).otherwise(0L))
          .as("n_segments"),
        sum(col("cents")).as("sum_cents"),
        sum(coalesce(col("dur_us"), lit(0L))).as("sum_dur_us"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * coalesce(dur_us, 0)"))
          .as("wsum"))
      .select(col("event_type"), col("day"), col("n_events"),
        col("n_segments"), col("sum_dur_us"),
        expr("""CASE WHEN sum_dur_us = 0 THEN NULL
          | WHEN wsum >= 0 THEN CAST(wsum div sum_dur_us AS BIGINT)
          | ELSE -CAST((-wsum) div sum_dur_us AS BIGINT)
          |END""".stripMargin).as("twap_cents"),
        expr("""CASE WHEN sum_cents >= 0
          | THEN sum_cents div n_events
          | ELSE -((-sum_cents) div n_events)
          |END""".stripMargin).as("mean_cents"))
      .orderBy(col("event_type"), col("day"))
  }

  val q332Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    epoch_us(ts) AS tsus, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      |seg AS (
      |  SELECT event_type, day, cents,
      |    lead(tsus) OVER (PARTITION BY event_type, day
      |      ORDER BY tsus, event_id) - tsus AS dur_us
      |  FROM ev),
      |agg AS (
      |  SELECT event_type, day,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(CASE WHEN dur_us IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_segments,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |    CAST(SUM(COALESCE(dur_us, 0)) AS BIGINT) AS sum_dur_us,
      |    SUM(CAST(cents AS HUGEINT) * COALESCE(dur_us, 0)) AS wsum
      |  FROM seg GROUP BY 1, 2)
      |SELECT event_type, day, n_events, n_segments, sum_dur_us,
      |  CASE WHEN sum_dur_us = 0 THEN NULL
      |    WHEN wsum >= 0 THEN CAST(wsum // sum_dur_us AS BIGINT)
      |    ELSE -CAST((-wsum) // sum_dur_us AS BIGINT)
      |  END AS twap_cents,
      |  CASE WHEN sum_cents >= 0 THEN sum_cents // n_events
      |    ELSE -((-sum_cents) // n_events)
      |  END AS mean_cents
      |FROM agg
      |ORDER BY event_type, day""".stripMargin

  /** LATE-EVENT / OUT-OF-ORDER AUDIT (q337) — the measurement that SIZES
    * a streaming watermark instead of guessing it: within each user's
    * ARRIVAL order (event_id — the ingest sequence), how far does event
    * time run backwards? lateness = running-max(event time) − event time,
    * exactly the quantity a `withWatermark` delay must exceed for the
    * stateful operators (q73/q81/q242…) not to drop the event. Emitted as
    * a fixed bucket histogram (on-time, ≤1 s, ≤10 s, ≤1 min, ≤10 min,
    * beyond) plus the global maximum — the number to set the delay from.
    *
    * Scale shape: one running max on the user-partitioned arrival-order
    * window (high-cardinality keys, the q321/q326 sanctioned shape);
    * the histogram collapses onto 6 fixed buckets. Output ≤ 7 rows.
    */
  def q337LateEventAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsus"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = ev.withColumn("late_us", max(col("tsus")).over(w) - col("tsus"))
    late.groupBy(expr("""CASE
        | WHEN late_us = 0 THEN 0L
        | WHEN late_us <= 1000000 THEN 1L
        | WHEN late_us <= 10000000 THEN 2L
        | WHEN late_us <= 60000000 THEN 3L
        | WHEN late_us <= 600000000 THEN 4L
        | ELSE 5L END""".stripMargin).as("bucket"))
      .agg(count(lit(1)).as("n_events"), max(col("late_us")).as("max_late_us"))
      .orderBy(col("bucket"))
  }

  val q337Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsus
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |late AS (
      |  SELECT MAX(tsus) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tsus
      |    AS late_us
      |  FROM ev)
      |SELECT CAST(CASE
      |    WHEN late_us = 0 THEN 0
      |    WHEN late_us <= 1000000 THEN 1
      |    WHEN late_us <= 10000000 THEN 2
      |    WHEN late_us <= 60000000 THEN 3
      |    WHEN late_us <= 600000000 THEN 4
      |    ELSE 5 END AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM late
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** MEDIAN ABSOLUTE DEVIATION (q340) — the robust scale estimate that
    * completes the robust-statistics kit (q323 Theil–Sen = robust trend,
    * q272 winsorized mean = robust level, this = robust SPREAD): per
    * event_type over the daily-count series, MAD = median(|c − median(c)|)
    * — the band one corrupted day cannot widen, unlike the q228
    * dispersion index whose variance it anchors. Lower-median convention
    * on both passes ((n+1) div 2 with a day tie-break), everything
    * integer, no floats anywhere. mad = 0 loudly means "more than half
    * the days are identical", not an error.
    *
    * Scale shape: events collapse to the bounded type×day axis; both
    * median selections are windows partitioned by event_type over that
    * tiny frame; the deviation pass joins the 1-row-per-type median
    * back by broadcast. Output is one row per event_type.
    */
  def q340MadScale(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(valueCol).asc, col("day").asc)
      df.withColumn("__rn", row_number().over(w))
        .withColumn("__n",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .filter(col("__rn") === expr("(__n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out),
          col("__n").as(out + "_n"))
    }
    val med = lowerMedian(daily, "c", "median_daily")
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("d", abs(col("c") - col("median_daily")))
    lowerMedian(dev, "d", "mad_daily")
      .join(broadcast(med), "event_type")
      .select(col("event_type"), col("median_daily_n").as("n_days"),
        col("median_daily"), col("mad_daily"))
      .orderBy(col("event_type"))
  }

  val q340Oracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      |med AS (
      |  SELECT event_type, c AS median_daily, n AS n_days FROM (
      |    SELECT event_type, day, c,
      |      row_number() OVER (PARTITION BY event_type ORDER BY c, day)
      |        AS rn,
      |      CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |    FROM daily)
      |  WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT daily.event_type, daily.day,
      |    ABS(daily.c - med.median_daily) AS d
      |  FROM daily JOIN med ON med.event_type = daily.event_type),
      |mad AS (
      |  SELECT event_type, d AS mad_daily FROM (
      |    SELECT event_type, day, d,
      |      row_number() OVER (PARTITION BY event_type ORDER BY d, day)
      |        AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM dev)
      |  WHERE rn = (n + 1) // 2)
      |SELECT med.event_type, n_days, median_daily, mad_daily
      |FROM med JOIN mad ON mad.event_type = med.event_type
      |ORDER BY med.event_type""".stripMargin

  /** SESSION-COHERENT TRACE SAMPLING (q346) — the observability
    * sampler that keeps analyses valid: sampling EVENTS at p% shreds
    * every session, funnel, and streak (each survives with probability
    * p^length); sampling USERS at p% keeps every retained user's
    * timeline whole, so any per-user analysis runs unbiased on the
    * sample. Membership is md5-keyed on user_id (q276's content-stable
    * holdout discipline — a re-run, a re-shard, or a new day cannot
    * change who is sampled; ~1/20 of users). The audit output is the
    * per-type census: sampled vs total events and the realized ppm —
    * how far the 5% user sample drifts from 5% of EVENTS per type is
    * exactly the heavy-user skew a trace consumer must know about.
    *
    * Scale shape: one deterministic md5 predicate on the scan (no join
    * for membership), two hash-aggs onto the bounded type axis joined
    * there. The sampled stream itself is the filter — this query is
    * its audit.
    */
  def q346TraceSample(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .withColumn("sampled",
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT) % 20") === 0)
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        countDistinct(col("user_id")).as("n_users_total"),
        countDistinct(when(col("sampled"), col("user_id")))
          .as("n_users_sampled"))
      .select(col("event_type"), col("n_total"), col("n_sampled"),
        col("n_users_total"), col("n_users_sampled"),
        expr("CAST(CAST(n_sampled AS DECIMAL(38,0)) * 1000000 div n_total " +
          "AS BIGINT)").as("event_ppm"))
      .orderBy(col("event_type"))
  }

  val q346Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
      |      AS BIGINT) % 20 = 0 AS sampled
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sampled,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_total,
      |  CAST(COUNT(DISTINCT CASE WHEN sampled THEN user_id END) AS BIGINT)
      |    AS n_users_sampled,
      |  CAST(CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS HUGEINT)
      |    * 1000000 // COUNT(*) AS BIGINT) AS event_ppm
      |FROM ev GROUP BY 1
      |ORDER BY event_type""".stripMargin

  /** ACTIVATION REPORT (q348) — the "aha moment" analysis growth teams
    * run that q279's cohort retention can't answer: retention says WHEN
    * users come back; this says WHICH first-day behavior predicts that
    * they do. Per event_type: how many users performed it on their
    * FIRST calendar day, how many of those returned on any later day,
    * and the activation rate in exact ppm — the type with the highest
    * lift over the baseline is the onboarding action to optimize. The
    * baseline rides along as the all-users row (event_type = '__all').
    *
    * Scale shape: one per-user aggregate (min ts → first day, max day >
    * first day → returned flag, map-side combinable); first-day
    * (user, type) pairs collapse distinct; one broadcast join of the
    * tiny user-flag frame… no — the flag frame is user-cardinality, so
    * the join is user-keyed and shuffles once; rollup lands on the
    * bounded type axis. No window anywhere.
    */
  def q348ActivationReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .withColumn("returned",
        when(col("last_day") > col("first_day"), 1L).otherwise(0L))
    val firstDayActs = ev.join(users, "user_id")
      .filter(col("day") === col("first_day"))
      .select(col("user_id"), col("event_type"), col("returned"))
      .distinct()
    val perType = firstDayActs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("returned")).as("n_returned"))
    val overall = users.agg(count(lit(1)).as("n_users"),
        sum(col("returned")).as("n_returned"))
      .select(lit("__all").as("event_type"), col("n_users"),
        col("n_returned"))
    perType.unionByName(overall)
      .select(col("event_type"), col("n_users"), col("n_returned"),
        expr("CAST(CAST(n_returned AS DECIMAL(38,0)) * 1000000 " +
          "div n_users AS BIGINT)").as("activation_ppm"))
      .orderBy(col("event_type"))
  }

  val q348Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL),
      |users AS (
      |  SELECT user_id, MIN(day) AS first_day,
      |    CASE WHEN MAX(day) > MIN(day) THEN 1 ELSE 0 END AS returned
      |  FROM ev GROUP BY 1),
      |fda AS (
      |  SELECT DISTINCT ev.user_id, ev.event_type, users.returned
      |  FROM ev JOIN users ON users.user_id = ev.user_id
      |  WHERE ev.day = users.first_day),
      |pt AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(returned) AS BIGINT) AS n_returned
      |  FROM fda GROUP BY 1
      |  UNION ALL
      |  SELECT '__all', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(returned) AS BIGINT)
      |  FROM users)
      |SELECT event_type, n_users, n_returned,
      |  CAST(CAST(n_returned AS HUGEINT) * 1000000 // n_users AS BIGINT)
      |    AS activation_ppm
      |FROM pt
      |ORDER BY event_type""".stripMargin

  /** HAAR WAVELET ENERGY DECOMPOSITION (q372) — which TIME SCALES carry
    * the event stream's variance: the unnormalized Haar transform of the
    * hourly count series (a[i] = x[2i]+x[2i+1], d[i] = x[2i]−x[2i+1],
    * recursed 4 levels), reporting per level the detail-coefficient
    * energy Σd² — d1 = hour-to-hour jitter, d4 = 16-hour swings, a4 =
    * what's left (the trend). Everything is exact BIGINT arithmetic on
    * counts, and the unnormalized transform obeys the Parseval-style
    * invariant E(aℓ)+E(dℓ) = 2·E(aℓ₋₁) pinned in the spec. The window is
    * the series' FIRST 512 hours on a dense zero-filled spine (a fixed
    * power-of-two frame — the transform needs one; the tail beyond it is
    * the next window in a production sweep).
    *
    * Scale shape: the corpus collapses to ≤512 spine rows in one
    * hash-agg; the 4 unrolled pair-sum aggregations and the 5-row energy
    * rollup are noise. No window functions at all.
    */
  def q372WaveletEnergy(spark: SparkSession, dir: String): DataFrame = {
    // FLOOR-div hour bucketing (Exact.fdiv): Spark's `div` truncates
    // toward zero, DuckDB's `//` floors — they disagree on pre-1970
    // timestamps, and floor is the correct bucketing semantic anyway
    val counts = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(expr(Exact.fdiv("unix_micros(ts)", "3600000000")).as("hr"))
      .groupBy(col("hr")).agg(count(lit(1)).as("c"))
    val lo = counts.agg(min(col("hr")).as("h0"))
    val spine = spark.range(0, 512).select(col("id").as("i"))
      .crossJoin(broadcast(lo))
    val x0 = spine.join(counts,
        spine("i") + col("h0") === counts("hr"), "left_outer")
      .select(col("i"), coalesce(col("c"), lit(0L)).as("a"))
    def level(prev: DataFrame): DataFrame = prev
      .groupBy(expr("i div 2").as("i"))
      .agg(sum(col("a")).as("a"),
        sum(when(expr("i % 2 = 0"), col("a")).otherwise(-col("a")))
          .as("d"))
    val l1 = level(x0); val l2 = level(l1.select(col("i"), col("a")))
    val l3 = level(l2.select(col("i"), col("a")))
    val l4 = level(l3.select(col("i"), col("a")))
    def energy(df: DataFrame, name: String, c: String): DataFrame = df
      .agg(count(lit(1)).as("n_coeffs"),
        sum(expr(s"CAST($c AS DECIMAL(38,0)) * $c")).as("e"))
      .select(lit(name).as("band"), col("n_coeffs"),
        expr("CAST(e AS BIGINT)").as("energy"))
    energy(l1, "d1", "d")
      .unionByName(energy(l2, "d2", "d"))
      .unionByName(energy(l3, "d3", "d"))
      .unionByName(energy(l4, "d4", "d"))
      .unionByName(energy(l4, "e_a4", "a"))
      .orderBy(col("band"))
  }

  val q372Oracle: String = {
    def level(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT i // 2 AS i, CAST(SUM(a) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN i % 2 = 0 THEN a ELSE -a END) AS BIGINT)
         |      AS d
         |  FROM $prev GROUP BY 1)""".stripMargin
    def energy(src: String, name: String, c: String): String =
      s"""SELECT '$name' AS band, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
         |  CAST(SUM(CAST($c AS HUGEINT) * $c) AS BIGINT) AS energy
         |FROM $src""".stripMargin
    s"""WITH counts AS (
       |  SELECT epoch_us(ts) // 3600000000 AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
       |lo AS (SELECT MIN(hr) AS h0 FROM counts),
       |x0 AS (
       |  SELECT sp.i, COALESCE(c.c, 0) AS a
       |  FROM (SELECT unnest(range(0, 512)) AS i) sp
       |  CROSS JOIN lo
       |  LEFT JOIN counts c ON c.hr = sp.i + lo.h0),
       |${level("x0", "l1")},
       |${level("l1", "l2")},
       |${level("l2", "l3")},
       |${level("l3", "l4")}
       |${Seq(energy("l1", "d1", "d"), energy("l2", "d2", "d"),
           energy("l3", "d3", "d"), energy("l4", "d4", "d"),
           energy("l4", "e_a4", "a")).mkString("\n", "\nUNION ALL\n", "")}
       |ORDER BY band""".stripMargin
  }

  /** BOT-REGULARITY SCREEN (q373) — the behavioral data-cleaning pass a
    * training pipeline runs before user events become features: a
    * scripted client fires at machine-regular intervals, so the
    * squared coefficient of variation of a user's inter-event gaps
    *   cv² = (n·Σg² − (Σg)²) / (Σg)²
    * sits near 0 where a human's is order 1. Exact cross-multiplied
    * integers on microsecond gaps; flagged at cv² < 0.05 with ≥ 20
    * events. The gate emits the 20 most-regular qualifying users
    * (cv2_ppm asc, user_id) — the review queue, not a corpus dump.
    *
    * Scale shape: gaps ride the sanctioned per-user lag window (q173);
    * one per-user aggregate, a TakeOrdered(20). The DECIMAL(38) budget
    * holds to ~10¹² µs-scale gaps per user.
    */
  def q373BotRegularity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gaps = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("pv", lag(expr("unix_micros(ts)"), 1).over(w))
      .filter(col("pv").isNotNull)
      .select(col("user_id"),
        (expr("unix_micros(ts)") - col("pv")).as("g"))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("s"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("s2"))
      .filter(col("n_gaps") >= 19L && col("s") > 0L)
      .select(col("user_id"), col("n_gaps"),
        expr("s div n_gaps").as("mean_gap_us"),
        expr("CAST((CAST(n_gaps AS DECIMAL(38,0)) * s2" +
          " - CAST(s AS DECIMAL(38,0)) * s) * 1000000" +
          " div (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)").as("cv2_ppm"))
      .withColumn("bot_flag", col("cv2_ppm") < 50000L)
      .orderBy(col("cv2_ppm").asc, col("user_id").asc)
      .limit(20)
  }

  val q373Oracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS pv
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_id IS NOT NULL),
      |g AS (SELECT user_id, t - pv AS g FROM e WHERE pv IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(g) AS BIGINT) AS s, SUM(CAST(g AS HUGEINT) * g) AS s2
      |  FROM g GROUP BY 1)
      |SELECT user_id, n_gaps,
      |  CAST(s // n_gaps AS BIGINT) AS mean_gap_us,
      |  CAST((CAST(n_gaps AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s)
      |    * 1000000 // (CAST(s AS HUGEINT) * s) AS BIGINT) AS cv2_ppm,
      |  CAST((CAST(n_gaps AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s)
      |    * 1000000 // (CAST(s AS HUGEINT) * s) AS BIGINT) < 50000
      |    AS bot_flag
      |FROM m
      |WHERE n_gaps >= 19 AND s > 0
      |ORDER BY cv2_ppm, user_id
      |LIMIT 20""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q372_wavelet_energy", q372WaveletEnergy, q372Oracle),
    QuerySpec("q373_bot_regularity", q373BotRegularity, q373Oracle),
    QuerySpec("q348_activation_report", q348ActivationReport, q348Oracle),
    QuerySpec("q346_trace_sample", q346TraceSample, q346Oracle),
    QuerySpec("q340_mad_scale", q340MadScale, q340Oracle),
    QuerySpec("q337_late_event_audit", q337LateEventAudit, q337Oracle),
    QuerySpec("q329_changepoint", q329Changepoint, q329Oracle),
    QuerySpec("q332_twap", q332Twap, q332Oracle),
    QuerySpec("q323_theil_sen", q323TheilSen, q323Oracle),
    QuerySpec("q321_streak_histogram", q321StreakHistogram, q321Oracle),
    QuerySpec("q312_mase_backtest", q312MaseBacktest, q312Oracle),
    QuerySpec("q314_leadlag_xcorr", q314LeadLagXcorr, q314Oracle),
    QuerySpec("q315_dau_mau", q315DauMauStickiness, q315Oracle),
    QuerySpec("q303_peak_concurrency", q303PeakConcurrency, q303Oracle),
    QuerySpec("q299_life_table", q299LifeTable, q299Oracle),
    QuerySpec("q292_session_gap_sensitivity", q292SessionGapSensitivity, q292Oracle),
    QuerySpec("q283_trend_slope", q283TrendSlope, q283Oracle),
    QuerySpec("q279_cohort_retention", q279CohortRetention, q279Oracle),
    QuerySpec("q259_event_doublefire", q259EventDoubleFire, q259Oracle),
    QuerySpec("q261_dau_mau", q261DauMau, q261Oracle),
    QuerySpec("q256_bandit_replay", q256BanditReplay, q256Oracle),
    QuerySpec("q244_hhi_mix", q244HhiMix, q244Oracle),
    QuerySpec("q237_cusum_drift", q237CusumDrift, q237Oracle),
    QuerySpec("q228_dispersion_index", q228DispersionIndex, q228Oracle),
    QuerySpec("q223_calendar_gap_runs", q223CalendarGapRuns, q223Oracle),
    QuerySpec("q217_ohlc_bars", q217OhlcBars, q217Oracle),
    QuerySpec("q221_seasonal_anomaly", q221SeasonalAnomaly, q221Oracle))
}
