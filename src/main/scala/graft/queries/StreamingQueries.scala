package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.streaming.StreamingOps

/** Windowed event aggregations, batch + streaming execution (B18). The
  * batch forms carry exact DuckDB oracles; q46 executes the SAME tumbling
  * aggregation through Structured Streaming (file-per-microbatch, complete
  * mode, memory sink) and is checked against the SAME oracle — proving
  * batch/stream semantic equivalence inside the correctness gate.
  */
object StreamingQueries {

  def q43Tumbling(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.tumblingAgg(Tables.events(spark, dir))
      .orderBy(col("w_start"), col("event_type"))

  val q43Oracle: String =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin

  def q44Sliding(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.slidingAgg(Tables.events(spark, dir))
      .orderBy(col("w_start"), col("event_type"))

  val q44Oracle: String =
    """SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS w_start,
      |  event_type, COUNT(*) AS n
      |FROM events, UNNEST([0, 1]) AS t(k)
      |GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin

  def q45Session(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.sessionAgg(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("s_start"))

  val q45Oracle: String =
    """WITH brk AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM brk)
      |SELECT user_id, MIN(ts) AS s_start,
      |  MAX(ts) + INTERVAL '30 minutes' AS s_end,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin

  /** The tumbling aggregation executed through Structured Streaming. */
  def q46StreamTumbling(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.runStreamSync(spark, dir, StreamingOps.tumblingAgg, "graft_stream_tumbling")
      .orderBy(col("w_start"), col("event_type"))

  /** The WATERMARKED tumbling aggregation in append mode — the production
    * posture (bounded state, emit-once). On the bounded input the final
    * watermark is max(ts) − 1h and exactly the windows whose end ≤ that
    * watermark are emitted, which the oracle replays in SQL.
    */
  def q73StreamWatermarked(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.runStreamSync(spark, dir,
        StreamingOps.tumblingAggWatermarked, "graft_stream_wm", outputMode = "append")
      .orderBy(col("w_start"), col("event_type"))

  val q73Oracle: String =
    """WITH wm AS (SELECT MAX(ts) - INTERVAL '1 hour' AS w FROM events)
      |SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |HAVING w_start + INTERVAL '6 hours' <= (SELECT w FROM wm)
      |ORDER BY w_start, event_type""".stripMargin

  /** Stream-stream interval join through a REAL streaming execution (two
    * watermarked file-stream sources, append mode); the oracle replays the
    * interval join in batch SQL — exact on bounded input.
    */
  def q76StreamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamStreamIntervalJoin(spark, dir, "graft_stream_ss")
      .orderBy(col("p_event"), col("c_event"))

  val q76Oracle: String =
    """SELECT p.user_id, p.event_id AS p_event, p.ts AS pts,
      |  c.event_id AS c_event, c.ts AS cts
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts < p.ts
      |ORDER BY p_event, c_event""".stripMargin

  /** Stream-stream LEFT OUTER interval join through a real streaming
    * execution: matched purchase–click rows emit as they join; a purchase
    * with NO preceding click emits its null-extended row only when the
    * watermark proves no matching click can still arrive — i.e. in the
    * no-data batch after the final watermark advance, for purchases whose
    * event time lies strictly below the final watermark
    * min(max purchase ts, max click ts) − 1 h (the joint watermark is the
    * MIN across both inputs' watermarks; purchases above it stay in join
    * state, a late click could still match them). The oracle replays
    * matched ∪ watermark-proven-unmatched in batch SQL, the watermark
    * compare in the same floored-millisecond arithmetic as q84.
    */
  def q147StreamLeftOuterJoin(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamStreamLeftOuterJoin(spark, dir, "graft_stream_lo")
      .orderBy(col("p_event"), col("c_event").asc_nulls_first)

  val q147Oracle: String =
    """WITH wm AS (
      |  SELECT least(
      |    (SELECT epoch_ms(MAX(ts)) FROM events WHERE event_type = 'purchase'),
      |    (SELECT epoch_ms(MAX(ts)) FROM events WHERE event_type = 'click'))
      |    - 3600000 AS w),
      |matched AS (
      |  SELECT p.user_id, p.event_id AS p_event, p.ts AS pts,
      |    c.event_id AS c_event, c.ts AS cts
      |  FROM events p JOIN events c ON p.user_id = c.user_id
      |  WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |    AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts < p.ts),
      |unmatched AS (
      |  SELECT p.user_id, p.event_id AS p_event, p.ts AS pts,
      |    CAST(NULL AS BIGINT) AS c_event, CAST(NULL AS TIMESTAMP) AS cts
      |  FROM events p
      |  WHERE p.event_type = 'purchase'
      |    AND NOT EXISTS (
      |      SELECT 1 FROM events c
      |      WHERE c.event_type = 'click' AND c.user_id = p.user_id
      |        AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts < p.ts)
      |    AND epoch_ms(p.ts) < (SELECT w FROM wm))
      |SELECT * FROM (
      |  SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
      |ORDER BY p_event, c_event NULLS FIRST""".stripMargin

  /** CUSTOM streaming state through a real streaming execution:
    * hand-built session windows via `flatMapGroupsWithState` (explicit
    * per-user merged-session-list state + event-time timeout — see
    * StreamingOps.customStateSessions). Emission is purely
    * WATERMARK-DRIVEN — a session emits exactly when the watermark
    * (max ts − 1 h on the bounded gate input) strictly passes its end;
    * sessions ending inside the final watermark horizon stay in state,
    * since a late event could still extend or bridge them. The oracle
    * replays that rule in SQL — sessionization identical to q45's, the
    * watermark compare in the same floored-millisecond arithmetic the
    * GroupState API uses.
    */
  def q84StreamCustomState(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.customStateSessions(spark, dir, "graft_stream_custom")
      .orderBy(col("user_id"), col("s_start"))

  val q84Oracle: String =
    """WITH brk AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM brk),
      |sessions AS (
      |  SELECT user_id, sid, MIN(ts) AS s_start,
      |    MAX(ts) + INTERVAL '30 minutes' AS s_end,
      |    COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |  FROM sess
      |  GROUP BY user_id, sid),
      |wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS wm_ms FROM events)
      |SELECT s.user_id, s.s_start, s.s_end, s.n, s.sum_value
      |FROM sessions s, wm
      |WHERE epoch_ms(s.s_end) < wm.wm_ms
      |ORDER BY s.user_id, s.s_start""".stripMargin

  /** Streaming ingest dedup through a real streaming execution: the events
    * stream unioned with itself (2× every row), deduped by event_id within
    * the watermark; oracle = the plain distinct event set.
    */
  def q81StreamDedup(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamDedup(spark, dir, "graft_stream_dedup")
      .orderBy(col("event_id"))

  val q81Oracle: String =
    """SELECT event_id, user_id, ts, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Stream-static broadcast enrichment through a REAL streaming
    * execution: the events stream joins the batch customer dimension
    * (market segment lookup) inside each microbatch — stateless by
    * construction — then aggregates tumbling windows per segment. The
    * oracle replays the same join+window in batch SQL (exact on bounded
    * input, complete mode).
    */
  def q106StreamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    StreamingOps.runStreamSync(spark, dir,
      StreamingOps.enrichedTumblingAgg(dim, "c_custkey", "c_mktsegment"),
      "graft_stream_static")
      .orderBy(col("w_start"), col("c_mktsegment"))
  }

  val q106Oracle: String =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, c_mktsegment,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |ORDER BY w_start, c_mktsegment""".stripMargin

  /** foreachBatch streaming upsert sink: the bounded event stream drains
    * into a keyed parquet table (latest row per user), and the FINAL
    * TARGET STATE is the gated result — proving the stream→batch-sink
    * bridge end-to-end. The oracle replays "latest event per user" over
    * the same bounded input.
    */
  def q108StreamUpsert(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamUpsertSink(spark, dir)
      .orderBy(col("user_id"))

  val q108Oracle: String =
    """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
      |  event_type AS last_type,
      |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS last_value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Spark 4's transformWithState (the arbitrary-state successor to
    * flatMapGroupsWithState): per-user running totals in an explicit
    * RocksDB-backed ValueState, accumulated across a genuinely
    * multi-batch bounded stream (two staged slice files). The oracle
    * replays the final per-user totals in batch SQL.
    */
  def q118StreamTransformState(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.transformWithStateTotals(spark, dir, "graft_tws")
      .orderBy(col("user_id"))

  val q118Oracle: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0
      |    AS sum_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** STREAMING MATERIALIZED-VIEW MAINTENANCE (q187) — mergeable partial
    * aggregates (count/sum/min/max cents per event_type) folded into a
    * versioned parquet state across a genuinely multi-batch bounded
    * stream ([[StreamingOps.streamAggMaintenance]]): batch b reads state
    * v(b−1) and writes v(b), so replays are idempotent and reads never
    * overlap writes. The gate: the final streamed state must equal the
    * oracle's ONE-PASS batch aggregate over the same events — any
    * non-mergeable leak across the batch boundary breaks the hash.
    */
  def q187StreamViewMaintenance(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamAggMaintenance(spark, dir)
      .select(col("event_type"), col("n"), col("sum_cents"),
        col("min_cents"), col("max_cents"),
        expr("sum_cents div n").as("avg_cents"))
      .orderBy(col("event_type"))

  val q187Oracle: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
      |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS avg_cents
      |FROM (SELECT event_type,
      |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** STREAMING NEAR-DUP SCREEN (q211) — ingest-time LSH dedup over a
    * genuinely multi-batch document stream (3 doc_id-residue slices):
    * every arriving doc is checked against the per-band-key signature
    * state of everything that arrived before it
    * ([[StreamingOps.streamNearDupScreen]]); ≥ 24/32 matching MinHash
    * slots flags it with its earliest-seen partner. The corpus is the
    * q36 planted one, and plants sit in different slices than their
    * originals (PlantOffset % 3 ≠ 0), so the flags the oracle demands can
    * ONLY be produced if band-key state survives the batch boundary —
    * this is q120's incremental-index discipline moved into the state
    * store, and the md5-based signatures mean the batch oracle replays
    * every accept/flag decision bit-for-bit, including arrival order
    * (slice, doc_id).
    */
  def q211StreamNearDupScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = SimilarityQueries.docsWithPlants(spark, dir)
      .select(col("doc_id"), col("text"))
    StreamingOps.streamNearDupScreen(spark, dir, docs, "graft_stream_neardup")
      .groupBy(col("doc_id"))
      .agg(min(col("dup_partner")).as("dup_of"))
      .orderBy(col("doc_id"))
  }

  val q211Oracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    val h64 =
      """(CAST((CAST(CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS HUGEINT)
        |       * 4294967296
        |       + CAST('0x' || substr(md5(s), 9, 8) AS BIGINT))
        |      - CASE WHEN CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
        |                  >= 2147483648
        |             THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
        |      AS BIGINT))""".stripMargin
    s"""WITH docs_p AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${SimilarityQueries.PlantOffset}, text || ' zz9end'
       |  FROM documents WHERE doc_id % 5 = 0),
       |d AS (SELECT doc_id,
       |        list_distinct(CASE
       |          WHEN len($toks) < 3
       |          THEN [array_to_string($toks, ' ')]
       |          ELSE list_transform(range(1, len($toks) - 1),
       |                 i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])
       |          END) AS shs
       |      FROM docs_p),
       |bh AS (
       |  SELECT doc_id,
       |    list_transform(shs, s ->
       |      ((($h64) % 2147483647) + 2147483647) % 2147483647) AS hs
       |  FROM d),
       |sig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 32), t ->
       |      list_min(list_transform(hs, h ->
       |        (((t * 2654435761 + 1) % 2147483647) * h
       |          + (t * 40503 + 7) % 2147483647) % 2147483647))) AS sg
       |  FROM bh),
       |bk AS (
       |  SELECT doc_id, sg, band,
       |    array_to_string(sg[band * 4 + 1 : band * 4 + 4], ',') AS bkey
       |  FROM sig, UNNEST(range(0, 8)) AS t(band)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |    x.sg AS sa, y.sg AS sb
       |  FROM bk x JOIN bk y
       |    ON x.band = y.band AND x.bkey = y.bkey
       |   AND (x.doc_id % 3 < y.doc_id % 3
       |        OR (x.doc_id % 3 = y.doc_id % 3 AND x.doc_id < y.doc_id))),
       |conf AS (
       |  SELECT id_a, id_b FROM cand
       |  WHERE len(list_filter(range(1, 33), i -> sa[i] = sb[i])) >= 24)
       |SELECT id_b AS doc_id, MIN(id_a) AS dup_of
       |FROM conf GROUP BY id_b
       |ORDER BY doc_id""".stripMargin
  }

  /** STREAMING OHLC BARS (q231) — q217's downsample executed through
    * Structured Streaming with a real event-time watermark in APPEND
    * mode: one-hour windows per event type, open/close by
    * min/max(struct(ts, event_id, value)) — struct min/max are plain
    * aggregates, so the streaming hash-agg maintains them incrementally
    * per window with no custom state. Append mode means a bar emits
    * exactly once, when the watermark passes its window end — the shape
    * a live dashboard sink actually consumes (no retractions). Windows
    * still open when the bounded stream drains never emit; the oracle
    * encodes that closed-window rule (q73's discipline:
    * HAVING window_end <= max(ts) − delay).
    *
    * Scale shape: per-window state is O(1) (six scalars + two argmin
    * structs); watermark eviction bounds total state by the delay × bar
    * rate, not the stream length.
    */
  def q231StreamOhlcBars(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.runStreamSync(spark, dir, ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
            .cast("double").as("volume")),
      "graft_stream_ohlc", outputMode = "append")
      .select(col("w.start").as("bar_ts"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("volume"))
      .orderBy(col("event_type"), col("bar_ts"))

  val q231Oracle: String =
    """WITH wm AS (SELECT MAX(ts) - INTERVAL '1 hour' AS w FROM events)
      |SELECT date_trunc('hour', ts) AS bar_ts, event_type,
      |  (min({'t': ts, 'e': event_id, 'v': value})).v AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  (max({'t': ts, 'e': event_id, 'v': value})).v AS close,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS volume
      |FROM events
      |GROUP BY 1, 2
      |HAVING bar_ts + INTERVAL '1 hour' <= (SELECT w FROM wm)
      |ORDER BY event_type, bar_ts""".stripMargin

  /** STREAMING SESSION WINDOWS (q242) — q45's `session_window`
    * aggregation executed through Structured Streaming with a watermark
    * in APPEND mode: Spark's native session operator MERGES windows as
    * late events arrive (two provisional sessions gap-bridged by a
    * middle event collapse into one) and emits a session exactly once,
    * when the watermark passes its end. This is the stateful-merge
    * operator plain windowed aggs don't exercise. On the bounded
    * stream, emitted sessions are exactly the batch sessions whose end
    * precedes max(ts) − delay — the oracle encodes that closed-session
    * rule (q73's discipline).
    *
    * Scale shape: session state is per-(user, open session) and the
    * watermark evicts closed sessions — state bounded by concurrent
    * open sessions, not stream length.
    */
  def q242StreamSessions(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.runStreamSync(spark, dir, ev =>
      StreamingOps.sessionAgg(ev.withWatermark("ts", "1 hour")),
      "graft_stream_sessions", outputMode = "append")
      .orderBy(col("user_id"), col("s_start"))

  val q242Oracle: String =
    """WITH wm AS (SELECT MAX(ts) - INTERVAL '1 hour' AS w FROM events),
      |brk AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM brk)
      |SELECT user_id, MIN(ts) AS s_start,
      |  MAX(ts) + INTERVAL '30 minutes' AS s_end,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, sid
      |HAVING MAX(ts) + INTERVAL '30 minutes' <= (SELECT w FROM wm)
      |ORDER BY user_id, s_start""".stripMargin

  /** STREAMING RATE LIMITER (q247) — fixed-window admission at ingest:
    * per (user, event-time hour) the first 3 arrivals pass, the rest
    * are rejected, decided by [[StreamingOps.streamRateLimit]]'s
    * flatMapGroupsWithState over a genuinely 3-batch stream (event_id
    * residue slices). Admission depends on ARRIVAL order, so the
    * oracle replays it as a rank over (slice, ts, event_id) within
    * each (user, hour) — a state machine whose entire history a batch
    * engine can reconstruct, which is exactly what makes it gateable.
    * Every event gets a verdict row: rejected traffic is data too
    * (abuse forensics reads the rejects).
    */
  def q247StreamRateLimit(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamRateLimit(spark, dir, limit = 3,
      "graft_stream_ratelimit")
      .orderBy(col("event_id"))

  val q247Oracle: String =
    """SELECT event_id, user_id,
      |  row_number() OVER (
      |    PARTITION BY user_id, date_trunc('hour', ts)
      |    ORDER BY ((event_id % 3) + 3) % 3, ts, event_id) <= 3 AS allowed
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** INCREMENTAL SESSIONIZATION (q250) — the production batch-pipeline
    * shape: yesterday's session table is NOT recomputed when today's
    * events land. The corpus splits at a cut (day 20 of the fixture's
    * window); batch 1 sessionizes natively (`session_window`), its
    * CLOSED sessions (end ≤ cut — provably unable to absorb any later
    * event, since a post-cut event is ≥ gap away by construction) ship
    * straight to the output, and only its OPEN tails re-enter the merge
    * with batch 2's events: tails become weighted intervals
    * (start, last = end − gap, n, sum) and interval-merge with the new
    * events per user (running-max-of-last gaps-and-islands, the q176
    * discipline — chains across multiple tails and events merge
    * correctly). The DuckDB oracle knows nothing of the split: it
    * replays plain FULL sessionization (q45's SQL) — the incremental
    * path must reproduce it exactly, which is the whole claim.
    *
    * Scale shape: the expensive native sessionization touches only
    * batch 1 once; the merge works on "open tails + new events" — the
    * incremental working set, not the corpus. The merge windows are
    * per-user and bounded by that working set.
    */
  def q250IncrementalSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
    val cut = ev.agg((date_trunc("DAY", min(col("ts")))
      + expr("INTERVAL 20 DAYS")).as("cut"))
    incrementalSessionize(ev, cut)
  }

  /** The incremental path, factored over (events, 1-row cut frame) so
    * the spec can drive it through a synthetic corpus whose sessions
    * PROVABLY span the cut (the small fixture's day-20 midnight falls
    * between sessions, which would leave the tail merge untested).
    */
  private[graft] def incrementalSessionize(
      ev: DataFrame, cut: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val withCut = ev.crossJoin(broadcast(cut))
    val b1 = withCut.filter(col("ts") < col("cut"))
    val b2 = withCut.filter(col("ts") >= col("cut"))
    val s1 = StreamingOps.sessionAgg(b1.select("user_id", "ts", "value"))
      .crossJoin(broadcast(cut))
    val closed = s1.filter(col("s_end") <= col("cut"))
      .select(col("user_id"), col("s_start"), col("s_end"), col("n"),
        col("sum_value").cast(DecimalType(38, 2)).as("sv"))
    val tails = s1.filter(col("s_end") > col("cut"))
      .select(col("user_id"), col("s_start").as("start"),
        expr("s_end - INTERVAL 30 MINUTES").as("last"),
        col("n"), col("sum_value").cast(DecimalType(38, 2)).as("sv"))
    val fresh = b2.select(col("user_id"), col("ts").as("start"),
      col("ts").as("last"), lit(1L).as("n"),
      col("value").cast(DecimalType(12, 2)).cast(DecimalType(38, 2)).as("sv"))
    val comb = tails.unionByName(fresh)
    val w = Window.partitionBy(col("user_id")).orderBy(col("start"), col("last"))
    val merged = comb
      .withColumn("prev_last",
        max(col("last")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_last").isNull ||
          col("start") >= col("prev_last") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("start")).as("s_start"),
        (max(col("last")) + expr("INTERVAL 30 MINUTES")).as("s_end"),
        sum(col("n")).as("n"),
        sum(col("sv")).cast(DecimalType(38, 2)).as("sv"))
      .select(col("user_id"), col("s_start"), col("s_end"), col("n"), col("sv"))
    closed.unionByName(merged)
      .select(col("user_id"), col("s_start"), col("s_end"), col("n"),
        col("sv").cast(DoubleType).as("sum_value"))
      .orderBy(col("user_id"), col("s_start"))
  }

  /** STREAMING INGEST-TIME DECONTAMINATION (q278) — q133's eval-overlap
    * rule executed through Structured Streaming: training documents
    * arrive in residue slices, each microbatch's trigrams hash-join the
    * BROADCAST eval gram set (stream-static = stateless — no watermark,
    * no state store), and the per-doc rollup of the drained hit stream
    * must equal q133's batch answer exactly (same oracle). This is the
    * crawl-pipeline placement of decontamination: flag at ingest, not in
    * a nightly sweep — and the gate proves the streaming execution
    * changes nothing about the answer.
    */
  def q278StreamDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ev = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"),
        explode(graft.expressions.ShingleStrings.shingleStrings(
          graft.functions.TextFunctions.tokens(col("text")), 3)).as("ng"))
      .distinct()
    val tr = docs.filter(col("doc_id") % 97 =!= 0)
    StreamingOps.streamDecontamScreen(spark, dir, tr, ev,
        "graft_stream_decontam")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ng")).as("n_shared_ngrams"),
        min(col("eval_id")).as("first_eval_doc"))
      .orderBy(col("doc_id"))
  }

  /** STREAMING BACKFILL / REPLAY RECONCILIATION (q374, round 15) — replay
    * a bounded historical slice through the streaming tumbling aggregate
    * (real multi-microbatch execution, complete mode) and reconcile
    * against the view as materialized before the late 5% of events
    * arrived: per-window verdict added / changed / unchanged. See
    * [[StreamingOps.streamBackfillReconcile]] for the construction and
    * the scale notes; the oracle replays both sides and the verdict in
    * batch SQL — integer cents end-to-end, exact hash gate.
    */
  def q374StreamBackfill(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamBackfillReconcile(spark, dir, "graft_stream_backfill")

  val q374Oracle: String =
    """WITH ev AS (
      |  SELECT event_id, ts, event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |new_v AS (
      |  SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_new,
      |    CAST(SUM(cents) AS BIGINT) AS cents_new
      |  FROM ev GROUP BY 1, 2),
      |old_v AS (
      |  SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_old,
      |    CAST(SUM(cents) AS BIGINT) AS cents_old
      |  FROM ev WHERE event_id % 20 <> 0 GROUP BY 1, 2)
      |SELECT n.w_start, n.event_type,
      |  COALESCE(o.n_old, 0) AS n_old,
      |  COALESCE(o.cents_old, 0) AS cents_old,
      |  n.n_new, n.cents_new,
      |  CASE WHEN COALESCE(o.n_old, 0) = 0 THEN 'added'
      |       WHEN o.n_old = n.n_new AND o.cents_old = n.cents_new
      |         THEN 'unchanged'
      |       ELSE 'changed' END AS verdict
      |FROM new_v n LEFT JOIN old_v o
      |  ON o.w_start = n.w_start AND o.event_type = n.event_type
      |ORDER BY n.w_start, n.event_type""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q374_stream_backfill", q374StreamBackfill, q374Oracle),
    // streaming execution of q133's decontamination rule — the oracle IS
    // q133's batch replay (streaming must change nothing)
    QuerySpec("q278_stream_decontam", q278StreamDecontam, CurationQueries.q133Oracle),
    // the incremental path must equal plain full sessionization — the
    // oracle IS q45's full-recompute SQL
    QuerySpec("q250_incremental_sessions", q250IncrementalSessions, q45Oracle),
    QuerySpec("q247_stream_rate_limit", q247StreamRateLimit, q247Oracle),
    QuerySpec("q242_stream_sessions", q242StreamSessions, q242Oracle),
    QuerySpec("q231_stream_ohlc_bars", q231StreamOhlcBars, q231Oracle),
    QuerySpec("q211_stream_neardup_screen", q211StreamNearDupScreen, q211Oracle),
    QuerySpec("q187_stream_view_maintenance", q187StreamViewMaintenance, q187Oracle),
    QuerySpec("q118_stream_transform_state", q118StreamTransformState, q118Oracle),
    QuerySpec("q108_stream_upsert", q108StreamUpsert, q108Oracle),
    QuerySpec("q106_stream_static_join", q106StreamStaticJoin, q106Oracle),
    QuerySpec("q43_window_tumbling", q43Tumbling, q43Oracle),
    QuerySpec("q44_window_sliding", q44Sliding, q44Oracle),
    QuerySpec("q45_session_window", q45Session, q45Oracle),
    QuerySpec("q46_stream_tumbling", q46StreamTumbling, q43Oracle),
    QuerySpec("q73_stream_watermarked", q73StreamWatermarked, q73Oracle),
    QuerySpec("q76_stream_stream_join", q76StreamStreamJoin, q76Oracle),
    QuerySpec("q147_stream_left_outer", q147StreamLeftOuterJoin, q147Oracle),
    QuerySpec("q81_stream_dedup", q81StreamDedup, q81Oracle),
    QuerySpec("q84_stream_custom_state", q84StreamCustomState, q84Oracle))
}
