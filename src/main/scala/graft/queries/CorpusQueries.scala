package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.{QuerySpec, Tables}

/** Corpus-composition operators: the questions a dataset owner asks ABOUT
  * sources before mixing them — how much two ingest feeds overlap, and who
  * wins when the same content arrives from several feeds.
  *
  * Both operators run on content fingerprints, never on text pairs: overlap
  * is estimated from per-source bottom-k sketches (constant rows per source
  * regardless of corpus size) and duplicate ownership is resolved by one
  * fingerprint-keyed aggregate. At 100 TB neither shape grows past
  * O(corpus) + O(#sources² · k).
  */
object CorpusQueries {

  /** Plant offset for the cross-source twin corpus (distinct from the
    * near-dup family's 10M offset so the two plants never interact). */
  val SourcePlantOffset = 20000000L

  /** The synthetic corpus has no cross-source duplicates, so both operators
    * run on a planted union: every doc_id % 3 == 0 document re-appears
    * byte-identical under the NEXT source id (src7 → src8, src19 → src0).
    * The plant makes the expected overlap structure known in advance —
    * adjacent source pairs overlap, non-adjacent pairs don't — which is
    * what turns the sketch estimate and the priority matrix into checkable
    * claims rather than trivially-empty frames.
    */
  private def docsWithSourceTwins(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), col("text"), col("source")).unionAll(
      d.filter(col("doc_id") % 3 === 0).select(
        (col("doc_id") + SourcePlantOffset).as("doc_id"),
        col("text"),
        concat(lit("src"),
          ((substring(col("source"), 4, 8).cast(IntegerType) + 1) % 20)
            .cast("string")).as("source")))
  }

  /** 32-bit content fingerprint from the md5 prefix — the portable-hash
    * discipline (`Similarity.md5Hash64` rationale): bit-identical in both
    * engines, so the sketch is exactly replayable. */
  private def contentHash32(text: org.apache.spark.sql.Column) =
    conv(substring(md5(text), 1, 8), 16, 10).cast(LongType)

  /** CROSS-SOURCE OVERLAP MATRIX from mergeable BOTTOM-K sketches (q202) —
    * the "how much of source B have I already got from source A?" audit
    * that decides whether a new crawl feed is worth licensing/ingesting.
    * Doing it exactly means a distinct-count over every source pair's
    * union — a full corpus shuffle per pair. The sketch form is the
    * production answer (Broder's min-wise estimate, the bottom-k variant
    * of the MinHash the q36 dedup tier already trusts): each source is
    * reduced to its k=64 smallest 32-bit content fingerprints — a
    * MERGEABLE summary, one tiny frame per source — and for any pair the
    * Jaccard estimate is |bottom_k(A ∪ B) ∩ A_k ∩ B_k| / |bottom_k(A ∪ B)|.
    * When a source holds fewer than k items the sketch IS the set and the
    * estimate collapses to the exact Jaccard; the denominator
    * min(k, |A∪B|) makes that exactness automatic.
    *
    * Scale shape: ONE corpus scan → distinct (source, fingerprint) →
    * per-source window top-k (partition cardinality = #sources, each
    * partition k rows out — no global sort). Everything after runs on
    * #sources · k rows: the pair frame is #sources² — a registry-sized
    * constant, not data — and the pair×sketch join is an equi-join on
    * source. Sketches of a PB-scale feed are the same 64 rows.
    *
    * The DuckDB oracle replays the identical plant, fingerprint, window
    * rank and estimator, so the gate pins the estimator arithmetic
    * (integer ppm, merged-k denominator), not just row counts. The plant
    * makes ring-adjacent pairs the only overlapping ones.
    */
  def q202SourceOverlapSketch(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val items = docsWithSourceTwins(spark, dir)
      .select(col("source"), contentHash32(col("text")).as("h"))
      .distinct()
    val sketch = items
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .select(col("source"), col("h"))
    // the source registry is a catalog, not data: #sources² pairs come
    // from exploding ONE aggregated registry row twice — a generator, not
    // a join, so no nested-loop operator ever enters the plan
    val pairs = items
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(col("ss")).as("sa"), col("ss"))
      .select(col("sa"), explode(col("ss")).as("sb"))
      .filter(col("sa") < col("sb"))
    val membership = pairs.select(col("sa"), col("sb"), col("sa").as("source"),
        lit(1).as("is_a"))
      .unionAll(pairs.select(col("sa"), col("sb"), col("sb").as("source"),
        lit(0).as("is_a")))
    val merged = membership.join(sketch, "source")
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg(max(col("is_a")).as("in_a"), max(lit(1) - col("is_a")).as("in_b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))))
      .filter(col("rn") <= k)
    merged.groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("k_merged"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_both"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("k_merged"), col("n_both"),
        expr("CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000" +
          " div k_merged AS BIGINT)").as("est_jaccard_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q202Oracle: String =
    s"""WITH docs_p AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + $SourcePlantOffset, text,
       |    'src' || CAST((CAST(substr(source, 4, 8) AS INT) + 1) % 20 AS VARCHAR)
       |  FROM documents WHERE doc_id % 3 = 0),
       |items AS (
       |  SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS h
       |  FROM docs_p),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM items)
       |  WHERE rn <= 64),
       |srcs AS (SELECT DISTINCT source FROM items),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |mem AS (
       |  SELECT sa, sb, sa AS source, 1 AS is_a FROM pairs
       |  UNION ALL
       |  SELECT sa, sb, sb AS source, 0 AS is_a FROM pairs),
       |mrg AS (
       |  SELECT m.sa, m.sb, s.h,
       |    MAX(m.is_a) AS in_a, MAX(1 - m.is_a) AS in_b
       |  FROM mem m JOIN sk s ON s.source = m.source
       |  GROUP BY m.sa, m.sb, s.h),
       |rk AS (
       |  SELECT sa, sb, in_a, in_b,
       |    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |  FROM mrg)
       |SELECT sa AS source_a, sb AS source_b,
       |  CAST(COUNT(*) AS BIGINT) AS k_merged,
       |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_both,
       |  CAST(CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
       |      AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS est_jaccard_ppm
       |FROM rk WHERE rn <= 64
       |GROUP BY sa, sb
       |ORDER BY source_a, source_b""".stripMargin

  /** CROSS-SOURCE DUPLICATE PRIORITY RESOLUTION (q203) — "dedup the crawl
    * against Wikipedia, not Wikipedia against the crawl". When identical
    * content arrives from several feeds, production pipelines keep the
    * copy from the most-trusted source (The Pile / Dolma source-priority
    * rule) and CHARGE the loss to the losing feed — the per-(winner,
    * loser) loss matrix is what tells an operator that feed X is 40%
    * re-hosted feed-Y content. Priority here is the source's numeric rank
    * (src0 strongest), ties broken by doc_id, so the winner is a total
    * order and the result is replayable.
    *
    * Scale shape: ONE fingerprint-keyed aggregate picks each content
    * group's winner (`min(struct(priority, doc_id, source))` — the q169
    * argmin idiom, partial-aggregable), then one equi-join on the
    * fingerprint charges every losing copy to its winner, and a
    * low-cardinality (#sources²-bounded) aggregate emits the matrix. Two
    * shuffles on the same key — AQE collapses them to one exchange — and
    * nothing all-pairs.
    */
  def q203CrossSourcePriority(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithSourceTwins(spark, dir)
      .select(col("doc_id"), col("source"),
        substring(col("source"), 4, 8).cast(IntegerType).as("prio"),
        graft.functions.Similarity.md5Hash64(col("text")).as("h"))
    val winners = docs.groupBy(col("h"))
      .agg(min(struct(col("prio"), col("doc_id"), col("source"))).as("w"))
      .select(col("h"), col("w.doc_id").as("kept_doc"),
        col("w.source").as("source_kept"))
    docs.join(winners, "h")
      .filter(col("doc_id") =!= col("kept_doc"))
      .groupBy(col("source_kept"), col("source").as("source_dropped"))
      .agg(count(lit(1)).as("n_dropped"))
      .orderBy(col("source_kept"), col("source_dropped"))
  }

  val q203Oracle: String =
    s"""WITH docs_p AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + $SourcePlantOffset, text,
       |    'src' || CAST((CAST(substr(source, 4, 8) AS INT) + 1) % 20 AS VARCHAR)
       |  FROM documents WHERE doc_id % 3 = 0),
       |d AS (
       |  SELECT doc_id, source, CAST(substr(source, 4, 8) AS INT) AS prio,
       |    CAST((CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS HUGEINT)
       |          * 4294967296
       |          + CAST('0x' || substr(md5(text), 9, 8) AS BIGINT))
       |         - CASE WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)
       |                     >= 2147483648
       |                THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
       |         AS BIGINT) AS h
       |  FROM docs_p),
       |w AS (
       |  SELECT h, doc_id AS kept_doc, source AS source_kept FROM (
       |    SELECT h, doc_id, source,
       |      row_number() OVER (PARTITION BY h ORDER BY prio, doc_id) AS rn
       |    FROM d)
       |  WHERE rn = 1)
       |SELECT w.source_kept, d.source AS source_dropped,
       |  CAST(COUNT(*) AS BIGINT) AS n_dropped
       |FROM d JOIN w ON d.h = w.h
       |WHERE d.doc_id <> w.kept_doc
       |GROUP BY w.source_kept, d.source
       |ORDER BY source_kept, source_dropped""".stripMargin

  /** Plant offset for the looped-text corpus (q205). */
  val LoopPlantOffset = 30000000L

  /** TANDEM-REPEAT DETECTION (q205) — the generation-loop artifact screen.
    * A looping generator (or a scraped page with a stuck template) emits
    * the SAME span back-to-back: "the best the best the best …". q199's
    * duplicate-chunk fraction counts repeated content anywhere in the doc;
    * this operator demands ADJACENCY — consecutive equal non-overlapping
    * 5-token chunks — which is the actual loop signature (a legal document
    * repeating a clause in two far-apart sections is not a loop; a model
    * emitting the same 5-gram four times in a row is). Reported per doc:
    * chunk count, the longest tandem run, how many runs of length ≥ 2
    * exist, and the ppm of chunk instances inside such runs.
    *
    * The gate corpus plants a loop: every doc_id % 7 == 0 doc gets a twin
    * whose text is its own first-5-token span repeated four times, then
    * the original text — so the twin must flag (max_run ≥ 4) while the
    * natural corpus stays clean, both facts the oracle checks exactly.
    *
    * Scale shape: chunking is a codegen'd projection (q199's shape, with
    * position kept); runs come from ONE per-doc window pass — lag-equality
    * flag → running sum (gaps-and-islands, the q176 debounce discipline;
    * doc_id partitions are high-cardinality and skew-free) — and one
    * (doc, run)-keyed aggregate re-aggregated to doc_id. No joins.
    */
  def q205TandemRepeats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val docs = d.unionAll(
      d.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + LoopPlantOffset).as("doc_id"),
        expr("concat_ws(' ', array_join(slice(split(trim(text), '\\\\s+'), 1, 5), ' '), " +
          "array_join(slice(split(trim(text), '\\\\s+'), 1, 5), ' '), " +
          "array_join(slice(split(trim(text), '\\\\s+'), 1, 5), ' '), " +
          "array_join(slice(split(trim(text), '\\\\s+'), 1, 5), ' '), text)")
          .as("text")))
    val chunks = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, CAST((size(toks) - 1) div 5 AS INT)), " +
          "i -> array_join(slice(toks, i * 5 + 1, 5), ' '))")))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = chunks
      .withColumn("brk",
        when(lag(col("chunk"), 1).over(w).isNull ||
          lag(col("chunk"), 1).over(w) =!= col("chunk"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("doc_id"))
      .agg(sum(col("run_len")).as("n_chunks"),
        max(col("run_len")).as("max_run"),
        sum(when(col("run_len") >= 2, 1L).otherwise(0L)).as("n_tandem_runs"),
        sum(when(col("run_len") >= 2, col("run_len")).otherwise(0L)).as("in_run"))
      .select(col("doc_id"), col("n_chunks"), col("max_run"),
        col("n_tandem_runs"),
        expr("CAST(CAST(in_run AS DECIMAL(38,0)) * 1000000" +
          " div n_chunks AS BIGINT)").as("tandem_ppm"))
      .orderBy(col("doc_id"))
  }

  val q205Oracle: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |docs_p AS (
       |  SELECT doc_id, text FROM base
       |  UNION ALL
       |  SELECT doc_id + $LoopPlantOffset,
       |    array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:5], ' ')
       |    || ' ' ||
       |    array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:5], ' ')
       |    || ' ' ||
       |    array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:5], ' ')
       |    || ' ' ||
       |    array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:5], ' ')
       |    || ' ' || text
       |  FROM base WHERE doc_id % 7 = 0),
       |d AS (SELECT doc_id,
       |        regexp_split_to_array(trim(text), '\\s+') AS toks
       |      FROM docs_p),
       |ch AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(toks[i * 5 + 1 : i * 5 + 5], ' ') AS chunk
       |  FROM d, UNNEST(range(0, ((len(toks) - 1) // 5) + 1)) AS t(i)),
       |fl AS (
       |  SELECT doc_id, pos, chunk,
       |    CASE WHEN lag(chunk) OVER (PARTITION BY doc_id ORDER BY pos)
       |              IS DISTINCT FROM chunk THEN 1 ELSE 0 END AS brk
       |  FROM ch),
       |ri AS (
       |  SELECT doc_id, chunk,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM fl),
       |runs AS (
       |  SELECT doc_id, run_id, CAST(COUNT(*) AS BIGINT) AS run_len
       |  FROM ri GROUP BY doc_id, run_id)
       |SELECT doc_id,
       |  CAST(SUM(run_len) AS BIGINT) AS n_chunks,
       |  CAST(MAX(run_len) AS BIGINT) AS max_run,
       |  CAST(SUM(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tandem_runs,
       |  CAST(CAST(SUM(CASE WHEN run_len >= 2 THEN run_len ELSE 0 END)
       |      AS HUGEINT) * 1000000 // SUM(run_len) AS BIGINT) AS tandem_ppm
       |FROM runs GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** DSIR-STYLE IMPORTANCE WEIGHTING (q206) — Data Selection via
    * Importance Resampling (Xie et al., NeurIPS 2023): score every raw
    * document by how much its hashed-n-gram profile looks like a TARGET
    * distribution versus the raw pool, Σ_f c_{d,f}·(log p_target(f) −
    * log p_raw(f)) over hashed unigram buckets. The float log is the one
    * non-portable piece, so the log-likelihood ratio is QUANTIZED to
    * exact integer log2: fl2(x) = length(bin(x)) = ⌊log2 x⌋ + 1 is
    * bit-identical in both engines, and s_f = fl2((c_t(f)+1)·N_r) −
    * fl2((c_r(f)+1)·N_t) is the add-one-smoothed LLR at whole-bit
    * resolution (sign-exact: s_f > 0 iff the smoothed ratio ≥ 2, < 0 iff
    * ≤ ½).
    *
    * The synthetic corpus draws every language/source from ONE token
    * distribution (the `lang` column is a label, not a dialect), so a
    * slice-of-corpus target would make every LLR quantize to zero — a
    * vacuous gate. The target is therefore a PLANTED domain-shifted probe
    * corpus, the role Wikipedia plays in the paper: every doc_id % 4 == 0
    * doc contributes a probe twin whose even-md5-bucket token mass is
    * doubled (each even-bucket occurrence re-appended). Even-bucket
    * features carry ~2× relative mass in the target, so their smoothed
    * ratios sit one bit above the odd buckets' — and a raw doc's score
    * now measures its even-bucket lean, a checkable, non-degenerate
    * ordering (EvalSpec correlates it with a driver-side recount).
    * Output rows are the RAW corpus only; probes exist solely as the
    * target side of the stats.
    *
    * Scale shape: one token explode → (doc, bucket) count (map-side
    * combined); the bucket-stats frame is B = 1024 rows BY CONSTRUCTION
    * (a model constant, not data), so the LLR table broadcasts back onto
    * the (doc, bucket) frame, and the per-doc score is one more keyed
    * aggregate. The 1-row totals ride a crossJoin like every count frame
    * in the suite. Nothing in the plan grows faster than the corpus.
    */
  def q206DsirImportance(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // probe twin: even-bucket token occurrences doubled by re-appending
    val probe = d.filter(col("doc_id") % 4 === 0).select(
      (col("doc_id") + SourcePlantOffset).as("doc_id"),
      expr("concat(text, ' ', array_join(filter(split(trim(text), '\\\\s+'), " +
        "t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 2 = 0), " +
        "' '))").as("text"),
      lit(1L).as("is_target"))
    val docFeat = d.select(col("doc_id"), col("text"), lit(0L).as("is_target"))
      .unionAll(probe)
      .select(col("doc_id"), col("is_target"),
        explode(split(trim(col("text")), "\\s+")).as("t"))
      .select(col("doc_id"), col("is_target"),
        (conv(substring(md5(col("t")), 1, 8), 16, 10).cast(LongType) % 1024)
          .as("f"))
      .groupBy(col("doc_id"), col("is_target"), col("f"))
      .agg(count(lit(1)).as("c"))
    val stats = docFeat.groupBy(col("f"))
      .agg(sum(when(col("is_target") === 0, col("c")).otherwise(0L)).as("c_r"),
        sum(when(col("is_target") === 1, col("c")).otherwise(0L)).as("c_t"))
    val totals = stats.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    val llr = stats.crossJoin(totals)
      .select(col("f"),
        (length(bin((col("c_t") + 1) * col("n_r"))) -
          length(bin((col("c_r") + 1) * col("n_t")))).cast(LongType).as("s"))
    docFeat.filter(col("is_target") === 0)
      .join(broadcast(llr), "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("s")).as("score_sum"))
      .select(col("doc_id"), col("n_tokens"), col("score_sum"),
        (col("score_sum").cast("double") / col("n_tokens")).as("imp_per_token"),
        when(col("score_sum") >= 0, 1).otherwise(0).as("keep_flag"))
      .orderBy(col("doc_id"))
  }

  val q206Oracle: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |docs_a AS (
       |  SELECT doc_id, text, 0 AS is_target FROM base
       |  UNION ALL
       |  SELECT doc_id + $SourcePlantOffset,
       |    text || ' ' || array_to_string(
       |      list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 2 = 0),
       |      ' '),
       |    1 AS is_target
       |  FROM base WHERE doc_id % 4 = 0),
       |fe AS (
       |  SELECT doc_id, is_target,
       |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024 AS f
       |  FROM (SELECT doc_id, is_target,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |        FROM docs_a)),
       |df AS (
       |  SELECT doc_id, is_target, f, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM fe GROUP BY doc_id, is_target, f),
       |st AS (
       |  SELECT f,
       |    SUM(CASE WHEN is_target = 0 THEN c ELSE 0 END) AS c_r,
       |    SUM(CASE WHEN is_target = 1 THEN c ELSE 0 END) AS c_t
       |  FROM df GROUP BY f),
       |tot AS (SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t FROM st),
       |w AS (
       |  SELECT f,
       |    CAST(length(bin((c_t + 1) * n_r))
       |       - length(bin((c_r + 1) * n_t)) AS BIGINT) AS s
       |  FROM st, tot)
       |SELECT df.doc_id,
       |  CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  CAST(SUM(c * s) AS BIGINT) AS score_sum,
       |  CAST(CAST(SUM(c * s) AS BIGINT) AS DOUBLE) / SUM(c) AS imp_per_token,
       |  CASE WHEN SUM(c * s) >= 0 THEN 1 ELSE 0 END AS keep_flag
       |FROM df JOIN w USING (f)
       |WHERE df.is_target = 0
       |GROUP BY df.doc_id
       |ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q202_source_overlap_sketch", q202SourceOverlapSketch, q202Oracle),
    QuerySpec("q203_cross_source_priority", q203CrossSourcePriority, q203Oracle),
    QuerySpec("q205_tandem_repeats", q205TandemRepeats, q205Oracle),
    QuerySpec("q206_dsir_importance", q206DsirImportance, q206Oracle))
}
