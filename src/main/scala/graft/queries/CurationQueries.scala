package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}
import graft.functions.{Similarity, TextFunctions}

/** Corpus-curation operators a production training-data pipeline runs
  * between ingest and tokenization (north-star tier, alongside B15/B17):
  * repetition-based quality filtering (the Gopher/RefinedWeb rule family),
  * PII redaction, and deterministic stratified sampling.
  *
  * Scale shapes: everything is a projection/filter over the scan plus at
  * most one high-cardinality-key aggregation (doc_id or (doc_id, token) —
  * never a low-cardinality hot key), so all three run at corpus scale with
  * one skew-free shuffle. Determinism: sampling and synthetic PII use
  * md5/doc_id arithmetic, identical in Spark and DuckDB, so every output —
  * including the redacted text, via its md5 — is exact-oracle-gated.
  */
object CurationQueries {

  /** Gate-default tunables — same constants feed the conf fallback AND the
    * oracle SQL so defaults cannot drift; the oracle gate must run with the
    * confs unset (see SimilarityQueries' oracle-gate contract note). */
  val ApportionK = 1000L
  val MixtureTokenBudget = 10000000L

  /** Repetition quality signals (Gopher-style): duplicate-trigram ratio
    * (the fraction of trigram occurrences that are repeats) and top-token
    * share (most frequent token / token count), plus the keep/drop verdict
    * of the combined rule. Documents that loop or keyword-stuff score high
    * on both and get dropped before training.
    *
    * Scale shape: PROJECTION-ONLY (round-8 rewrite) — both statistics are
    * per-document, so they ride two codegen'd expressions
    * ([[graft.expressions.ShingleStrings]] occurrences,
    * [[graft.expressions.MaxTokenCount]]) in one pass over the scan; the
    * only exchange is the output sort. The previous shape exploded the
    * token stream, aggregated it twice and joined it back — three
    * corpus-sized stages for per-row numbers.
    */
  def q78QualityRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    // every statistic here is PER-DOCUMENT, so the whole filter is one
    // codegen'd projection — no explode, no (doc, token) shuffle, no join
    // back (the r7 shape ran three corpus-sized stages for numbers each
    // row can produce alone): ShingleStrings for the trigram occurrence
    // stream, MaxTokenCount for the top-token multiplicity. The only
    // exchange is the output sort.
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast(IntegerType).as("n_tokens"),
        graft.expressions.ShingleStrings.shingleOccurrences(toks, 3).as("tris"),
        graft.expressions.MaxTokenCount.maxTokenCount(toks).as("max_tok"))
      .withColumn("dup_trigram_ratio",
        round(lit(1.0) -
          size(array_distinct(col("tris"))).cast(DoubleType) / size(col("tris")), 6))
      .select(
        col("doc_id"), col("n_tokens"), col("dup_trigram_ratio"),
        round(col("max_tok").cast(DoubleType) / col("n_tokens"), 6).as("top_token_share"),
        (col("n_tokens") >= 20 &&
          col("dup_trigram_ratio") <= 0.2 &&
          col("max_tok").cast(DoubleType) / col("n_tokens") <= 0.2).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q78Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tri AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
       |  FROM t),
       |top AS (
       |  SELECT doc_id, MAX(c) AS max_tok FROM (
       |    SELECT doc_id, tok, COUNT(*) AS c
       |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
       |    GROUP BY doc_id, tok)
       |  GROUP BY doc_id)
       |SELECT tri.doc_id,
       |  CAST(len(tri.toks) AS INTEGER) AS n_tokens,
       |  ROUND(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 6) AS dup_trigram_ratio,
       |  ROUND(CAST(max_tok AS DOUBLE) / len(tri.toks), 6) AS top_token_share,
       |  (len(tri.toks) >= 20
       |    AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
       |    AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2) AS keep
       |FROM tri JOIN top ON tri.doc_id = top.doc_id
       |ORDER BY tri.doc_id""".stripMargin
  }

  private val EmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction: emails and phone numbers replaced with typed tags. The
    * corpus has no natural PII, so deterministic PII is PLANTED (every
    * 10th doc an email, every 10th+5 a phone number) and the op must both
    * count and scrub exactly those. The redacted text itself is verified
    * via md5 — identical in both engines — so a regex that over- or
    * under-matched by one character would hash-mismatch.
    */
  def q79PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com now")))
        .when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" call 555-123-"),
            lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
        .otherwise(col("text")).as("text"))
    withPii
      .select(
        col("doc_id"),
        (size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))) +
          size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))))
          .cast(IntegerType).as("n_pii"),
        md5(regexp_replace(
          regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val q79Oracle: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 0
       |           THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |         WHEN doc_id % 10 = 5
       |           THEN text || ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe'))
       |     + len(regexp_extract_all(text, '$PhoneRe')) AS INTEGER) AS n_pii,
       |  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM p
       |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sampling: per-language rates via an md5
    * bucket compare — lowercase hex compares lexicographically as numeric,
    * so `substr(md5, 1, 2) < '40'` keeps exactly 64/256 = 25% in
    * expectation, reproducibly under reordering and re-runs (the same
    * property q63's split relies on). Downsample the over-represented
    * languages, keep the rest whole.
    */
  def q80StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast(StringType)), 1, 2)
    val threshold = when(col("lang") === "en", "40")  // 25%
      .when(col("lang") === "de", "80")               // 50%
      .when(col("lang") === "fr", "c0")               // 75%
      .otherwise("g")                                 // > 'ff': keep all
    Tables.documents(spark, dir)
      .filter(bucket < threshold)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  val q80Oracle: String =
    """SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  CASE lang WHEN 'en' THEN '40' WHEN 'de' THEN '80' WHEN 'fr' THEN 'c0'
      |       ELSE 'g' END
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Symmetric int8 embedding quantization — the standard 4× compression
    * pass before shipping vectors to an ANN index or training job:
    * per-vector scale = 127 / max|x|, q_i = round(x_i · scale) ∈ [−127,127].
    * Rounding is written as floor(y + 0.5) so both engines compute the
    * identical branch-free formula (engine `round()` half-way semantics
    * differ in edge cases); the quantized array is verified through the
    * md5 of its joined form — one byte off anywhere hash-mismatches.
    * Pure projection: zero shuffle at any corpus size.
    */
  def q82VecQuantize(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.functions.Similarity.toDouble(col("embedding"))
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / maxAbs
    val quant = transform(v, x => floor(x * scale + 0.5).cast(IntegerType))
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        round(scale, 6).as("scale"),
        md5(concat_ws(",", quant)).as("q_md5"))
      .orderBy(col("vec_id"))
  }

  val q82Oracle: String =
    """SELECT vec_id,
      |  ROUND(127.0 / mx, 6) AS scale,
      |  md5(array_to_string(list_transform(v, x ->
      |      CAST(FLOOR(x * (127.0 / mx) + 0.5) AS INTEGER)), ',')) AS q_md5
      |FROM (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
      |  FROM embeddings)
      |ORDER BY vec_id""".stripMargin

  /** Count-min-sketch heavy-hitter verification (the q11/q69 recipe for
    * sketches): build the CMS over l_orderkey with the built-in
    * `count_min_sketch` aggregate (fixed-size mergeable sketch — the
    * 100 TB frequency path), then check its per-key estimates against the
    * exact counts IN-QUERY. Two invariants become oracle-expected
    * booleans: a CMS NEVER underestimates (hard guarantee — must hold for
    * every key), and ≥97% of keys sit within the ε·N additive bound
    * (the probabilistic guarantee at confidence 0.99; deterministic here
    * under the fixed seed). ε is sized so collisions genuinely occur
    * (width ≪ key cardinality) — the bounds are doing real work.
    *
    * The sketch itself is a few KB collected once (like the IVF centroid
    * table); the estimate probe broadcasts it back inside a UDF — the
    * exact side is one partial-aggregated count.
    */
  def q90CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.01
    val bytes = Tables.lineitem(spark, dir)
      .agg(expr("count_min_sketch(l_orderkey, 0.01d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val estimate = udf((k: Long) => cms.estimateCount(k))
    val exact = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    // total = Σ per-key counts — derived from the tiny exact frame, not a
    // third full-table scan
    val total = exact.agg(sum(col("n")).as("total"))
    exact
      .withColumn("est", estimate(col("l_orderkey")))
      .join(broadcast(total), lit(true))
      .agg(
        count(lit(1)).as("n_keys"),
        (sum(when(col("est") < col("n"), 1).otherwise(0)) === 0).as("never_under"),
        ((sum(when(col("est") - col("n") <= lit(eps) * col("total"), 1).otherwise(0))
          .cast(DoubleType) / count(lit(1))) >= 0.97).as("bounds_hold"))
  }

  val q90Oracle: String =
    """SELECT COUNT(DISTINCT l_orderkey) AS n_keys,
      |  TRUE AS never_under, TRUE AS bounds_hold
      |FROM lineitem""".stripMargin

  /** Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES in the log
    * domain): per-doc uniform u from an md5-derived 24-bit fraction
    * (reproducible under reordering and re-runs — q63/q80's property,
    * weighted), selection key ln(u)/w with w = n_chars, keep the top-k
    * keys. Longer documents win proportionally to their weight;
    * TakeOrdered top-k, no full sort. The oracle replays hash, key and
    * selection exactly.
    */
  def q91WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast(StringType)), 1, 6), 16, 10)
      .cast(DoubleType) + 0.5) / 16777216.0
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars")).as("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_chars"), round(col("sel_key"), 6).as("sel_key"))
  }

  /** NOTE: the ORDER BY + LIMIT must run on the UNROUNDED key in an inner
    * query — in the flat form `ORDER BY sel_key` binds to the rounded
    * output alias, and rounded keys collide at 1e-6 granularity, selecting
    * a different top-20 than the operator's unrounded ordering (observed
    * at sf0.1).
    */
  val q91Oracle: String =
    """SELECT doc_id, n_chars, ROUND(sel_key, 6) AS sel_key FROM (
      |  SELECT doc_id, n_chars, sel_key FROM (
      |    SELECT doc_id, n_chars,
      |      ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS DOUBLE) + 0.5)
      |         / 16777216.0) / n_chars AS sel_key
      |    FROM documents)
      |  ORDER BY sel_key DESC, doc_id
      |  LIMIT 20)""".stripMargin

  /** Sliding-window document chunking — the step that turns a cleaned
    * corpus into training-sized pieces: fixed 120-char windows advancing
    * by a 90-char stride (25% overlap so no boundary context is lost),
    * one output row per (doc, window). Pure projection + generate over
    * the scan — `sequence`/`posexplode` runs per-row with no shuffle, so
    * chunking 100 TB is a single map pass whose output partitioning
    * inherits the scan's. Chunk text is emitted by md5 (the q79 recipe:
    * content-addressed, compare-friendly); offsets and lengths are exact.
    */
  def q101DocChunking(spark: SparkSession, dir: String): DataFrame = {
    val stride = 90
    val win = 120
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0), ((col("n") - 1) / stride).cast(IntegerType))))
      .select(
        col("doc_id"),
        col("pos").as("chunk_id"),
        (col("pos") * stride).as("chunk_start"),
        col("text").substr(col("pos") * stride + 1, lit(win)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q101Oracle: String =
    """SELECT doc_id, CAST(k AS INTEGER) AS chunk_id, CAST(k * 90 AS INTEGER) AS chunk_start,
      |  CAST(length(chunk) AS INTEGER) AS chunk_len, md5(chunk) AS chunk_md5
      |FROM (
      |  SELECT doc_id, k, substr(text, CAST(k * 90 + 1 AS INTEGER), 120) AS chunk
      |  FROM documents, UNNEST(range(0, (length(text) - 1) // 90 + 1)) AS t(k)
      |  WHERE length(text) > 0)
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-group z-score outlier flagging — the length-anomaly screen a
    * curation pipeline runs per source (truncated docs, concatenation
    * blowups). The verdict is INTEGER-EXACT: with n, S=Σx, S2=Σx² as
    * BIGINTs, z² > 4 is exactly (n·x−S)² > 4·(n·S2−S²) — no float in the
    * decision, so both engines agree bit-for-bit; the reported z-score
    * divides the same exact longs (identical IEEE ops). Scale shape:
    * one tiny per-source aggregate broadcast back over the scan — two
    * map passes, no fact shuffle (the q92-stats recipe, per group).
    */
  def q104OutlierZscore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val stats = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      sum(col("n_chars")).as("s"),
      sum(col("n_chars") * col("n_chars")).as("s2"))
    val dev = col("n") * col("n_chars") - col("s")
    val varn = col("n") * col("s2") - col("s") * col("s")
    docs.join(broadcast(stats), "source")
      .select(
        col("doc_id"), col("source"), col("n_chars"),
        when(varn > 0, dev.cast(DoubleType) / sqrt(varn.cast(DoubleType)))
          .as("zscore"),
        (dev * dev > varn * 4).as("is_outlier"))
      .orderBy(col("doc_id"))
  }

  val q104Oracle: String =
    """WITH stats AS (
      |  SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s,
      |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
      |  FROM documents GROUP BY source)
      |SELECT doc_id, source, n_chars,
      |  CASE WHEN n*s2 - s*s > 0
      |    THEN CAST(n*n_chars - s AS DOUBLE) / sqrt(CAST(n*s2 - s*s AS DOUBLE))
      |  END AS zscore,
      |  (n*n_chars - s)*(n*n_chars - s) > 4*(n*s2 - s*s) AS is_outlier
      |FROM documents JOIN stats USING (source)
      |ORDER BY doc_id""".stripMargin

  /** EXACT-K per-stratum sampling — "exactly 20 docs per language", the
    * eval-set construction rule (q80's rate-based sampling can't pin the
    * count; q91's weighted sample is global). Rank within each stratum by
    * the md5 of the doc id — a deterministic, data-independent shuffle
    * both engines replay — and keep the first k. The row_number ≤ k shape
    * is exactly what [[graft.plans.TopKRewrite]] rewrites onto the
    * GroupTopK operator: bounded per-stratum heaps, one exchange, no
    * per-group sort.
    */
  def q127SamplePerStratum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("skey"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast(StringType)).as("skey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy(col("lang"), col("rn"))
  }

  val q127Oracle: String =
    """SELECT lang, rn, doc_id FROM (
      |  SELECT lang, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn
      |  FROM documents)
      |WHERE rn <= 20
      |ORDER BY lang, rn""".stripMargin

  /** BENCHMARK-CONTAMINATION detection — the pre-training hygiene pass
    * every LLM pipeline runs (the GPT-3-style n-gram overlap rule):
    * training documents sharing any word n-gram with a held-out eval set
    * are flagged with their shared-gram count and the first contaminating
    * eval doc. Here the "eval set" is the deterministic doc_id % 97 == 0
    * slice, trigram overlap (specific enough to be meaningful on the
    * synthetic corpus; production uses 8–13-grams, one constant).
    *
    * Scale shape: the eval side is BROADCAST — benchmark suites are
    * thousands of documents against a 100 TB corpus, so the probe is a
    * map-side hash join; the only shuffle is the final doc_id-keyed
    * aggregate (high-cardinality, skew-free). The n-gram explode is
    * generate-over-scan with per-doc first-occurrence dedup inside the
    * codegen'd ShingleStrings expression — no distinct pass needed.
    *
    * Broadcast bound: what ships is the EXPLODED eval gram set — roughly
    * eval_docs × grams_per_doc rows, ~1 GB per ~5M distinct grams — so the
    * hint holds to about 10⁴ benchmark docs of ordinary length, well past
    * real benchmark suites but NOT unbounded. The bound is ENFORCED: when
    * the eval doc count — estimated LAZILY from parquet file statistics,
    * never from a count() action (building the DataFrame launches no
    * Spark job) — exceeds
    * `spark.graft.contamination.broadcastDocLimit` (default 100 000), the
    * hint is dropped automatically and the planner falls back to a
    * shuffled join on `ng` — same results, one corpus shuffle on the gram
    * key instead of a driver-sized broadcast (CurationSpec proves the
    * fallback result-identical and that construction runs no job).
    */
  def q133ContaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.expressions.ShingleStrings.shingleStrings(
        TextFunctions.tokens(col("text")), 3)).as("ng"))
    val docs = Tables.documents(spark, dir)
    val evDocs = docs.filter(col("doc_id") % 97 === 0)
    val ev = grams(evDocs)
      .select(col("doc_id").as("eval_id"), col("ng"))
    val tr = grams(docs.filter(col("doc_id") % 97 =!= 0))
    // The broadcast-size bound is enforced, not just documented: the hint
    // holds while the ESTIMATED eval doc count stays under the configured
    // budget (exploded grams ∝ docs × grams/doc; the doc count is the
    // cheap, pre-explode proxy). Past it, the hint is dropped and the
    // planner falls back to a shuffled hash/merge join on `ng` —
    // IDENTICAL results, one corpus shuffle on the gram key instead of a
    // driver-sized broadcast.
    //
    // The estimate is LAZY — derived on the driver from parquet file
    // statistics (optimizedPlan.stats.sizeInBytes = Σ file sizes), never
    // from a count() action: building this DataFrame must not launch a
    // Spark job, let alone a corpus-sized one. The eval slice is a
    // deterministic 1/97 of the corpus, so
    //   est_docs = corpus_bytes / 97 / bytes_per_doc
    // with bytes_per_doc conf'd (`…bytesPerDocEstimate`, default 4096 —
    // deliberately small: underestimating doc size OVERestimates the doc
    // count, which errs toward the safe shuffled fallback).
    val limit = spark.conf
      .getOption("spark.graft.contamination.broadcastDocLimit")
      .map(_.toLong).getOrElse(100000L)
    val bytesPerDoc = spark.conf
      .getOption("spark.graft.contamination.bytesPerDocEstimate")
      .map(_.toLong).getOrElse(4096L)
    val corpusBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    // floor at 1: a non-empty corpus always has ≥1 estimated eval doc, so
    // a zero budget deterministically selects the fallback
    val evalDocsEst = (corpusBytes / 97 / bytesPerDoc).max(BigInt(1))
    val evSide = if (evalDocsEst <= BigInt(limit)) broadcast(ev) else ev
    tr.join(evSide, "ng")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ng")).as("n_shared_ngrams"),
        min(col("eval_id")).as("first_eval_doc"))
      .orderBy(col("doc_id"))
  }

  val q133Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS ng
      |  FROM d),
      |ev AS (SELECT DISTINCT doc_id AS eval_id, ng FROM g WHERE doc_id % 97 = 0),
      |tr AS (SELECT DISTINCT doc_id, ng FROM g WHERE doc_id % 97 <> 0)
      |SELECT t.doc_id, COUNT(DISTINCT t.ng) AS n_shared_ngrams,
      |  MIN(e.eval_id) AS first_eval_doc
      |FROM tr t JOIN ev e USING (ng)
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** CORPUS-MIXTURE rebalancing — downsample every source to the
    * smallest source's size (the balanced-mixture special case of
    * weighted data mixing): per-source keep-rates are DERIVED FROM THE
    * DATA (rate_s = min_n / n_s, unlike q80's fixed thresholds), encoded
    * as exact integer thresholds against a 32-bit md5 prefix, and the
    * membership test is one deterministic string compare — rerunnable,
    * engine-portable, no RNG state. The threshold arithmetic runs in
    * DECIMAL(38,0)/HUGEINT (min_n·2³² would wrap a long at ≥2³¹ docs)
    * and integral division, identical in both engines; the 9-wide
    * zero-padded lower-hex compare equals the numeric compare (covers
    * thr = 2³² for the smallest source itself, 9 hex chars).
    *
    * Scale shape: two scans of the corpus (count, then filter) with the
    * tiny per-source rate frame broadcast onto the second — no
    * low-cardinality shuffle of the corpus; the verdict per row is a
    * codegen'd projection.
    */
  def q134CorpusMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    val minN = counts.agg(min(col("n_orig")).as("min_n"))
    val rates = counts.join(broadcast(minN))
      .withColumn("thr",
        expr("CAST(min_n AS DECIMAL(38,0)) * 4294967296 div n_orig"))
      .withColumn("thr_hex", lpad(lower(hex(col("thr"))), 9, "0"))
      .select(col("source"), col("n_orig"), col("thr_hex"))
    val sampled = docs
      .join(broadcast(rates), Seq("source"))
      .filter(lpad(substring(md5(col("doc_id").cast(StringType)), 1, 8), 9, "0")
        < col("thr_hex"))
    sampled.groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .join(broadcast(rates.select(col("source"), col("n_orig"))), Seq("source"))
      .select(col("source"), col("n_orig"), col("n_sampled"),
        (col("n_sampled").cast(DoubleType) / col("n_orig")).as("achieved_rate"),
        col("min_id"), col("max_id"))
      .orderBy(col("source"))
  }

  val q134Oracle: String =
    """WITH counts AS (
      |  SELECT source, COUNT(*) AS n_orig FROM documents GROUP BY source),
      |rates AS (
      |  SELECT source, n_orig,
      |    lpad(lower(to_hex(CAST(
      |      CAST((SELECT MIN(n_orig) FROM counts) AS HUGEINT) * 4294967296 // n_orig
      |    AS BIGINT))), 9, '0') AS thr_hex
      |  FROM counts),
      |sampled AS (
      |  SELECT d.source, d.doc_id
      |  FROM documents d JOIN rates r USING (source)
      |  WHERE lpad(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8), 9, '0') < r.thr_hex)
      |SELECT r.source, r.n_orig, s.n_sampled,
      |  CAST(s.n_sampled AS DOUBLE) / r.n_orig AS achieved_rate,
      |  s.min_id, s.max_id
      |FROM (SELECT source, COUNT(*) AS n_sampled,
      |        MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |      FROM sampled GROUP BY source) s
      |JOIN rates r USING (source)
      |ORDER BY source""".stripMargin

  /** STATISTICAL-LM FLUENCY scoring — the corpus-frequency complement to
    * q78's repetition rules: each document scores the mean corpus
    * frequency of its bigram OCCURRENCES (duplicates included — this is
    * an expectation over the doc's token stream, not a set statistic).
    * Low scores mark documents whose word transitions are rare in the
    * corpus — gibberish, boilerplate-stripped fragments, wrong-language
    * slips — the unigram/bigram-LM proxy pipelines run before the
    * expensive model-based quality pass. Kept integer-exact: the score is
    * Σ count(bigram) / n_bigrams, one division of exact longs, so the
    * gate hash-matches (a log-prob variant needs ln(), whose last ulp is
    * engine-specific).
    *
    * Scale shape: the occurrence stream is FIRST collapsed to per-(doc,
    * bigram) counts — one high-cardinality skew-free shuffle (hot bigrams
    * spread across their doc_ids) whose exchange AQE reuses for both
    * consumers — then the global count table is aggregated FROM that
    * collapsed frame and joined back on the bigram. The join key is still
    * Zipfian ("of the" is a genuine hot key in any corpus), but the
    * pre-aggregation bounds the hot key's probe rows at one per DOCUMENT
    * containing the bigram instead of one per OCCURRENCE (the score math
    * moves to Σ occ·cnt, unchanged results), and the residual skew is the
    * exact shape AQE's skew-join split handles at runtime (proven for
    * this pattern in ScaleSpec's skew=true test). The final doc_id-keyed
    * aggregate is high-cardinality and skew-free.
    */
  def q135DocFluency(spark: SparkSession, dir: String): DataFrame = {
    // bigram occurrences WITH duplicates, via the native expression — the
    // interpreted transform(sequence(...)) alternative was the suite's
    // slowest query at 5.8 s (CodegenFallback per element, twice)
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      // <2 tokens → no bigrams → no output row, matching DuckDB's empty
      // range() (ShingleStrings would emit the whole text as one window)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(graft.expressions.ShingleStrings.shingleOccurrences(col("toks"), 2))
          .as("bg"))
    // collapse to one row per (doc, bigram) BEFORE any bigram-keyed work:
    // Σ cnt over occurrences ≡ Σ occ·cnt over distinct (doc, bigram)
    val perDoc = bigrams.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("occ"))
    val counts = perDoc.groupBy(col("bg")).agg(sum(col("occ")).as("cnt"))
    perDoc.join(counts, "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_bigrams"),
        sum(col("occ") * col("cnt")).as("freq_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("freq_sum").cast(DoubleType) / col("n_bigrams")).as("mean_bigram_freq"))
      .orderBy(col("doc_id"))
  }

  val q135Oracle: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |c AS (SELECT bg, COUNT(*) AS cnt FROM b GROUP BY bg)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(CAST(SUM(c.cnt) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_bigram_freq
      |FROM b JOIN c USING (bg)
      |GROUP BY b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** QUALITY-CLASSIFIER scoring — the in-plan inference pass of a
    * fasttext-style linear text classifier (the model-based quality gate
    * LLM pipelines run after the cheap heuristics): hashed word n-gram
    * features (unigrams + bigrams) → bucket-weight lookup → sum, scored by
    * the codegen'd [[graft.expressions.LinearTextScore]] expression. The
    * weight table here is a deterministic integer stand-in for trained
    * weights (w(b) = (b·2654435761 + 12345) mod 201 − 100 over 1024
    * buckets) so the gate is EXACT: the oracle replays the same md5
    * feature hash and weight formula in SQL. The keep verdict thresholds
    * the raw sum — σ is monotone, so this IS the sigmoid threshold without
    * its engine-specific exp().
    *
    * Scale shape: scoring is PROJECTION-ONLY — no explode, no join, no
    * aggregate; the model rides inside the expression (task-broadcast).
    * The only exchange in the whole query is the output ORDER BY. A
    * CurationSpec plan test pins that (and ExpressionsSpec proves the
    * native expression ≡ the declarative explode+md5 form).
    */
  def q136QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      // n tokens → n unigrams + (n−1) bigrams; tokens() never returns an
      // empty array (whitespace-split of a trimmed string yields [""]), so
      // 2n−1 needs no floor
      .select(col("doc_id"),
        (size(col("toks")) * 2 - 1).cast(LongType).as("n_feats"),
        graft.expressions.LinearTextScore
          .linearTextScore(col("toks"), ClassifierWeights, 2).as("score_sum"))
      .select(col("doc_id"), col("n_feats"), col("score_sum"),
        (col("score_sum").cast(DoubleType) / col("n_feats")).as("mean_w"),
        when(col("score_sum") >= 0, 1).otherwise(0).as("keep_flag"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stand-in model: 1024 integer bucket weights in
    * [−100, 100]. A trained model would load real ints here; the formula
    * exists so the DuckDB oracle can replay the lookup exactly.
    */
  val ClassifierWeights: Seq[Int] =
    (0 until 1024).map(b => ((b * 2654435761L + 12345L) % 201L - 100L).toInt)

  val q136Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, unnest(toks) AS f FROM d
      |  UNION ALL
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1])) AS f
      |  FROM d),
      |scored AS (
      |  SELECT doc_id,
      |    ((CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024)
      |       * 2654435761 + 12345) % 201 - 100 AS w
      |  FROM feats)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
      |  CAST(SUM(w) AS BIGINT) AS score_sum,
      |  CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_w,
      |  CASE WHEN CAST(SUM(w) AS BIGINT) >= 0 THEN 1 ELSE 0 END AS keep_flag
      |FROM scored
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** UNICODE NORMALIZATION over the corpus (q151): NFC makes byte
    * equality mean character equality (composed vs decomposed accents);
    * NFKC additionally folds compatibility forms (ligatures,
    * superscripts) the way tokenizer pipelines expect. The ASCII corpus
    * is a passthrough by definition, so each row carries a PLANTED
    * suffix exercising every interesting case — composed é, decomposed
    * e+U+0301, ligature ﬁ, superscript ², zero-width space — and the
    * oracle pins the exact transform: ASCII text concatenated with the
    * normalized suffix written literally (NFC composes the accent,
    * 13→12 chars; NFKC also expands ﬁ→fi and ²→2, back to 13; ZWSP
    * survives both — normalization is NOT invisible-char stripping).
    * The md5 gate covers every byte of every normalized row.
    *
    * Scale shape: [[graft.expressions.UnicodeNormalize]] is a codegen'd
    * projection — no UDF, no shuffle; the plan is scan → project → sort.
    */
  def q151UnicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.UnicodeNormalize.unicodeNormalize
    val suffix = " caf\u00e9 e\u0301 \ufb01n\u00b2\u200b"
    val planted = concat(col("text"), lit(suffix))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(planted).as("n_in"),
        length(unicodeNormalize(planted, "NFC")).as("n_nfc"),
        length(unicodeNormalize(planted, "NFKC")).as("n_nfkc"),
        md5(unicodeNormalize(planted, "NFC")).as("md5_nfc"),
        md5(unicodeNormalize(planted, "NFKC")).as("md5_nfkc"))
      .orderBy(col("doc_id"))
  }

  val q151Oracle: String =
    "SELECT doc_id,\n" +
    "  length(text || ' caf\u00e9 e\u0301 \ufb01n\u00b2\u200b') AS n_in,\n" +
    "  length(text || ' caf\u00e9 \u00e9 \ufb01n\u00b2\u200b') AS n_nfc,\n" +
    "  length(text || ' caf\u00e9 \u00e9 fin2\u200b') AS n_nfkc,\n" +
    "  md5(text || ' caf\u00e9 \u00e9 \ufb01n\u00b2\u200b') AS md5_nfc,\n" +
    "  md5(text || ' caf\u00e9 \u00e9 fin2\u200b') AS md5_nfkc\n" +
    "FROM documents ORDER BY doc_id"

  /** Leftmost-greedy single-pass pair merge (Sennrich's BPE merge rule):
    * fold the symbol stream, joining the current symbol onto the
    * accumulator top exactly when they form the chosen pair — "a a a"
    * merges to [aa, a], "a b a b" to [ab, ab]. The DuckDB oracle runs the
    * SAME fold via list_reduce.
    */
  private[graft] def bpeMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { s =>
      if (out.nonEmpty && out.last == l && s == r) out(out.length - 1) = l + r
      else out += s
    }
    out.toSeq
  }

  /** BPE TOKENIZER TRAINING (q152) — the learning half of q137's
    * fixed-vocabulary subword counting: discover the merge table FROM the
    * corpus. Classic Sennrich BPE, three unrolled merge rounds: count
    * adjacent symbol pairs over the word vocabulary (weighted by word
    * frequency), adopt the most frequent pair (ties: lexicographically
    * smallest), apply it with the leftmost-greedy fold, repeat. Output is
    * the learned merge table — (step, sym_l, sym_r, pair_n) — the
    * artifact a tokenizer ships.
    *
    * Scale shape: training runs over the WORD VOCABULARY (word, count) —
    * Zipf makes that orders of magnitude smaller than the corpus, and the
    * one corpus-sized stage is the initial word count (high-cardinality
    * key, map-side combined). Each round is a vocab-sized explode +
    * aggregate + a 1-row broadcast join; the rounds compose lazily into
    * one plan — no driver-side loop state, same posture as q142's
    * unrolled PageRank.
    */
  def q152BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    var vocab = words.select(split(col("word"), "").as("syms"), col("n"))
    val tops = (1 to 3).map { step =>
      val pairs = vocab
        .select(col("n"), col("syms"),
          explode(when(size(col("syms")) >= 2,
            sequence(lit(1), size(col("syms")) - 1)).otherwise(array()))
            .as("i"))
        .select(element_at(col("syms"), col("i")).as("sym_l"),
          element_at(col("syms"), col("i") + 1).as("sym_r"), col("n"))
        .groupBy(col("sym_l"), col("sym_r")).agg(sum(col("n")).as("pair_n"))
      val top = pairs.orderBy(col("pair_n").desc, col("sym_l"), col("sym_r"))
        .limit(1)
      vocab = vocab.join(broadcast(top))
        .as[(Seq[String], Long, String, String, Long)]
        .map { case (syms, n, l, r, _) => (bpeMerge(syms, l, r), n) }
        .toDF("syms", "n")
      top.withColumn("step", lit(step))
    }
    tops.reduce(_ unionByName _)
      .select(col("step"), col("sym_l"), col("sym_r"), col("pair_n"))
      .orderBy(col("step"))
  }

  val q152Oracle: String = {
    def step(prev: String, merged: String, top: String): String =
      s"""$top AS (
         |  SELECT sym_l, sym_r, CAST(SUM(n) AS BIGINT) AS pair_n FROM (
         |    SELECT syms[i] AS sym_l, syms[i+1] AS sym_r, n
         |    FROM $prev, UNNEST(range(1, len(syms))) AS t(i))
         |  GROUP BY sym_l, sym_r
         |  ORDER BY pair_n DESC, sym_l, sym_r LIMIT 1),
         |$merged AS (
         |  SELECT list_reduce(list_transform(syms, s -> [s]),
         |    (acc, x) -> CASE WHEN acc[-1] = $top.sym_l AND x[1] = $top.sym_r
         |                THEN list_concat(acc[:-2], [acc[-1] || x[1]])
         |                ELSE list_concat(acc, x) END) AS syms, n
         |  FROM $prev, $top)""".stripMargin
    s"""WITH words AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |    FROM documents)
       |  GROUP BY word),
       |v0 AS (SELECT string_split(word, '') AS syms, n FROM words),
       |${step("v0", "v1", "t1")},
       |${step("v1", "v2", "t2")},
       |${step("v2", "v3", "t3")}
       |SELECT 1 AS step, * FROM t1
       |UNION ALL SELECT 2, * FROM t2
       |UNION ALL SELECT 3, * FROM t3
       |ORDER BY step""".stripMargin
  }

  /** QUALITY-CLASSIFIER TRAINING (q160) — the learning half of q136's
    * inference pass: logistic regression over hashed unigram features,
    * trained IN-ENGINE by three unrolled gradient steps. Each step is
    *   z_d = Σ_b x_{d,b}·w_b   (a broadcast join of the 64-row weight
    *                            table onto the feature frame + doc agg),
    *   r_d = σ̂(z_d) − y_d     (hard-sigmoid residual),
    *   g_b = Σ_d r_d·x_{d,b}  (a bucket-keyed aggregate),
    *   w_b ← w_b − g_b/(4N)   (a 64-row update),
    * composed LAZILY into one plan — no driver loop state, the q142
    * PageRank / q152 BPE posture. The label is lang = 'en' (learn to
    * recognize English from hashed unigrams); the feature hash is
    * LinearTextScore's (first 4 md5 bytes mod B, B = 64), so the trained
    * vector drops straight into q136's codegen'd scorer — CurationSpec
    * proves expression scoring with these weights ≡ declarative
    * join scoring.
    *
    * Exactness: σ is transcendental, so the HARD sigmoid
    * σ̂(z) = clamp(½ + z/4, 0, 1) (its first-order Taylor clamp, the
    * standard quantized-training surrogate) replaces it; weights,
    * margins and gradients are scaled BIGINTs (S = 10⁶) with trunc-
    * division — both engines compute bit-identical integers at every
    * step (DuckDB's `//` and Spark's `div` both truncate toward zero).
    * Long-overflow bound: |z| ≤ doc_tokens·max|w| ≲ 10¹² and
    * |g| ≤ N·S·doc_tokens ≲ 10¹⁷ at N = 10⁹ — inside 2⁶³; past ~10¹⁰
    * docs the g aggregate needs the DECIMAL(38,0) promotion q144 uses.
    *
    * Scale shape: ONE corpus-sized stage (the tokenize + (doc, bucket)
    * count, map-side combined); every step then touches only that frame
    * (its exchange is REUSED across steps — CurationSpec asserts the
    * executed plan) plus 64-row broadcast weight tables and a per-doc
    * residual join. The isnotnull pre-filters keep all consumer
    * subtrees identical (the q144 lesson).
    */
  def q160ClassifierTraining(spark: SparkSession, dir: String): DataFrame = {
    val S = 1000000L
    val B = 64
    val x = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        explode(TextFunctions.tokens(col("text"))).as("f"))
      .select(col("doc_id"), col("y"),
        (conv(substring(md5(col("f")), 1, 8), 16, 10).cast(LongType) % B).as("b"))
      .filter(col("b").isNotNull)
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("x"))
    // deliberately lazy (round-15 A/B): x ends in an aggregate exchange
    // that AQE's stage cache already reuses across the seven consumers;
    // an eager checkpoint only added serial latency (measured 1.12x)
    val nDocs = x.select(col("doc_id")).distinct().agg(count(lit(1)).as("n"))
    val w0 = spark.range(B).select(col("id").as("b"), lit(0L).as("w"))
    val trained = (1 to 3).foldLeft(w0) { (w, _) =>
      val z = x.join(broadcast(w), "b")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("x") * col("w")).as("z"))
      val r = z.select(col("doc_id"),
        (greatest(least(lit(S / 2) + expr("z div 4"), lit(S)), lit(0L))
          - col("y") * S).as("r"))
      val g = x.join(r, "doc_id")
        .groupBy(col("b")).agg(sum(col("r") * col("x")).as("g"))
      w.join(g, Seq("b"), "left").join(broadcast(nDocs))
        .select(col("b"),
          (col("w") - expr("coalesce(g, CAST(0 AS BIGINT)) div (4 * n)")).as("w"))
    }
    trained.orderBy(col("b"))
  }

  val q160Oracle: String = {
    def step(i: Int): String = {
      val prev = s"w${i - 1}"
      s"""z$i AS (
         |  SELECT x.doc_id, x.y, SUM(x.x * w.w) AS z
         |  FROM x JOIN $prev w USING (b) GROUP BY x.doc_id, x.y),
         |r$i AS (
         |  SELECT doc_id,
         |    CAST(LEAST(GREATEST(500000 + z // 4, 0), 1000000) - y * 1000000
         |      AS BIGINT) AS r
         |  FROM z$i),
         |g$i AS (
         |  SELECT b, SUM(r.r * x.x) AS g FROM x JOIN r$i r USING (doc_id)
         |  GROUP BY b),
         |w$i AS (
         |  SELECT w.b, CAST(w.w - COALESCE(g.g, 0) // (4 * nn.n) AS BIGINT) AS w
         |  FROM $prev w LEFT JOIN g$i g USING (b) CROSS JOIN nn)""".stripMargin
    }
    s"""WITH f AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64 AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |        FROM documents)),
       |x AS (SELECT doc_id, y, b, CAST(COUNT(*) AS BIGINT) AS x
       |      FROM f GROUP BY doc_id, y, b),
       |nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM x),
       |w0 AS (SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
       |       FROM range(64)),
       |${(1 to 3).map(step).mkString(",\n")}
       |SELECT b, w FROM w3 ORDER BY b""".stripMargin
  }

  /** Spark SQL fragment: the Luhn weighted digit sum of a 16-char digit
    * string `c` — odd left-positions doubled (9-folded), the mod-10
    * checksum rule every payment-card number satisfies. Shared by the
    * plant construction (15-digit body: same formula, the check digit
    * position contributes 0) and the validator.
    */
  private def luhnSumSql(c: String, n: Int): String =
    s"""aggregate(transform(sequence(1, $n), i ->
       |  CASE WHEN i % 2 = 1 THEN
       |    IF(2 * CAST(substring($c, i, 1) AS INT) > 9,
       |       2 * CAST(substring($c, i, 1) AS INT) - 9,
       |       2 * CAST(substring($c, i, 1) AS INT))
       |  ELSE CAST(substring($c, i, 1) AS INT) END), 0, (a, x) -> a + x)"""
      .stripMargin.replaceAll("\n", " ")

  /** CHECKSUM-VALIDATED PII detection (q163) — the payment-card tier of
    * the PII pass: q79's regex classes (emails, phones) accept anything
    * shaped right, but card numbers carry a CHECKSUM (Luhn mod-10), and a
    * redactor that ignores it floods the output with false positives
    * (order ids, timestamps, EANs are 16-digit too). Docs plant both a
    * VALID card (doc_id % 13 = 0: deterministic 15-digit body + computed
    * Luhn check digit) and an INVALID one (doc_id % 13 = 5: check digit
    * shifted +5, guaranteed to fail) — the gate proves the validator
    * redacts exactly the valid numbers and leaves the invalid ones
    * untouched, md5 over every redacted byte.
    *
    * Scale shape: candidate extraction (regexp_extract_all), Luhn
    * filtering (16-element integer fold per candidate) and replacement
    * all run INSIDE one projection over the scan — no explode, no join;
    * the only exchange is the output sort. The Luhn fold is a
    * higher-order expression over a 16-element sequence — constant work
    * per candidate, no UDF.
    */
  def q163CreditCardRedact(spark: SparkSession, dir: String): DataFrame = {
    val body = "concat('4', lpad(CAST((doc_id * doc_id + 7) % 99999999999999 AS STRING), 14, '0'))"
    val check = s"CAST((10 - ${luhnSumSql(body, 15)} % 10) % 10 AS STRING)"
    val planted = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(
        s"""CASE WHEN doc_id % 13 = 0 THEN concat(text, ' ', $body, $check)
           |     WHEN doc_id % 13 = 5 THEN concat(text, ' ', $body,
           |       CAST((CAST($check AS INT) + 5) % 10 AS STRING))
           |     ELSE text END""".stripMargin).as("text"))
    planted
      .withColumn("valid", expr(
        s"filter(regexp_extract_all(text, '\\\\b\\\\d{16}\\\\b', 0), " +
          s"c -> ${luhnSumSql("c", 16)} % 10 = 0)"))
      .select(col("doc_id"),
        size(col("valid")).as("n_cc"),
        md5(expr("aggregate(valid, text, (acc, c) -> replace(acc, c, '[CC]'))"))
          .as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val q163Oracle: String = {
    def luhn(c: String, n: Int): String =
      s"""list_sum(list_transform(range(1, ${n + 1}), i ->
         |  CASE WHEN i % 2 = 1 THEN
         |    CASE WHEN 2 * CAST($c[i] AS INT) > 9
         |         THEN 2 * CAST($c[i] AS INT) - 9
         |         ELSE 2 * CAST($c[i] AS INT) END
         |  ELSE CAST($c[i] AS INT) END))""".stripMargin.replaceAll("\n", " ")
    val body = "'4' || lpad(CAST((doc_id * doc_id + 7) % 99999999999999 AS VARCHAR), 14, '0')"
    s"""WITH b AS (SELECT doc_id, text, $body AS body FROM documents),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN
       |           text || ' ' || body ||
       |           CAST((10 - ${luhn("body", 15)} % 10) % 10 AS VARCHAR)
       |         WHEN doc_id % 13 = 5 THEN
       |           text || ' ' || body ||
       |           CAST(((10 - ${luhn("body", 15)} % 10) % 10 + 5) % 10 AS VARCHAR)
       |         ELSE text END AS text
       |  FROM b),
       |v AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_extract_all(text, '\\b\\d{16}\\b'),
       |      c -> ${luhn("c", 16)} % 10 = 0) AS valid
       |  FROM p)
       |SELECT doc_id, CAST(len(valid) AS INTEGER) AS n_cc,
       |  md5(CASE WHEN len(valid) = 0 THEN text
       |           ELSE list_reduce(list_prepend(text, valid),
       |                  (acc, c) -> replace(acc, c, '[CC]')) END) AS redacted_md5
       |FROM v
       |ORDER BY doc_id""".stripMargin
  }

  /** SPAN-LEVEL DECONTAMINATION (q164) — the removal half of q133's
    * detection: GPT-3's cleanup EXCISED a window around each benchmark
    * collision rather than dropping whole documents (dropping loses the
    * uncontaminated 99 % of a long doc). Token-level version: every
    * training-doc position whose trigram appears in the eval set is a
    * hit; hits expand to a ±2-token context window (7 tokens per hit,
    * GPT-3 used 200 chars); covered tokens are removed and the survivors
    * re-join into the cleaned text — overlapping windows merge via
    * position-set union, no interval algebra needed. Output per
    * contaminated doc: tokens removed + md5 over every cleaned byte.
    *
    * Scale shape: the eval gram set BROADCASTS (same bound/budget story
    * as q133); the hit fan-out is a CONSTANT 7 rows per collision; all
    * joins are keyed on (doc_id, pos) — high-cardinality, skew-free.
    * Document reassembly (sort_array over collected (pos, tok) structs)
    * runs ONLY for contaminated docs and each buffer is bounded by that
    * doc's own length — row-sized state, the same bound the decode
    * operators live with. Clean docs never leave the anti-join.
    */
  def q164SpanDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val evG = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(graft.expressions.ShingleStrings
        .shingleStrings(col("toks"), 3)).as("ng"))
      .distinct()
    val tr = docs.filter(col("doc_id") % 97 =!= 0)
    val hits = tr
      .select(col("doc_id"), posexplode(graft.expressions.ShingleStrings
        .shingleOccurrences(col("toks"), 3)).as(Seq("pos", "ng")))
      .join(broadcast(evG), "ng")
    val covered = hits
      .select(col("doc_id"),
        explode(expr("sequence(greatest(pos - 2, 0), pos + 4)")).as("pos"))
      .distinct()
    val toksPos = tr.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = toksPos
      .join(covered.select(col("doc_id")).distinct(), "doc_id")
      .join(covered, Seq("doc_id", "pos"), "left_anti")
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        expr("transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)"))
        .as("cleaned"))
    // n_removed counts REAL token positions (context windows may run past
    // the doc end; phantom positions match no token)
    val removed = covered.join(toksPos, Seq("doc_id", "pos"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    removed.join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_removed"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  val q164Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
      |         ELSE toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END AS ng
      |  FROM d, UNNEST(range(1, GREATEST(len(toks) - 1, 2))) AS t(i)),
      |ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0),
      |hits AS (
      |  SELECT DISTINCT g.doc_id, g.pos FROM g JOIN ev USING (ng)
      |  WHERE g.doc_id % 97 <> 0),
      |covered AS (
      |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
      |  FROM hits, UNNEST(range(GREATEST(pos - 2, 0), pos + 5)) AS t(p)),
      |tp AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
      |  FROM d, UNNEST(range(1, len(toks) + 1)) AS t(i)
      |  WHERE doc_id % 97 <> 0),
      |kept AS (
      |  SELECT tp.doc_id, tp.pos, tp.tok
      |  FROM tp
      |  JOIN (SELECT DISTINCT doc_id FROM covered) cd USING (doc_id)
      |  ANTI JOIN covered USING (doc_id, pos)),
      |cleaned AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
      |  FROM kept GROUP BY doc_id),
      |removed AS (
      |  SELECT cv.doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
      |  FROM covered cv JOIN tp USING (doc_id, pos) GROUP BY cv.doc_id)
      |SELECT r.doc_id, r.n_removed,
      |  md5(COALESCE(c.cleaned, '')) AS cleaned_md5
      |FROM removed r LEFT JOIN cleaned c USING (doc_id)
      |ORDER BY r.doc_id""".stripMargin

  /** SUBWORD-LEVEL DECONTAMINATION (q188) — q133's n-gram contamination
    * rule re-based from whitespace tokens onto q137's greedy-BPE subword
    * segmentation ([[graft.expressions.BpeSegment]]). Why it matters: a
    * contaminated rewrite that re-tokenizes the same characters —
    * hyphenation, joined words, punctuation variants of an eval item —
    * shares NO whitespace n-gram with the eval set (every surface token
    * differs), but the subword piece stream realigns INSIDE words, so
    * piece-level n-grams still collide. The query flags training docs by
    * shared subword 6-grams and carries a `word_gram_hit` bit computed
    * under q133's whitespace-trigram rule, so the gap is visible in the
    * output itself.
    *
    * Plant (the proof): every eval doc (doc_id % 97 = 0) containing the
    * token `customer` gets a training-side twin at doc_id + 10⁷ whose text
    * is ALL tokens hyphen-joined into ONE token. One token → its only
    * word-gram is the whole hyphenated string, which no eval doc contains
    * → word grams MISS by construction. But no vocab piece contains `-`,
    * so the munch never crosses a hyphen and the twin's piece stream is
    * p(w₁) ⧺ [-] ⧺ p(w₂) ⧺ …: the pieces of `customer` (c u st o me r —
    * six pieces, one full 6-gram window) survive intact and collide with
    * the original's stream → subword grams CATCH, deterministically.
    * CurationSpec pins both directions.
    *
    * Scale shape: q133's exactly — the eval side BROADCASTS under the
    * same `spark.graft.contamination.broadcastDocLimit` budget (estimated
    * lazily from parquet statistics, no driver job; past the budget the
    * hint drops and the join shuffles on the gram key), the piece explode
    * is a constant ~3× token fan-out inside codegen'd expressions, and
    * both aggregates key on doc_id — high-cardinality, skew-free.
    */
  def q188SubwordDecontaminate(spark: SparkSession, dir: String): DataFrame =
    subwordDecontaminateWith(spark, dir, TextQueries.BpeVocab)

  /** q188's plan parameterized by the subword vocabulary — the driver
    * gate runs it on the shared tiny [[TextQueries.BpeVocab]] (oracle-
    * replayable in SQL); CurationSpec re-runs it on a ~1k-piece vocab
    * trained by q152's merge rule to prove the catch survives at
    * realistic vocab scale.
    */
  private[graft] def subwordDecontaminateWith(
      spark: SparkSession, dir: String, vocab: Seq[String]): DataFrame =
    subwordDecontaminateCore(spark,
      Tables.documents(spark, dir)
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text")),
      vocab)

  /** ...and by the corpus frame itself: the testdata vocabulary is 31
    * distinct words (max 8 chars), so any seriously trained vocab
    * saturates it — every word compresses to one piece and no within-word
    * 6-gram window survives. The realistic-vocab spec therefore brings
    * its own richer synthetic corpus through the SAME plan.
    */
  private[graft] def subwordDecontaminateCore(
      spark: SparkSession, base: DataFrame, vocab: Seq[String]): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val plants = base
      .filter(col("doc_id") % 97 === 0 && array_contains(tk, "customer"))
      .select((col("doc_id") + SimilarityQueries.PlantOffset).as("doc_id"),
        array_join(tk, "-").as("text"))
    val docs = base.unionByName(plants)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        graft.expressions.BpeSegment
          .bpeSegment(col("toks"), vocab).as("ps"))
    val evDocs = docs.filter(col("doc_id") % 97 === 0)
    val trDocs = docs.filter(col("doc_id") % 97 =!= 0)
    // q133's enforced broadcast budget, same conf, same lazy estimate
    val limit = spark.conf
      .getOption("spark.graft.contamination.broadcastDocLimit")
      .map(_.toLong).getOrElse(100000L)
    val bytesPerDoc = spark.conf
      .getOption("spark.graft.contamination.bytesPerDocEstimate")
      .map(_.toLong).getOrElse(4096L)
    val corpusBytes = base.queryExecution.optimizedPlan.stats.sizeInBytes
    val evalDocsEst = (corpusBytes / 97 / bytesPerDoc).max(BigInt(1))
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (evalDocsEst <= BigInt(limit)) broadcast(df) else df
    val evSub = evDocs.select(col("doc_id").as("eval_id"),
      explode(graft.expressions.ShingleStrings.shingleStrings(col("ps"), 6)).as("sg"))
    val subHits = trDocs
      .select(col("doc_id"),
        explode(graft.expressions.ShingleStrings.shingleStrings(col("ps"), 6)).as("sg"))
      .join(maybeBroadcast(evSub), "sg")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sg")).as("n_shared_subword_grams"),
        min(col("eval_id")).as("first_eval_doc"))
    val evWord = evDocs.select(
      explode(graft.expressions.ShingleStrings.shingleStrings(col("toks"), 3)).as("wg"))
      .distinct()
    val wordHits = trDocs
      .select(col("doc_id"),
        explode(graft.expressions.ShingleStrings.shingleStrings(col("toks"), 3)).as("wg"))
      .join(maybeBroadcast(evWord), Seq("wg"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1))
    subHits.join(wordHits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shared_subword_grams"), col("first_eval_doc"),
        coalesce(col("hit"), lit(0)).as("word_gram_hit"))
      .orderBy(col("doc_id"))
  }

  val q188Oracle: String = {
    val vocabRows = TextQueries.BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000000,
       |    array_to_string(regexp_split_to_array(trim(text), '\\s+'), '-')
       |  FROM documents
       |  WHERE doc_id % 97 = 0
       |    AND list_contains(regexp_split_to_array(trim(text), '\\s+'), 'customer')),
       |d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM base),
       |w AS (
       |  SELECT doc_id, u.s['i'] AS i, u.s['w'] AS word
       |  FROM (SELECT doc_id, unnest(list_transform(toks,
       |          (x, i) -> {'w': x, 'i': i})) AS s FROM d) u),
       |vocab(piece) AS (VALUES $vocabRows),
       |seg AS (
       |  SELECT doc_id, i, word, 1 AS pos, 0 AS ord, CAST(NULL AS VARCHAR) AS piece FROM w
       |  UNION ALL
       |  SELECT doc_id, i, word, pos + length(np), ord + 1, np FROM (
       |    SELECT doc_id, i, word, pos, ord,
       |      COALESCE((SELECT piece FROM vocab
       |                WHERE piece = substr(word, pos, length(piece))
       |                ORDER BY length(piece) DESC LIMIT 1),
       |               substr(word, pos, 1)) AS np
       |    FROM seg WHERE pos <= length(word))),
       |ps AS (
       |  SELECT doc_id, list(piece ORDER BY i, ord) AS ps
       |  FROM seg WHERE piece IS NOT NULL GROUP BY doc_id),
       |sg AS (
       |  SELECT DISTINCT doc_id, sg FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(ps) < 6 THEN [array_to_string(ps, ' ')]
       |      ELSE list_transform(range(1, len(ps) - 4),
       |             j -> array_to_string(ps[j:j+5], ' ')) END) AS sg
       |    FROM ps)),
       |evs AS (SELECT DISTINCT doc_id AS eval_id, sg FROM sg WHERE doc_id % 97 = 0),
       |trs AS (SELECT doc_id, sg FROM sg WHERE doc_id % 97 <> 0),
       |subhits AS (
       |  SELECT t.doc_id, CAST(COUNT(DISTINCT t.sg) AS BIGINT) AS n_shared_subword_grams,
       |    MIN(e.eval_id) AS first_eval_doc
       |  FROM trs t JOIN evs e USING (sg) GROUP BY t.doc_id),
       |wg AS (
       |  SELECT DISTINCT doc_id, wg FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(range(1, len(toks) - 1),
       |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS wg
       |    FROM d)),
       |evw AS (SELECT DISTINCT wg FROM wg WHERE doc_id % 97 = 0),
       |wordhit AS (
       |  SELECT DISTINCT w2.doc_id FROM wg w2 JOIN evw USING (wg)
       |  WHERE w2.doc_id % 97 <> 0)
       |SELECT s.doc_id, s.n_shared_subword_grams, s.first_eval_doc,
       |  CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS word_gram_hit
       |FROM subhits s LEFT JOIN wordhit h ON s.doc_id = h.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** DOMAIN-LEVEL CURATION (q191) — the per-domain kill rule every
    * web-corpus pipeline runs (C4/RefinedWeb/FineWeb all gate on
    * registrable domain): extract the host with Spark's BUILT-IN
    * `parse_url` expression (NOT a UDF — q47 stays the deliberate
    * UDF-surface exhibit; PlanSpec asserts this plan is UDF-free), strip
    * the subdomain with a public-suffix-lite rule (www/cdn), roll up
    * per-domain quality from q78's Gopher-style keep flag, and anti-join
    * a blocklist. The corpus carries no URLs, so each doc gets a
    * DETERMINISTIC synthetic URL (subdomain by doc_id % 3, tld by
    * (doc_id div 20) % 2, path + query real) — the parse/strip/rollup/
    * blocklist plumbing is exactly what runs on real crawl URLs.
    *
    * Scale shape: URL synthesis + parse + domain strip are one codegen'd
    * projection over the corpus scan; q78's signals are projection-only
    * on the same rows (doc_id-keyed join, high-cardinality, skew-free);
    * the rollup keys on domain (web corpora: ~10⁷ domains — a healthy
    * shuffle key; a mega-domain is just a big group, no per-row state);
    * the blocklist is a BROADCAST anti-join (blocklists are KBs).
    */
  /** Shared URL-synthesis + `parse_url` host extract + subdomain strip —
    * the q191 projection, reused by q193's incremental form. One codegen'd
    * projection over the corpus scan; no UDF (PlanSpec-asserted on q191).
    */
  private def domainFrame(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"),
      when(col("doc_id") % 3 === 0, lit("www."))
        .when(col("doc_id") % 3 === 1, lit("cdn."))
        .otherwise(lit("")),
      col("source"), lit("."),
      when(expr("(doc_id div 20) % 2") === 0, lit("com"))
        .otherwise(lit("org")),
      lit("/d/"), col("doc_id").cast(StringType), lit("?lang="), col("lang"))
    Tables.documents(spark, dir)
      .withColumn("url", url)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("domain", regexp_replace(col("host"), "^(www|cdn)\\.", ""))
  }

  /** The q191/q193 static blocklist — blocklists are KBs, so both plans
    * take it as a BROADCAST anti-join. */
  private val DomainBlocklist = Seq("src3.org", "src7.org", "src13.com")

  def q191DomainCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withDomain = domainFrame(spark, dir)
    val qual = q78QualityRepetition(spark, dir).select(col("doc_id"), col("keep"))
    val blocklist = DomainBlocklist.toDF("domain")
    withDomain.join(qual, "doc_id")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
        countDistinct(col("lang")).as("n_langs"))
      .join(broadcast(blocklist), Seq("domain"), "left_anti")
      .select(col("domain"), col("n_docs"), col("n_docs_kept"),
        (col("n_docs_kept").cast(DoubleType) / col("n_docs")).as("keep_rate"),
        col("n_langs"))
      .orderBy(col("domain"))
  }

  val q191Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, text, lang, source,
      |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.'
      |                        WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END)
      |      || source || '.'
      |      || (CASE WHEN (doc_id // 20) % 2 = 0 THEN 'com' ELSE 'org' END)
      |      || '/d/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, lang, text,
      |    regexp_replace(regexp_extract(url, '^https?://([^/?#]+)', 1),
      |      '^(www|cdn)\.', '') AS domain
      |  FROM d),
      |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM h),
      |tri AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
      |  FROM t),
      |top AS (
      |  SELECT doc_id, MAX(c) AS max_tok FROM (
      |    SELECT doc_id, tok, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      |    GROUP BY doc_id, tok)
      |  GROUP BY doc_id),
      |qual AS (
      |  SELECT tri.doc_id,
      |    (len(tri.toks) >= 20
      |      AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
      |      AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2) AS keep
      |  FROM tri JOIN top ON tri.doc_id = top.doc_id),
      |agg AS (
      |  SELECT h.domain,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
      |    CAST(COUNT(DISTINCT h.lang) AS BIGINT) AS n_langs
      |  FROM h JOIN qual q ON h.doc_id = q.doc_id
      |  GROUP BY h.domain)
      |SELECT domain, n_docs, n_docs_kept,
      |  CAST(n_docs_kept AS DOUBLE) / n_docs AS keep_rate, n_langs
      |FROM agg
      |WHERE domain NOT IN ('src3.org', 'src7.org', 'src13.com')
      |ORDER BY domain""".stripMargin

  /** INCREMENTAL DOMAIN CURATION (q193) — q191's rollup in the shape a
    * production crawl pipeline actually runs it: per-domain reputation is
    * a PERSISTED index maintained across batches, and each new batch is
    * curated against yesterday's verdicts without rescanning yesterday's
    * documents. Batch b−1 (the doc_id-parity stand-in for "yesterday")
    * writes its per-(domain, lang) keep stats to parquet once (q120's
    * persisted-index discipline, session-marker-gated); batch b then
    *   1. derives yesterday's KILL SET from the index alone — domains
    *      with ≥ 3 observed docs whose keep rate sits strictly BELOW
    *      yesterday's corpus-wide keep rate, compared cross-multiplied
    *      in integers (d_kept·t_docs < t_kept·d_docs — no float
    *      boundary), so the rule is support-gated and self-calibrating
    *      rather than a magic constant;
    *   2. computes ITS OWN (domain, lang) grain only — the batch scan is
    *      O(batch), never O(corpus);
    *   3. anti-joins the kill set and the static blocklist (both
    *      broadcast — KB-scale), and
    *   4. merges index ∪ delta by state algebra (counts add; n_langs is
    *      COUNT(DISTINCT lang) over the union of grain rows — the
    *      (domain, lang) grain is exactly what makes the distinct
    *      mergeable, q171's discipline).
    * The oracle is a FULL from-scratch replay over the whole corpus —
    * index ∪ delta must equal the full recompute or the hash gate breaks
    * (q150's posture, applied to curation).
    *
    * Scale shape: one corpus-batch scan + the index read; grain rollups
    * key on (domain, lang) (~10⁷·5 keys on real crawls — healthy); kill
    * set and blocklist are broadcast anti-joins; the only wide exchange
    * is the domain-keyed merge. CurationSpec pins that the executed plan
    * reads the persisted index file rather than re-deriving yesterday.
    */
  def q193IncrementalDomainCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qual = q78QualityRepetition(spark, dir).select(col("doc_id"), col("keep"))
    val graded = domainFrame(spark, dir)
      .select(col("doc_id"), col("lang"), col("domain"))
      .join(qual, "doc_id")
    def grain(df: DataFrame): DataFrame = df
      .groupBy(col("domain"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
    val idxDir = graft.util.Staging.dir("graft_domain_stats_idx", dir).toString
    val marker = "spark.graft.layout.domain_stats_idx"
    if (!spark.conf.getOption(marker).contains(dir)) {
      grain(graded.filter(col("doc_id") % 2 === 0))
        .write.mode("overwrite").parquet(idxDir)
      spark.conf.set(marker, dir)
    }
    val index = spark.read.parquet(idxDir)
    val idxDom = index.groupBy(col("domain"))
      .agg(sum(col("n_docs")).as("d_docs"), sum(col("n_kept")).as("d_kept"))
    val tot = idxDom.agg(sum(col("d_docs")).as("t_docs"),
      sum(col("d_kept")).as("t_kept"))
    val killed = idxDom.crossJoin(broadcast(tot))
      .filter(col("d_docs") >= 3 &&
        col("d_kept") * col("t_docs") < col("t_kept") * col("d_docs"))
      .select(col("domain"))
    val delta = grain(graded.filter(col("doc_id") % 2 === 1))
    index.unionByName(delta)
      .join(broadcast(killed), Seq("domain"), "left_anti")
      .join(broadcast(DomainBlocklist.toDF("domain")), Seq("domain"), "left_anti")
      .groupBy(col("domain"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_kept")).as("n_docs_kept"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("domain"), col("n_docs"), col("n_docs_kept"),
        (col("n_docs_kept").cast(DoubleType) / col("n_docs")).as("keep_rate"),
        col("n_langs"))
      .orderBy(col("domain"))
  }

  val q193Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, text, lang, source,
      |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.'
      |                        WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END)
      |      || source || '.'
      |      || (CASE WHEN (doc_id // 20) % 2 = 0 THEN 'com' ELSE 'org' END)
      |      || '/d/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, lang, text,
      |    regexp_replace(regexp_extract(url, '^https?://([^/?#]+)', 1),
      |      '^(www|cdn)\.', '') AS domain
      |  FROM d),
      |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM h),
      |tri AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
      |  FROM t),
      |top AS (
      |  SELECT doc_id, MAX(c) AS max_tok FROM (
      |    SELECT doc_id, tok, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      |    GROUP BY doc_id, tok)
      |  GROUP BY doc_id),
      |qual AS (
      |  SELECT tri.doc_id,
      |    (len(tri.toks) >= 20
      |      AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
      |      AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2) AS keep
      |  FROM tri JOIN top ON tri.doc_id = top.doc_id),
      |g AS (
      |  SELECT h.domain, h.lang, h.doc_id,
      |    CASE WHEN q.keep THEN 1 ELSE 0 END AS k
      |  FROM h JOIN qual q ON h.doc_id = q.doc_id),
      |idx AS (
      |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS d_docs,
      |    CAST(SUM(k) AS BIGINT) AS d_kept
      |  FROM g WHERE doc_id % 2 = 0 GROUP BY domain),
      |tot AS (SELECT SUM(d_docs) AS t_docs, SUM(d_kept) AS t_kept FROM idx),
      |killed AS (
      |  SELECT domain FROM idx, tot
      |  WHERE d_docs >= 3 AND d_kept * t_docs < t_kept * d_docs),
      |agg AS (
      |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(k) AS BIGINT) AS n_docs_kept,
      |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      |  FROM g GROUP BY domain)
      |SELECT domain, n_docs, n_docs_kept,
      |  CAST(n_docs_kept AS DOUBLE) / n_docs AS keep_rate, n_langs
      |FROM agg
      |WHERE domain NOT IN (SELECT domain FROM killed)
      |  AND domain NOT IN ('src3.org', 'src7.org', 'src13.com')
      |ORDER BY domain""".stripMargin

  /** URL CANONICALIZATION + DEDUP (q197) — the crawl-frontier dedup rule
    * that runs BEFORE any content fetch: the same page arrives under
    * case-shifted hosts, www/cdn mirrors, trailing-slash variants,
    * shuffled query-parameter order, tracking parameters
    * (utm_ prefixes, sessionid, fbclid) and fragments — canonicalize
    * (lowercase host, strip mirror subdomain, strip trailing slash,
    * drop tracking params, SORT surviving params, drop fragment) and
    * keep one doc per canonical URL. Synthetic URLs pair every doc with
    * its id-neighbor (2k, 2k+1) pointing at the SAME page through
    * DIFFERENT raw forms — upper vs lower host case, %4 trailing slash,
    * opposite param order, a per-doc sessionid + different tracking
    * params on each side, %6 fragment — so the corpus collapses exactly
    * 2-to-1 (500 → 250 canonicals, every one with n_docs = 2). Each
    * normalization is load-bearing: miss one and specific pairs stop
    * collapsing — counts and the hash change.
    *
    * Scale shape: canonicalization is one codegen'd projection
    * (parse_url + higher-order filter/sort — no UDF, q191's posture);
    * dedup is a canonical-URL-keyed aggregate — the highest-cardinality
    * key a crawl has, skew-free. A frontier of 10¹¹ URLs shuffles once.
    */
  def q197UrlCanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    // pair key: docs 2k and 2k+1 share page (host, path) but differ in
    // every raw-form dimension the canonicalizer must erase
    val raw = concat(lit("https://"),
      when(col("doc_id") % 4 < 2,
        when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("www.")))
        .otherwise(
          when(col("doc_id") % 2 === 0, lit("CDN.")).otherwise(lit("cdn."))),
      lit("site"), expr("CAST((doc_id div 2) % 50 AS STRING)"), lit("."),
      when(expr("(doc_id div 20) % 2") === 0, lit("com")).otherwise(lit("org")),
      lit("/d/"), expr("CAST(doc_id div 2 AS STRING)"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      lit("?"),
      when(col("doc_id") % 2 === 0,
        concat(lit("v=1&ref=home&utm_source=feed&sessionid="),
          col("doc_id").cast(StringType)))
        .otherwise(lit("ref=home&utm_campaign=x&v=1")),
      when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit("")))
    Tables.documents(spark, dir)
      .withColumn("url", raw)
      .withColumn("host", regexp_replace(
        lower(parse_url(col("url"), lit("HOST"))), "^(www|cdn)\\.", ""))
      .withColumn("path", regexp_replace(
        parse_url(col("url"), lit("PATH")), "/$", ""))
      .withColumn("ps", array_sort(expr(
        "filter(split(parse_url(url, 'QUERY'), '&'), p -> NOT (" +
          "startswith(p, 'utm_') OR startswith(p, 'sessionid=')" +
          " OR startswith(p, 'fbclid=')))")))
      .withColumn("canonical_url", concat(col("host"), col("path"),
        when(size(col("ps")) === 0, lit(""))
          .otherwise(concat(lit("?"), array_join(col("ps"), "&")))))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_url_variants"),
        min(col("doc_id")).as("kept_id"))
      .orderBy(col("canonical_url"))
  }

  val q197Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    'https://' || (CASE WHEN doc_id % 4 < 2
      |                   THEN (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END)
      |                   ELSE (CASE WHEN doc_id % 2 = 0 THEN 'CDN.' ELSE 'cdn.' END) END)
      |      || 'site' || CAST((doc_id // 2) % 50 AS VARCHAR) || '.'
      |      || (CASE WHEN (doc_id // 20) % 2 = 0 THEN 'com' ELSE 'org' END)
      |      || '/d/' || CAST(doc_id // 2 AS VARCHAR)
      |      || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      |      || '?'
      |      || (CASE WHEN doc_id % 2 = 0
      |            THEN 'v=1&ref=home&utm_source=feed&sessionid='
      |                 || CAST(doc_id AS VARCHAR)
      |            ELSE 'ref=home&utm_campaign=x&v=1' END)
      |      || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    regexp_replace(lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
      |      '^(www|cdn)\.', '') AS host,
      |    regexp_replace(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
      |      '/$', '') AS path,
      |    list_sort(list_filter(
      |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'sessionid=')
      |                OR starts_with(p, 'fbclid=')))) AS ps
      |  FROM d),
      |k AS (
      |  SELECT doc_id, url,
      |    host || path || (CASE WHEN len(ps) = 0 THEN ''
      |                     ELSE '?' || array_to_string(ps, '&') END)
      |      AS canonical_url
      |  FROM c)
      |SELECT canonical_url,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_url_variants,
      |  MIN(doc_id) AS kept_id
      |FROM k GROUP BY canonical_url
      |ORDER BY canonical_url""".stripMargin

  /** TOKEN-BUDGET MIXTURE PLANNING (q194) — the data-recipe sheet every
    * pre-training run starts from (the LLaMA/Gopher mixture-table shape):
    * given a global token budget B (`spark.graft.mixture.tokenBudget`,
    * default 10⁷ — the driver gate replays the default), allocate tokens
    * to sources by their QUALITY-weighted share (kept docs per q78's
    * Gopher gate, not raw bytes — allocating by size would just reward
    * verbosity) and report, per source, the repetition factor the
    * allocation implies: epochs_ppm = allocated tokens ÷ the source's
    * kept subword supply, in exact ppm. epochs_ppm > 10⁶ means the
    * source must repeat (upsample); < 10⁶ means downsample. Token supply
    * is the REAL tokenizer budget (codegen'd [[graft.expressions
    * .BpeTokenCount]], q137's counter), not whitespace counts.
    *
    * All arithmetic is integral and promoted to DECIMAL(38,0)/HUGEINT
    * before the ppm/budget products (kept_subwords·10⁶ wraps BIGINT at
    * ~9·10¹² tokens — real corpora sit above that), with explicit NULL
    * on a zero-supply source rather than a silent divide.
    *
    * Scale shape: one corpus scan (token counting is a projection), a
    * doc_id-keyed quality join, a source-keyed aggregate (~10²–10⁴
    * sources — healthy), and a 1-row broadcast total. The recipe frame
    * is source-cardinality — tiny.
    */
  def q194TokenBudgetMixture(spark: SparkSession, dir: String): DataFrame =
    mixturePlan(spark, dir).orderBy(col("source"))

  /** Per-source BPE-subword + keep-label rollup — the frame q194's
    * proportional plan, q198's materialization and q365's temperature
    * plan all start from: (source, n_docs, n_kept, source_subwords,
    * kept_subwords). */
  private[queries] def perSourceSubwords(
      spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        graft.expressions.BpeTokenCount.bpeTokenCount(
          TextFunctions.tokens(col("text")), TextQueries.BpeVocab).as("nsw"))
    val qual = q78QualityRepetition(spark, dir).select(col("doc_id"), col("keep"))
    toks.join(qual, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("nsw")).as("source_subwords"),
        sum(when(col("keep"), col("nsw")).otherwise(0L)).as("kept_subwords"))
  }

  /** The per-source recipe frame behind q194 (reported directly) and
    * q198 (which MATERIALIZES the plan into per-doc copy counts). */
  private def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val budget = spark.conf.getOption("spark.graft.mixture.tokenBudget")
      .map(_.toLong).getOrElse(MixtureTokenBudget)
    val per = perSourceSubwords(spark, dir)
    val tot = per.agg(sum(col("n_kept")).as("total_kept_docs"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("source_subwords"), col("kept_subwords"),
        expr("CAST(CAST(n_kept AS DECIMAL(38,0)) * 1000000" +
          " div total_kept_docs AS BIGINT)").as("share_ppm"),
        expr(s"CAST(CAST(n_kept AS DECIMAL(38,0)) * $budget" +
          " div total_kept_docs AS BIGINT)").as("tokens_alloc"))
      .withColumn("epochs_ppm",
        expr("CASE WHEN kept_subwords = 0 THEN NULL ELSE " +
          "CAST(CAST(tokens_alloc AS DECIMAL(38,0)) * 1000000" +
          " div kept_subwords AS BIGINT) END"))
  }

  /** UPSAMPLE MATERIALIZATION (q198) — q194's recipe turned into the
    * executable sampling plan: every KEPT document gets a deterministic
    * copy count n_copies = ⌊epochs_ppm/10⁶⌋ + one fractional copy decided
    * by its md5 (prefix32 < frac_ppm·2³²/10⁶ — q134's exact integer
    * threshold recipe, DECIMAL-promoted). Repetition is thereby a pure
    * function of (doc, recipe): re-runs, retries and re-orders produce
    * the same epoch plan, and E[Σ copies·tokens] = the source's token
    * allocation. The gated output is the per-source audit — doc volume
    * before/after, realized tokens, and realized-vs-target in exact ppm
    * (the fractional-sampling error a trainer actually tolerates).
    *
    * Scale shape: the recipe frame is source-cardinality and broadcasts
    * back onto one corpus scan; copy decisions are a codegen'd md5
    * projection; the audit re-aggregates by source. Materializing the
    * physical copies downstream is `explode(sequence(1, n_copies))` —
    * deliberately NOT done here: the plan, not 1.7× the corpus, is the
    * artifact worth gating.
    */
  def q198UpsampleMaterialize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        graft.expressions.BpeTokenCount.bpeTokenCount(
          TextFunctions.tokens(col("text")), TextQueries.BpeVocab).as("nsw"))
      .join(q78QualityRepetition(spark, dir).select(col("doc_id"), col("keep")),
        "doc_id")
      .filter(col("keep"))
    val plan = mixturePlan(spark, dir)
      .select(col("source"), col("kept_subwords"), col("tokens_alloc"),
        col("epochs_ppm"))
    docs.join(broadcast(plan), "source")
      .withColumn("base_copies", expr("epochs_ppm div 1000000"))
      .withColumn("frac_ppm", expr("epochs_ppm % 1000000"))
      .withColumn("p32", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("n_copies", expr("base_copies + (CASE WHEN " +
        "CAST(p32 AS DECIMAL(38,0)) * 1000000 < " +
        "CAST(frac_ppm AS DECIMAL(38,0)) * 4294967296 THEN 1 ELSE 0 END)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_copies")).as("n_doc_copies"),
        sum(col("nsw") * col("n_copies")).as("realized_tokens"))
      .join(broadcast(plan), "source")
      .select(col("source"), col("n_docs_kept"), col("n_doc_copies"),
        col("realized_tokens"), col("tokens_alloc"),
        expr("CASE WHEN tokens_alloc = 0 THEN NULL ELSE " +
          "CAST(CAST(realized_tokens AS DECIMAL(38,0)) * 1000000" +
          " div tokens_alloc AS BIGINT) END").as("realized_vs_target_ppm"))
      .orderBy(col("source"))
  }

  val q198Oracle: String = {
    val vocabRows = TextQueries.BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, u.s['i'] AS i, u.s['w'] AS word
       |  FROM (SELECT doc_id, unnest(list_transform(toks,
       |          (x, i) -> {'w': x, 'i': i})) AS s FROM d) u),
       |vocab(piece) AS (VALUES $vocabRows),
       |seg AS (
       |  SELECT doc_id, i, word, 1 AS pos, 0 AS ntok FROM w
       |  UNION ALL
       |  SELECT doc_id, i, word,
       |    pos + COALESCE((SELECT MAX(length(piece)) FROM vocab
       |                    WHERE piece = substr(word, pos, length(piece))), 1),
       |    ntok + 1
       |  FROM seg WHERE pos <= length(word)),
       |counts AS (
       |  SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS nsw
       |  FROM seg WHERE pos = length(word) + 1 GROUP BY doc_id),
       |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |      FROM documents),
       |tri AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
       |  FROM t),
       |top AS (
       |  SELECT doc_id, MAX(c) AS max_tok FROM (
       |    SELECT doc_id, tok, COUNT(*) AS c
       |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
       |    GROUP BY doc_id, tok)
       |  GROUP BY doc_id),
       |qual AS (
       |  SELECT tri.doc_id,
       |    (len(tri.toks) >= 20
       |      AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
       |      AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2) AS keep
       |  FROM tri JOIN top ON tri.doc_id = top.doc_id),
       |per AS (
       |  SELECT d.source,
       |    CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(SUM(CASE WHEN q.keep THEN c.nsw ELSE 0 END) AS BIGINT)
       |      AS kept_subwords
       |  FROM d JOIN counts c USING (doc_id) JOIN qual q USING (doc_id)
       |  GROUP BY d.source),
       |tot AS (SELECT SUM(n_kept) AS total_kept_docs FROM per),
       |plan AS (
       |  SELECT source, kept_subwords,
       |    CAST(CAST(n_kept AS HUGEINT) * $MixtureTokenBudget // total_kept_docs AS BIGINT)
       |      AS tokens_alloc,
       |    CASE WHEN kept_subwords = 0 THEN NULL ELSE
       |      CAST((CAST(n_kept AS HUGEINT) * $MixtureTokenBudget // total_kept_docs)
       |        * 1000000 // kept_subwords AS BIGINT) END AS epochs_ppm
       |  FROM per, tot),
       |dk AS (
       |  SELECT d.source, d.doc_id, c.nsw, p.tokens_alloc, p.epochs_ppm,
       |    p.epochs_ppm // 1000000 AS base_copies,
       |    p.epochs_ppm % 1000000 AS frac_ppm,
       |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      AS p32
       |  FROM d JOIN counts c USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN plan p ON p.source = d.source
       |  WHERE q.keep),
       |cp AS (
       |  SELECT source, doc_id, nsw, tokens_alloc,
       |    base_copies + (CASE WHEN CAST(p32 AS HUGEINT) * 1000000 <
       |      CAST(frac_ppm AS HUGEINT) * 4294967296 THEN 1 ELSE 0 END)
       |      AS n_copies
       |  FROM dk)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       |  CAST(SUM(n_copies) AS BIGINT) AS n_doc_copies,
       |  CAST(SUM(nsw * n_copies) AS BIGINT) AS realized_tokens,
       |  tokens_alloc,
       |  CASE WHEN tokens_alloc = 0 THEN NULL ELSE
       |    CAST(CAST(SUM(nsw * n_copies) AS HUGEINT) * 1000000
       |      // tokens_alloc AS BIGINT) END AS realized_vs_target_ppm
       |FROM cp GROUP BY source, tokens_alloc
       |ORDER BY source""".stripMargin
  }

  /** Shared oracle CTE chain (caller must open with `WITH RECURSIVE`):
    * BPE subword counts + q78 keep labels rolled up per source, ending in
    * `per(source, n_docs, n_kept, source_subwords, kept_subwords)` — the
    * SQL twin of [[perSourceSubwords]], used by q194 and q365. */
  private[queries] val perSourceSubwordCtes: String = {
    val vocabRows = TextQueries.BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""d AS (
       |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, u.s['i'] AS i, u.s['w'] AS word
       |  FROM (SELECT doc_id, unnest(list_transform(toks,
       |          (x, i) -> {'w': x, 'i': i})) AS s FROM d) u),
       |vocab(piece) AS (VALUES $vocabRows),
       |seg AS (
       |  SELECT doc_id, i, word, 1 AS pos, 0 AS ntok FROM w
       |  UNION ALL
       |  SELECT doc_id, i, word,
       |    pos + COALESCE((SELECT MAX(length(piece)) FROM vocab
       |                    WHERE piece = substr(word, pos, length(piece))), 1),
       |    ntok + 1
       |  FROM seg WHERE pos <= length(word)),
       |counts AS (
       |  SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS nsw
       |  FROM seg WHERE pos = length(word) + 1 GROUP BY doc_id),
       |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |      FROM documents),
       |tri AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
       |  FROM t),
       |top AS (
       |  SELECT doc_id, MAX(c) AS max_tok FROM (
       |    SELECT doc_id, tok, COUNT(*) AS c
       |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
       |    GROUP BY doc_id, tok)
       |  GROUP BY doc_id),
       |qual AS (
       |  SELECT tri.doc_id,
       |    (len(tri.toks) >= 20
       |      AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
       |      AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2) AS keep
       |  FROM tri JOIN top ON tri.doc_id = top.doc_id),
       |per AS (
       |  SELECT d.source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(SUM(c.nsw) AS BIGINT) AS source_subwords,
       |    CAST(SUM(CASE WHEN q.keep THEN c.nsw ELSE 0 END) AS BIGINT)
       |      AS kept_subwords
       |  FROM d JOIN counts c USING (doc_id) JOIN qual q USING (doc_id)
       |  GROUP BY d.source)""".stripMargin
  }

  val q194Oracle: String =
    s"""WITH RECURSIVE $perSourceSubwordCtes,
       |tot AS (SELECT SUM(n_kept) AS total_kept_docs FROM per)
       |SELECT source, n_docs, n_kept, source_subwords, kept_subwords,
       |  CAST(CAST(n_kept AS HUGEINT) * 1000000 // total_kept_docs AS BIGINT)
       |    AS share_ppm,
       |  CAST(CAST(n_kept AS HUGEINT) * $MixtureTokenBudget // total_kept_docs AS BIGINT)
       |    AS tokens_alloc,
       |  CASE WHEN kept_subwords = 0 THEN NULL ELSE
       |    CAST((CAST(n_kept AS HUGEINT) * $MixtureTokenBudget // total_kept_docs)
       |      * 1000000 // kept_subwords AS BIGINT) END AS epochs_ppm
       |FROM per, tot
       |ORDER BY source""".stripMargin

  /** DUPLICATE-CHUNK FRACTION (q199) — the Gopher duplicate-line rule,
    * distinct from q78's OVERLAPPING-n-gram repetition ratio: the text is
    * cut into NON-overlapping 10-token chunks (the line/paragraph proxy
    * for a corpus without line breaks; a short doc is one whole-text
    * chunk) and the metric is the fraction of chunk INSTANCES whose
    * content occurs more than once in the same document — exactly the
    * "duplicate line fraction" a looping generator or boilerplate-stuffed
    * page fails. Reported per doc in exact ppm with the distinct-repeated
    * inventory alongside.
    *
    * Scale shape: chunking is a codegen'd projection; the instance count
    * rides one (doc_id, chunk)-keyed aggregate (high-cardinality,
    * map-side combined) re-aggregated to doc_id — the q161 gram-index
    * posture applied within documents. No joins beyond the two-level
    * aggregate.
    */
  def q199DuplicateChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, CAST((size(toks) - 1) div 10 AS INT)), " +
          "i -> array_join(slice(toks, i * 10 + 1, 10), ' '))")).as("chunk"))
    chunks
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chunks"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_instances"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_repeated_distinct"))
      .select(col("doc_id"), col("n_chunks"), col("dup_instances"),
        expr("CAST(CAST(dup_instances AS DECIMAL(38,0)) * 1000000" +
          " div n_chunks AS BIGINT)").as("dup_ppm"),
        col("n_repeated_distinct"))
      .orderBy(col("doc_id"))
  }

  val q199Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |ch AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, ((len(toks) - 1) // 10) + 1),
      |    i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))) AS chunk
      |  FROM d),
      |cc AS (
      |  SELECT doc_id, chunk, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM ch GROUP BY doc_id, chunk)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_instances,
      |  CAST(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS HUGEINT) * 1000000
      |    // SUM(c) AS BIGINT) AS dup_ppm,
      |  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repeated_distinct
      |FROM cc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** END-TO-END CURATION PIPELINE verdict (q168) — the capstone
    * composition: every document gets ONE verdict by applying the
    * suite's curation rules in the order a production pre-training
    * pipeline does (first matching rule wins):
    *   1. `holdout`       — the doc_id % 97 eval slice (never trained on)
    *   2. `substring_dup` — shares an exact 50-token gram with an
    *                        earlier doc (q161's rule)
    *   3. `contaminated`  — shares a trigram with the held-out eval set
    *                        (q133's rule)
    *   4. `low_quality`   — fails the Gopher repetition gate (q78's rule)
    *   5. `keep`
    * Built by COMPOSING the existing query DataFrames — the same lazy
    * composition contract the EtlPipeline tier proves, here at query
    * level: each rule's own gate proves its semantics and scale shape;
    * composition adds only doc_id-keyed left joins (high-cardinality,
    * skew-free) and a codegen'd CASE projection. One frame in, one
    * labeled frame out — what a dataset builder actually ships.
    */
  def q168CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val sub = SimilarityQueries.q161ExactSubstringDedup(spark, dir)
      .select(col("doc_id"), lit(true).as("sub_dup"))
    val cont = q133ContaminationCheck(spark, dir)
      .select(col("doc_id"), lit(true).as("contam"))
    val qual = q78QualityRepetition(spark, dir)
      .select(col("doc_id"), col("keep"))
    docs
      .join(sub, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(qual, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 97 === 0, "holdout")
          .when(col("sub_dup"), "substring_dup")
          .when(col("contam"), "contaminated")
          .when(!col("keep"), "low_quality")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }

  val q168Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |g50 AS (
      |  SELECT doc_id, md5(gram) AS gh FROM (
      |    SELECT doc_id, unnest(list_distinct(
      |      CASE WHEN len(toks) < 50 THEN [array_to_string(toks, ' ')]
      |           ELSE list_transform(range(1, len(toks) - 48),
      |                  i -> array_to_string(toks[i:i+49], ' ')) END)) AS gram
      |    FROM d)),
      |sub AS (
      |  SELECT DISTINCT g.doc_id
      |  FROM g50 g JOIN (SELECT gh, MIN(doc_id) AS fd FROM g50 GROUP BY gh) f
      |    USING (gh)
      |  WHERE g.doc_id > f.fd),
      |g3 AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS ng
      |  FROM d),
      |ev AS (SELECT DISTINCT ng FROM g3 WHERE doc_id % 97 = 0),
      |cont AS (
      |  SELECT DISTINCT doc_id FROM g3 JOIN ev USING (ng)
      |  WHERE doc_id % 97 <> 0),
      |tri AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
      |  FROM d),
      |top AS (
      |  SELECT doc_id, MAX(c) AS max_tok FROM (
      |    SELECT doc_id, tok, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
      |    GROUP BY doc_id, tok)
      |  GROUP BY doc_id),
      |qual AS (
      |  SELECT tri.doc_id,
      |    (len(tri.toks) >= 20
      |      AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
      |      AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2) AS keep
      |  FROM tri JOIN top ON tri.doc_id = top.doc_id)
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id % 97 = 0 THEN 'holdout'
      |       WHEN sub.doc_id IS NOT NULL THEN 'substring_dup'
      |       WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
      |       WHEN NOT qual.keep THEN 'low_quality'
      |       ELSE 'keep' END AS verdict
      |FROM d
      |LEFT JOIN sub ON sub.doc_id = d.doc_id
      |LEFT JOIN cont ON cont.doc_id = d.doc_id
      |LEFT JOIN qual ON qual.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** HTML MAIN-CONTENT EXTRACTION (q212) — the step every web corpus runs
    * FIRST (C4/RefinedWeb/FineWeb all start from WARC HTML, not clean
    * text): strip markup and keep only content blocks, dropping nav bars,
    * footers and link farms by the jusText/trafilatura rule — a block
    * whose visible text is mostly ANCHOR text (link density) or too short
    * is boilerplate. The corpus carries no HTML, so each doc is first
    * rendered into a deterministic page (nav block, `<p>` content blocks
    * of 12 tokens — every third with an inline "read more" link — and a
    * footer; the same synthesis-for-plumbing discipline as q191's URLs);
    * the EXTRACTOR then works only on the page string: split into blocks,
    * tag-strip to visible text, per-block link chars from
    * `<a …>text</a>` captures, and the keep rule
    * `words ≥ 5 AND link_ppm ≤ 340000` (ppm integer math — no float
    * thresholds). Output certifies the extraction byte-for-byte: per doc
    * the block counts and the md5 of the extracted text.
    *
    * Scale shape: PROJECTION-ONLY — synthesis, tag-strip, link-density
    * and the keep-filter are one chain of codegen'd higher-order
    * functions (transform/filter/aggregate) over the scan; no explode, no
    * join, no shuffle but the output sort. At 100 TB this is exactly the
    * per-record map a WARC→text pass is: embarrassingly parallel,
    * zero-exchange.
    */
  def q212HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val nav = "<div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">" +
      "About</a> <a href=\"/contact\">Contact</a></div>"
    val foot = "<div id=\"foot\">(c) 2026 <a href=\"/terms\">Terms</a> " +
      "<a href=\"/privacy\">Privacy</a></div>"
    Tables.documents(spark, dir)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      // render the synthetic page: nav + 12-token <p> blocks + footer
      .withColumn("blocks", concat(
        array(lit(nav)),
        expr("transform(sequence(0, CAST(ceil(size(toks) / 12.0) AS INT) - 1), " +
          "i -> concat('<p>', array_join(slice(toks, i * 12 + 1, 12), ' '), " +
          "CASE WHEN i % 3 = 0 THEN ' <a href=\"/more\">read more</a>' " +
          "ELSE '' END, '</p>'))"),
        array(lit(foot))))
      .withColumn("html", array_join(col("blocks"), "\n"))
      // extractor: works on the page string only, synthesis forgotten
      .withColumn("bs", expr(
        "transform(split(html, '\n'), b -> named_struct(" +
          "'vis', trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' '), " +
          "'\\\\s+', ' ')), " +
          "'lc', aggregate(regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1), " +
          "0L, (a, s) -> a + length(s))))"))
      .withColumn("es", expr(
        "transform(bs, s -> named_struct(" +
          "'vis', s.vis, " +
          "'nw', CASE WHEN s.vis = '' THEN 0 ELSE size(split(s.vis, ' ')) END, " +
          "'lppm', CAST(s.lc * 1000000 div greatest(length(s.vis), 1) AS BIGINT)))"))
      .withColumn("kept", expr("filter(es, s -> s.nw >= 5 AND s.lppm <= 340000)"))
      .select(col("doc_id"),
        size(col("es")).cast(LongType).as("n_blocks"),
        size(col("kept")).cast(LongType).as("n_kept_blocks"),
        expr("CAST(aggregate(kept, 0L, (a, s) -> a + s.nw) AS BIGINT)")
          .as("n_words_kept"),
        expr("md5(array_join(transform(kept, s -> s.vis), ' '))")
          .as("extracted_md5"))
      .orderBy(col("doc_id"))
  }

  val q212Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |blk AS (
      |  SELECT doc_id,
      |    list_concat(list_concat(
      |      ['<div id="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div>'],
      |      list_transform(range(0, CAST(ceil(len(toks) / 12.0) AS INT)),
      |        i -> '<p>' || array_to_string(toks[i*12+1 : i*12+12], ' ')
      |          || (CASE WHEN i % 3 = 0 THEN ' <a href="/more">read more</a>' ELSE '' END)
      |          || '</p>')),
      |      ['<div id="foot">(c) 2026 <a href="/terms">Terms</a> <a href="/privacy">Privacy</a></div>']) AS blocks
      |  FROM d),
      |page AS (SELECT doc_id, array_to_string(blocks, chr(10)) AS html FROM blk),
      |x AS (
      |  SELECT doc_id,
      |    list_transform(string_split(html, chr(10)), b -> struct_pack(
      |      vis := trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
      |      lc  := CAST(coalesce(list_sum(list_transform(
      |               regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1), s -> length(s))), 0) AS BIGINT)
      |    )) AS bs
      |  FROM page),
      |y AS (
      |  SELECT doc_id,
      |    list_transform(bs, s -> struct_pack(
      |      vis := s.vis,
      |      nw  := CASE WHEN s.vis = '' THEN 0 ELSE len(string_split(s.vis, ' ')) END,
      |      lppm := CAST(s.lc * 1000000 // greatest(length(s.vis), 1) AS BIGINT)
      |    )) AS es
      |  FROM x),
      |k AS (
      |  SELECT doc_id, len(es) AS n_blocks,
      |    list_filter(es, s -> s.nw >= 5 AND s.lppm <= 340000) AS kept
      |  FROM y)
      |SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(len(kept) AS BIGINT) AS n_kept_blocks,
      |  CAST(coalesce(list_sum(list_transform(kept, s -> s.nw)), 0) AS BIGINT) AS n_words_kept,
      |  md5(array_to_string(list_transform(kept, s -> s.vis), ' ')) AS extracted_md5
      |FROM k ORDER BY doc_id""".stripMargin

  /** PER-LANGUAGE QUALITY BUCKETS (q218) — the CCNet partition: within
    * EACH language, rank documents by classifier score (q136's integer
    * score_sum; ties broken by doc_id) and cut into equal-depth
    * head/middle/tail thirds (q149's exact rule, bucket = (rank−1)·3 div
    * n_lang). A global cutoff would let a high-resource language's score
    * distribution set the bar for every other language — per-language
    * percentile buckets are how multilingual corpora keep their tails
    * comparable. Output is the per-(lang, tier) summary: count and the
    * score span each tier occupies.
    *
    * Scale shape: the within-language rank is the distributed prefix-sum
    * scaffold (range exchange per lang — no one-partition window); the
    * per-language totals broadcast back; everything after is a ≤ 3·|lang|
    * row aggregate.
    */
  def q218LangQualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val scored = q136QualityClassifier(spark, dir)
      .select(col("doc_id"), col("score_sum"))
    val j = docs.join(scored, "doc_id").withColumn("one", lit(1L))
    val ranked = graft.functions.PrefixSum.runningTotal(
      j, Seq("lang"), Seq(col("score_sum").desc, col("doc_id").asc), "one", "rk")
    val nLang = j.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    ranked.join(broadcast(nLang), "lang")
      .withColumn("bucket", expr("((rk - 1) * 3) div n_lang"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("score_sum")).as("best_score"),
        min(col("score_sum")).as("worst_score"))
      .select(col("lang"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          col("bucket").cast("int") + 1).as("tier"),
        col("n_docs"), col("best_score"), col("worst_score"))
      .orderBy(col("lang"), col("tier"))
  }

  val q218Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, unnest(toks) AS f FROM d
      |  UNION ALL
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1])) AS f
      |  FROM d),
      |s AS (
      |  SELECT doc_id, CAST(SUM(
      |    ((CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024)
      |       * 2654435761 + 12345) % 201 - 100) AS BIGINT) AS score_sum
      |  FROM feats GROUP BY doc_id),
      |r AS (
      |  SELECT d.lang, s.doc_id, s.score_sum,
      |    row_number() OVER (PARTITION BY d.lang
      |      ORDER BY s.score_sum DESC, s.doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY d.lang) AS n_lang
      |  FROM d JOIN s USING (doc_id))
      |SELECT lang,
      |  CASE ((rk - 1) * 3) // n_lang WHEN 0 THEN 'head'
      |       WHEN 1 THEN 'middle' ELSE 'tail' END AS tier,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MAX(score_sum) AS BIGINT) AS best_score,
      |  CAST(MIN(score_sum) AS BIGINT) AS worst_score
      |FROM r
      |GROUP BY lang, ((rk - 1) * 3) // n_lang
      |ORDER BY lang, tier""".stripMargin

  /** Policy rules for q225 — (rule_id, pattern). Patterns stay inside the
    * regex subset whose semantics are identical in Java's engine (Spark)
    * and RE2 (DuckDB): literals, alternation, word boundaries, bounded
    * repetition. A production deployment loads this table from a
    * governance store; the shape — data-driven predicates, not
    * code-driven — is the point.
    */
  val PolicyRules: Seq[(String, String)] = Seq(
    "r1_plant_marker"  -> "zz9end",
    "r2_slow_pair"     -> "slow (part|join) slow",
    "r3_dup_token"     -> "\\bdup\\b",
    "r4_triple_batch"  -> "batch batch batch")

  /** POLICY-TABLE-DRIVEN REGEX FILTER (q225) — compliance filtering the
    * way governance actually ships it: the blocklist is a TABLE (rule_id,
    * pattern), not code, so legal/policy can update rules without a
    * deploy. Every document is screened against every rule
    * (broadcast-crossed — the rule table is tiny by construction) and
    * flagged docs report the full sorted rule list that hit them, because
    * takedown workflows need every violated rule, not the first.
    *
    * RE2 (DuckDB's engine) has no backreferences, so the rule subset
    * deliberately excludes them; alternation and word boundaries are
    * semantics-identical across engines on this ASCII corpus.
    *
    * Scale shape: one scan, |rules| regex evaluations per doc inside a
    * codegen'd filter, then a doc-keyed aggregate of rule ids. No
    * shuffle bigger than the flagged subset.
    */
  def q225PolicyRegexFilter(spark: SparkSession, dir: String): DataFrame = {
    val rules = spark.createDataFrame(PolicyRules).toDF("rule_id", "pattern")
    SimilarityQueries.docsWithPlants(spark, dir)
      .crossJoin(broadcast(rules))
      .filter(expr("text RLIKE pattern"))
      .groupBy(col("doc_id"))
      .agg(concat_ws(",", sort_array(collect_set(col("rule_id")))).as("rules"),
        countDistinct(col("rule_id")).as("n_rules"))
      .orderBy(col("doc_id"))
  }

  val q225Oracle: String = {
    // DuckDB '...' literals keep backslashes literal — no re-escaping
    val vals = PolicyRules
      .map { case (id, p) => s"('$id', '$p')" }
      .mkString(", ")
    s"""WITH docs_p AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${SimilarityQueries.PlantOffset}, text || ' zz9end'
       |  FROM documents WHERE doc_id % 5 = 0),
       |rules(rule_id, pattern) AS (VALUES $vals)
       |SELECT doc_id,
       |  string_agg(rule_id, ',' ORDER BY rule_id) AS rules,
       |  CAST(COUNT(DISTINCT rule_id) AS BIGINT) AS n_rules
       |FROM docs_p CROSS JOIN rules
       |WHERE regexp_matches(text, pattern)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** LARGEST-REMAINDER SEAT APPORTIONMENT (q233) — exact proportional
    * allocation of a fixed eval-set budget across sources (Hamilton's
    * method): each source gets floor(K·nᵢ/N) seats, then the K − Σfloor
    * leftover seats go to the largest remainders (K·nᵢ mod N, ties to
    * the lexicographically first source). Proportional sampling by
    * FRACTION (q80) cannot promise an exact total; eval budgets are
    * exact totals by definition — this is the allocator that closes the
    * gap. Σseats = K by construction, every term integer.
    *
    * Budget is `spark.graft.apportion.k` (default 1000). Scale shape:
    * one per-source count, 1-row totals crossJoin, then ranking over
    * |source| rows — metadata-sized after the first aggregate.
    */
  def q233Apportionment(spark: SparkSession, dir: String): DataFrame = {
    val k = spark.conf.getOption("spark.graft.apportion.k")
      .map(_.toLong).getOrElse(ApportionK)
    val g = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = g.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("n_sources"))
    val based = g.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$k * n_docs div n_total"))
      .withColumn("rem", expr(s"$k * n_docs % n_total"))
    val extras = based.agg(sum(col("base")).as("base_sum"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source").asc)
    based.crossJoin(broadcast(extras))
      .withColumn("rk", row_number().over(w))
      .withColumn("extra",
        when(col("rk") <= lit(k) - col("base_sum"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("base"), col("rem"),
        col("extra"), (col("base") + col("extra")).as("seats"))
      .orderBy(col("source"))
  }

  val q233Oracle: String =
    s"""WITH g AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM g),
      |b AS (
      |  SELECT source, n_docs,
      |    $ApportionK * n_docs // n_total AS base,
      |    $ApportionK * n_docs % n_total AS rem
      |  FROM g CROSS JOIN t),
      |e AS (SELECT CAST(SUM(base) AS BIGINT) AS base_sum FROM b),
      |r AS (
      |  SELECT b.*, e.base_sum,
      |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
      |  FROM b CROSS JOIN e)
      |SELECT source, n_docs, base, rem,
      |  CAST(CASE WHEN rk <= $ApportionK - base_sum THEN 1 ELSE 0 END AS BIGINT) AS extra,
      |  CAST(base + CASE WHEN rk <= $ApportionK - base_sum THEN 1 ELSE 0 END AS BIGINT) AS seats
      |FROM r
      |ORDER BY source""".stripMargin

  /** SPAN-CORRUPTION SCHEDULE (q265) — the T5-style objective prep: per
    * document, partition the token stream into fixed 10-token chunks
    * and corrupt ONE md5-chosen position per chunk (non-overlapping by
    * construction — no interval merging needed, which is exactly why
    * production maskers use chunked sampling). Output per doc: chunk
    * count, the exact masked-token share in ppm, and the md5 of the
    * mask-position list — the manifest a trainer consumes to
    * reconstruct the identical corruption without shipping the masks.
    * Deterministic end to end: positions are md5₆₄(doc‖chunk) mod 10.
    *
    * Scale shape: one scan, per-doc array arithmetic, no joins, no
    * shuffle beyond the output sort.
    */
  def q265SpanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"))
      .withColumn("n_chunks", expr("greatest(1L, n_tokens div 10)"))
      .withColumn("mask_pos", expr(
        """transform(sequence(0, CAST(n_chunks - 1 AS INT)), c ->
          |  least(n_tokens - 1, c * 10 +
          |    CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',
          |      CAST(c AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10))"""
          .stripMargin))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        expr("size(array_distinct(mask_pos))").cast(LongType)
          .as("n_masked"),
        expr("""CAST(size(array_distinct(mask_pos)) * 1000000L
          | div n_tokens AS BIGINT)""".stripMargin).as("masked_ppm"),
        expr("md5(concat_ws(',', transform(mask_pos, x -> CAST(x AS STRING))))")
          .as("mask_md5"))
      .orderBy(col("doc_id"))
  }

  val q265Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |        greatest(1, n_tokens // 10) AS n_chunks FROM d),
       |m AS (
       |  SELECT doc_id, n_tokens, n_chunks,
       |    list_transform(range(0, n_chunks), c ->
       |      least(n_tokens - 1, c * 10 +
       |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
       |          || CAST(c AS VARCHAR)), 1, 8) AS BIGINT) % 10)) AS mask_pos
       |  FROM c)
       |SELECT doc_id, n_tokens, n_chunks,
       |  CAST(len(list_distinct(mask_pos)) AS BIGINT) AS n_masked,
       |  CAST(CAST(len(list_distinct(mask_pos)) AS HUGEINT) * 1000000
       |    // n_tokens AS BIGINT) AS masked_ppm,
       |  md5(array_to_string(mask_pos, ',')) AS mask_md5
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  /** TOP-P QUALITY-MASS CURATION (q274) — nucleus sampling applied to
    * corpus curation: per source, rank documents by token mass (the
    * quality/size proxy; descending, doc_id tiebreak) and keep the
    * SMALLEST prefix whose cumulative mass reaches 80% of the source
    * total — "keep the best p mass", the budgeted alternative to fixed
    * per-doc thresholds (a threshold keeps unpredictable volume; top-p
    * keeps a predictable share of every source, whatever its
    * distribution). Keep rule in exact cross-multiplied integers:
    * keep ⇔ (cum − nw)·100 < 80·total (the doc that CROSSES the 80%
    * line is kept, everything after is cut). Output per source: doc and
    * mass totals, kept counts, and the realized kept share in ppm (≥ 80%
    * by construction, spec-pinned).
    *
    * Scale shape: one scan, one source-partitioned cumulative window,
    * one |source|-row aggregate. The window shuffles on source once —
    * same key as the aggregate, so AQE coalesces; no joins.
    */
  def q274TopPCuration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("nw"))
    val w = Window.partitionBy("source")
      .orderBy(col("nw").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base
      .withColumn("cum", sum(col("nw")).over(w))
      .withColumn("total",
        sum(col("nw")).over(Window.partitionBy("source")))
      .withColumn("keep",
        (col("cum") - col("nw")) * 100 < col("total") * 80)
    cum.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        max(col("total")).as("mass_total"),
        sum(when(col("keep"), col("nw")).otherwise(0L)).as("mass_kept"))
      .withColumn("kept_share_ppm",
        expr("mass_kept * 1000000L div mass_total"))
      .orderBy(col("source"))
  }

  val q274Oracle: String =
    """WITH b AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nw
      |  FROM documents),
      |c AS (
      |  SELECT source, nw,
      |    SUM(nw) OVER (PARTITION BY source ORDER BY nw DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(nw) OVER (PARTITION BY source) AS total
      |  FROM b)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN (cum - nw) * 100 < total * 80 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  CAST(MAX(total) AS BIGINT) AS mass_total,
      |  CAST(SUM(CASE WHEN (cum - nw) * 100 < total * 80 THEN nw ELSE 0 END)
      |    AS BIGINT) AS mass_kept,
      |  CAST(SUM(CASE WHEN (cum - nw) * 100 < total * 80 THEN nw ELSE 0 END)
      |    AS BIGINT) * 1000000
      |    // CAST(MAX(total) AS BIGINT) AS kept_share_ppm
      |FROM c GROUP BY source
      |ORDER BY source""".stripMargin

  /** DETERMINISTIC HOLDOUT SAMPLER (q276) — the eval-slice cutter: a
    * 1/16 per-source holdout where membership is a PURE FUNCTION of
    * content identity (md5(doc_id) bucket 0 of 16), so re-runs,
    * re-shards and late-arriving partitions never move a document
    * across the holdout boundary — the property RNG sampling lacks and
    * the reason eval contamination audits (q133/q164) can trust the
    * slice. Per source: exact counts, the realized rate in ppm (the
    * uniformity audit — md5 buckets approximate 62 500 ppm without
    * guaranteeing it, so the report MEASURES it), and a
    * content-addressed manifest (md5 of the sorted member ids — the
    * q192 certification recipe) a downstream consumer pins.
    *
    * Scale shape: one scan, one ~|source|-key aggregate with map-side
    * combine; the manifest is per-group sorted-collect over the 1/16
    * slice only. No joins, no windows.
    */
  def q276HoldoutSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) " +
          "AS BIGINT) % 16"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_sampled"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("bucket") === 0, col("doc_id")))),
          x => x.cast(org.apache.spark.sql.types.StringType)), ","))
          .as("sample_md5"))
      .withColumn("rate_ppm", expr("n_sampled * 1000000L div n_docs"))
      .orderBy(col("source"))

  val q276Oracle: String =
    """WITH b AS (
      |  SELECT source, doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
      |      % 16 AS bucket
      |  FROM documents)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sampled,
      |  md5(COALESCE(string_agg(
      |    CASE WHEN bucket = 0 THEN CAST(doc_id AS VARCHAR) END, ','
      |    ORDER BY doc_id), '')) AS sample_md5,
      |  CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // COUNT(*) AS rate_ppm
      |FROM b GROUP BY source
      |ORDER BY source""".stripMargin

  /** EFFECTIVE CORPUS SIZE AFTER DEDUP (q284) — the number everyone
    * quotes ("X tokens after dedup") computed honestly: the q269 dedup
    * map's keep verdicts joined back to per-source token mass, reporting
    * per source the doc and token counts BEFORE and AFTER keep-one
    * dedup plus both survival rates in exact ppm. A source whose
    * kept_tokens_ppm is far below its kept_docs_ppm loses its LONG
    * duplicates — the signature of mirrored articles rather than
    * boilerplate stubs. Composes the dedup-map artifact (and therefore
    * honors `spark.graft.folds.componentTable` transitively — a
    * composed run prices one contraction).
    *
    * Scale shape: one doc-keyed equi-join (map ⋈ token frame) and a
    * ~|source|-key aggregate; both sides of the join are corpus-sized
    * but shuffle once on the same key.
    */
  def q284EffectiveCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val plants = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + SimilarityQueries.PlantOffset).as("doc_id"),
        col("source"), concat(col("text"), lit(" zz9end")).as("text"))
    val docs = base.unionByName(plants)
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("nw"))
    val map = GraphQueries.q269DedupMap(spark, dir)
      .select(col("doc_id"), col("keep"))
    docs.join(map, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("nw")).as("raw_tokens"),
        sum(when(col("keep"), col("nw")).otherwise(0L)).as("kept_tokens"))
      .withColumn("kept_docs_ppm", expr("n_kept * 1000000L div n_docs"))
      .withColumn("kept_tokens_ppm",
        expr("kept_tokens * 1000000L div raw_tokens"))
      .orderBy(col("source"))
  }

  val q284Oracle: String =
    s"""WITH m AS (
       |  SELECT doc_id, keep FROM (${GraphQueries.q269Oracle})),
       |docs_ps AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${SimilarityQueries.PlantOffset}, source,
       |    text || ' zz9end'
       |  FROM documents WHERE doc_id % 5 = 0),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS nw
       |  FROM docs_ps)
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(nw) AS BIGINT) AS raw_tokens,
       |  CAST(SUM(CASE WHEN keep THEN nw ELSE 0 END) AS BIGINT)
       |    AS kept_tokens,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |    // COUNT(*) AS kept_docs_ppm,
       |  CAST(SUM(CASE WHEN keep THEN nw ELSE 0 END) AS BIGINT) * 1000000
       |    // CAST(SUM(nw) AS BIGINT) AS kept_tokens_ppm
       |FROM d JOIN m USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** EVAL BLAST-RADIUS (q282) — q133's rollup reversed: q133 answers
    * "which TRAINING docs are contaminated"; this answers the eval
    * owner's question, "which BENCHMARK docs are burned, and how badly"
    * — per eval doc, how many training docs share any trigram, the
    * total shared (train-doc, gram) evidence mass, and the single worst
    * overlap. An eval doc with a high max_shared_ngrams has a
    * near-verbatim copy in training and must be dropped from the
    * benchmark; one with many low-overlap hits merely shares idiom.
    * Same join discipline as q133 (the eval side is the small one —
    * broadcast-bounded by the same conf budget).
    *
    * Scale shape: identical to q133's gram equi-join, re-aggregated
    * (eval_id, doc_id) → eval_id; output is eval-slice-sized.
    */
  def q282EvalBlastRadius(spark: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.expressions.ShingleStrings.shingleStrings(
        TextFunctions.tokens(col("text")), 3)).as("ng"))
    val docs = Tables.documents(spark, dir)
    val ev = grams(docs.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id").as("eval_id"), col("ng")).distinct()
    val tr = grams(docs.filter(col("doc_id") % 97 =!= 0)).distinct()
    tr.join(ev, "ng")
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(col("shared")).as("n_shared_gram_pairs"),
        max(col("shared")).as("max_shared_ngrams"))
      .orderBy(col("eval_id"))
  }

  val q282Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)
      |      AS ng
      |  FROM d),
      |ev AS (SELECT DISTINCT doc_id AS eval_id, ng FROM g
      |       WHERE doc_id % 97 = 0),
      |tr AS (SELECT DISTINCT doc_id, ng FROM g WHERE doc_id % 97 <> 0),
      |pp AS (
      |  SELECT ev.eval_id, tr.doc_id, CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM tr JOIN ev USING (ng)
      |  GROUP BY ev.eval_id, tr.doc_id)
      |SELECT eval_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_train_docs,
      |  CAST(SUM(shared) AS BIGINT) AS n_shared_gram_pairs,
      |  CAST(MAX(shared) AS BIGINT) AS max_shared_ngrams
      |FROM pp GROUP BY eval_id
      |ORDER BY eval_id""".stripMargin

  /** GREEDY COVERAGE-MAXIMIZING SOURCE SELECTION (q305) — which sources
    * to ingest FIRST when the budget admits only a few: pick the source
    * covering the most distinct vocabulary, then repeatedly the source
    * adding the most vocabulary NOT yet covered — the classic greedy
    * algorithm for submodular set cover (Nemhauser's (1−1/e) guarantee),
    * which is also how data-mixture teams sequence corpus onboarding:
    * marginal gain, not raw size, because the second news crawl adds
    * almost nothing the first didn't. The coverage universe is distinct
    * token TRIGRAMS (q133's shingles), not unigrams — the synthetic
    * corpus has a ~31-word vocabulary every source fully covers, while
    * its ~16k trigrams genuinely discriminate; trigram coverage is also
    * the better proxy for phrasal/stylistic diversity. Four unrolled
    * rounds; per round: the chosen source, its MARGINAL new-shingle
    * count, the cumulative distinct-shingle coverage in ppm.
    * Deterministic tie-break (gain desc, source asc).
    *
    * Scale shape: the frame is the distinct (source, shingle) posting —
    * phrase-vocabulary-sized after the distinct, not corpus-sized — and
    * each unrolled round is one |sources|-key count aggregate, a 1-row
    * TakeOrdered winner, and one shingle-keyed anti join; the iteration
    * count is a fixed constant so the whole selection is one declarative
    * plan. Nothing is collected to the driver.
    */
  def q305GreedyCoverage(spark: SparkSession, dir: String): DataFrame = {
    // the posting frame feeds the total count, round 1's gain aggregate,
    // round 1's covered join and (through the anti-join chain) every
    // later round — and each round's remainder is likewise consumed three
    // times (pick, covered, next anti-join). Materialize per round
    // (localCheckpoint, the q361/q342 unroll discipline): without it the
    // explode+distinct pass replays once per reference and the unrolled
    // plan compounds geometrically (round-15 optimization; results are
    // unchanged — each round still computes the identical greedy step).
    val posting = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.expressions.ShingleStrings.shingleStrings(
          TextFunctions.tokens(col("text")), 3)).as("term"))
      .distinct()
      .localCheckpoint(true)
    val total = posting.select(col("term")).distinct()
      .agg(count(lit(1)).as("total_terms"))
    def pickOf(rem: DataFrame): DataFrame =
      rem.groupBy(col("source")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("source").asc).limit(1)
    def nextRem(rem: DataFrame, pick: DataFrame): DataFrame = {
      val covered = rem
        .join(broadcast(pick.select(col("source"))), "source")
        .select(col("term"))
      rem.join(covered, Seq("term"), "left_anti").localCheckpoint(true)
    }
    val p1 = pickOf(posting); val r1 = nextRem(posting, p1)
    val p2 = pickOf(r1); val r2 = nextRem(r1, p2)
    val p3 = pickOf(r2); val r3 = nextRem(r2, p3)
    val p4 = pickOf(r3)
    val steps = Seq(p1, p2, p3, p4).zipWithIndex
      .map { case (p, i) =>
        p.select(lit(i + 1L).as("step"), col("source"),
          col("gain").as("marginal_terms"))
      }
      .reduce(_ unionByName _)
    // the cumulative window runs over the 4-row picks frame — constant
    val wc = Window.orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    steps.withColumn("cumulative_terms",
        sum(col("marginal_terms")).over(wc))
      .crossJoin(broadcast(total))
      .select(col("step"), col("source"), col("marginal_terms"),
        col("cumulative_terms"),
        expr("cumulative_terms * 1000000L div total_terms")
          .as("coverage_ppm"))
      .orderBy(col("step"))
  }

  val q305Oracle: String = {
    def roundSql(rem: String, pick: String, next: String): String =
      s"""$pick AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS gain
         |  FROM $rem GROUP BY 1
         |  ORDER BY gain DESC, source ASC LIMIT 1),
         |$next AS (
         |  SELECT r.source, r.term FROM $rem r
         |  ANTI JOIN (SELECT DISTINCT term FROM $rem JOIN $pick USING (source)) c
         |    ON r.term = c.term)""".stripMargin
    s"""WITH d AS (
       |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |posting AS (
       |  SELECT DISTINCT source,
       |    unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(range(1, len(toks) - 1),
       |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)
       |      AS term
       |  FROM d),
       |tot AS (
       |  SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS total_terms
       |  FROM posting),
       |${roundSql("posting", "p1", "r1")},
       |${roundSql("r1", "p2", "r2")},
       |${roundSql("r2", "p3", "r3")},
       |${roundSql("r3", "p4", "r4")},
       |picks AS (
       |  SELECT CAST(1 AS BIGINT) AS step, source, gain FROM p1
       |  UNION ALL SELECT 2, source, gain FROM p2
       |  UNION ALL SELECT 3, source, gain FROM p3
       |  UNION ALL SELECT 4, source, gain FROM p4)
       |SELECT step, source, gain AS marginal_terms,
       |  CAST(SUM(gain) OVER w AS BIGINT) AS cumulative_terms,
       |  CAST(SUM(gain) OVER w * 1000000 // total_terms AS BIGINT)
       |    AS coverage_ppm
       |FROM picks, tot
       |WINDOW w AS (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING
       |  AND CURRENT ROW)
       |ORDER BY step""".stripMargin
  }

  /** SOURCE NOVELTY / REDUNDANCY AUDIT (q316) — how much of each
    * source's content exists NOWHERE else: per source, its distinct
    * trigram shingles, how many of them are corpus-unique (source
    * df = 1), how many are shared, and the novelty ratio in ppm. The
    * static complement of q305's greedy sequencing — q305 ranks sources
    * by marginal additions in pick order; this prices every source's
    * standalone redundancy in one report, the number that decides
    * whether dropping a source loses content or only copies. Same
    * shingle posting derivation as q305 (short docs collapse to one
    * whole-text shingle), so the two audits agree on what "content"
    * means.
    *
    * Scale shape: the distinct (source, shingle) posting (one
    * aggregate), a shingle-keyed df count over it, and a source-keyed
    * rollup of the join — every shuffle keyed on high-cardinality
    * shingles or bounded sources; output is |sources| rows.
    */
  def q316SourceNovelty(spark: SparkSession, dir: String): DataFrame = {
    val posting = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.expressions.ShingleStrings.shingleStrings(
          TextFunctions.tokens(col("text")), 3)).as("term"))
      .distinct()
    val df = posting.groupBy(col("term"))
      .agg(count(lit(1)).as("src_df"))
    posting.join(df, "term")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("src_df") === 1, lit(1L)).otherwise(lit(0L)))
          .as("n_unique"))
      .select(col("source"), col("n_shingles"), col("n_unique"),
        (col("n_shingles") - col("n_unique")).as("n_shared"),
        expr("n_unique * 1000000L div n_shingles").as("novelty_ppm"))
      .orderBy(col("source"))
  }

  val q316Oracle: String =
    """WITH d AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |posting AS (
      |  SELECT DISTINCT source,
      |    unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)
      |      AS term
      |  FROM d),
      |df AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS src_df
      |  FROM posting GROUP BY term)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN src_df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unique,
      |  CAST(COUNT(*) - SUM(CASE WHEN src_df = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_shared,
      |  CAST(SUM(CASE WHEN src_df = 1 THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS novelty_ppm
      |FROM posting JOIN df USING (term)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** NEYMAN-ALLOCATION SAMPLING PLAN (q320) — the survey-statistics
    * answer to "how many rows should each stratum contribute to a
    * 10 000-row audit sample": variance-optimal allocation n_h ∝
    * N_h·σ_h, computed integer-exactly. The weight N_h·σ_h =
    * √(N_h·Σx² − (Σx)²) — the integer variance numerator V_h is exact
    * in DECIMAL(38,0) and its integer square root comes from a
    * float-seeded ±2 correction cascade (r₀ = ⌊√V⌋ in double, then the
    * greatest r ∈ [r₀−2, r₀+2] with r² ≤ V in exact decimal
    * arithmetic — the float's last-ulp error cannot survive the exact
    * comparisons, so both engines land on the true isqrt). Seats are
    * assigned by largest remainder (q264's apportionment discipline):
    * floors first, then the Σfloor-to-n deficit goes to the largest
    * n·w_h mod W, ties to the earlier stratum. The proportional
    * allocation (w = N_h) rides along for contrast — the visible gap
    * IS the variance information.
    *
    * Scale shape: one |strata|-row aggregate over orders with map-side
    * combine; everything after is window arithmetic over 5 rows.
    */
  def q320NeymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val n = lit(10000L)
    val st = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_h"), sum(col("cents")).as("sum_c"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("sum_c2"))
      .withColumn("v_h", expr(
        "CAST(n_h AS DECIMAL(38,0)) * sum_c2 " +
          "- CAST(sum_c AS DECIMAL(38,0)) * sum_c"))
      .withColumn("r0", expr(
        "CAST(FLOOR(SQRT(CAST(v_h AS DOUBLE))) AS BIGINT)"))
      .withColumn("w_h", greatest(lit(0L), col("r0") - 2 + expr(
        """CASE
          |  WHEN CAST(r0 + 2 AS DECIMAL(38,0)) * (r0 + 2) <= v_h THEN 4L
          |  WHEN CAST(r0 + 1 AS DECIMAL(38,0)) * (r0 + 1) <= v_h THEN 3L
          |  WHEN CAST(r0 AS DECIMAL(38,0)) * r0 <= v_h THEN 2L
          |  WHEN CAST(r0 - 1 AS DECIMAL(38,0)) * (r0 - 1) <= v_h THEN 1L
          |  ELSE 0L END""".stripMargin)))
    def apportion(df: DataFrame, w: String, outCol: String): DataFrame = {
      val tw = df.agg(sum(col(w)).as("__tw"))
      val f = df.crossJoin(broadcast(tw))
        .withColumn("__fl", expr(
          s"CAST(CAST($w AS DECIMAL(38,0)) * 10000 div __tw AS BIGINT)"))
        .withColumn("__rem", expr(
          s"CAST(CAST($w AS DECIMAL(38,0)) * 10000 % __tw AS DECIMAL(38,0))"))
      val used = f.agg(sum(col("__fl")).as("__used"))
      f.crossJoin(broadcast(used))
        .withColumn("__rk", row_number().over(
          Window.orderBy(col("__rem").desc, col("priority").asc)))
        .withColumn(outCol,
          col("__fl") + when(col("__rk") <= lit(10000L) - col("__used"), 1L)
            .otherwise(0L))
        .drop("__tw", "__fl", "__rem", "__used", "__rk")
    }
    val ney = apportion(st, "w_h", "alloc_neyman")
    apportion(ney, "n_h", "alloc_prop")
      .select(col("priority"), col("n_h"), col("sum_c"), col("w_h"),
        col("alloc_neyman"), col("alloc_prop"))
      .orderBy(col("priority"))
  }

  val q320Oracle: String =
    """WITH st AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(COUNT(*) AS BIGINT) AS n_h,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS sum_c,
      |    SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
      |      * CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_c2
      |  FROM orders GROUP BY 1),
      |v AS (
      |  SELECT priority, n_h, sum_c,
      |    CAST(n_h AS HUGEINT) * sum_c2
      |      - CAST(sum_c AS HUGEINT) * sum_c AS v_h
      |  FROM st),
      |r AS (
      |  SELECT *, CAST(FLOOR(SQRT(CAST(v_h AS DOUBLE))) AS BIGINT) AS r0
      |  FROM v),
      |w AS (
      |  SELECT priority, n_h, sum_c,
      |    GREATEST(0, r0 - 2 + CASE
      |      WHEN CAST(r0 + 2 AS HUGEINT) * (r0 + 2) <= v_h THEN 4
      |      WHEN CAST(r0 + 1 AS HUGEINT) * (r0 + 1) <= v_h THEN 3
      |      WHEN CAST(r0 AS HUGEINT) * r0 <= v_h THEN 2
      |      WHEN CAST(r0 - 1 AS HUGEINT) * (r0 - 1) <= v_h THEN 1
      |      ELSE 0 END) AS w_h
      |  FROM r),
      |alloc_n AS (
      |  SELECT *, CAST(CAST(w_h AS HUGEINT) * 10000
      |      // (SELECT SUM(w_h) FROM w) AS BIGINT) AS fl_n,
      |    CAST(w_h AS HUGEINT) * 10000 % (SELECT SUM(w_h) FROM w) AS rem_n
      |  FROM w),
      |seat_n AS (
      |  SELECT *, fl_n + CASE WHEN
      |      row_number() OVER (ORDER BY rem_n DESC, priority ASC)
      |      <= 10000 - (SELECT SUM(fl_n) FROM alloc_n)
      |    THEN 1 ELSE 0 END AS alloc_neyman
      |  FROM alloc_n),
      |alloc_p AS (
      |  SELECT *, CAST(CAST(n_h AS HUGEINT) * 10000
      |      // (SELECT SUM(n_h) FROM w) AS BIGINT) AS fl_p,
      |    CAST(n_h AS HUGEINT) * 10000 % (SELECT SUM(n_h) FROM w) AS rem_p
      |  FROM seat_n),
      |seat_p AS (
      |  SELECT *, fl_p + CASE WHEN
      |      row_number() OVER (ORDER BY rem_p DESC, priority ASC)
      |      <= 10000 - (SELECT SUM(fl_p) FROM alloc_p)
      |    THEN 1 ELSE 0 END AS alloc_prop
      |  FROM alloc_p)
      |SELECT priority, n_h, sum_c,
      |  CAST(w_h AS BIGINT) AS w_h,
      |  CAST(alloc_neyman AS BIGINT) AS alloc_neyman,
      |  CAST(alloc_prop AS BIGINT) AS alloc_prop
      |FROM seat_p
      |ORDER BY priority""".stripMargin

  /** ERASURE IMPACT PLAN (q344) — the manifest a right-to-be-forgotten
    * pipeline must produce BEFORE it deletes anything: for a batch of
    * erasure subjects (here the deterministic c_custkey ≡ 0 mod 97
    * request list; identities linked across tables by the shared id —
    * the identity-resolution step a real deployment runs first), how
    * many rows fall in each table, touching how many subjects, carrying
    * how much monetary value. The plan is the review/rollback artifact;
    * the deletes themselves are A15's executed-upsert machinery
    * (`store.JdbcStore`) pointed at these row sets.
    *
    * Scale shape: the subject list is a broadcast semi-join into every
    * fact scan (never the other way); lineitem resolves through its
    * orders FK with the subject filter pushed onto the orders side
    * first, so the big table joins against an already-subject-only
    * order-key set. Output is one row per table.
    */
  def q344ErasurePlan(spark: SparkSession, dir: String): DataFrame = {
    val subjects = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("sid"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(subjects), col("c_custkey") === col("sid"))
      .agg(countDistinct(col("sid")).as("n_subjects"),
        count(lit(1)).as("n_rows"), lit(0L).as("cents"))
      .select(lit("customer").as("table_name"), col("n_subjects"),
        col("n_rows"), col("cents"))
    val ord = Tables.orders(spark, dir)
      .join(broadcast(subjects), col("o_custkey") === col("sid"))
    val ordPlan = ord
      .agg(countDistinct(col("sid")).as("n_subjects"),
        count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .select(lit("orders").as("table_name"), col("n_subjects"),
        col("n_rows"), col("cents"))
    val li = Tables.lineitem(spark, dir)
      .join(ord.select(col("o_orderkey"), col("sid")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(countDistinct(col("sid")).as("n_subjects"),
        count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      .select(lit("lineitem").as("table_name"), col("n_subjects"),
        col("n_rows"), col("cents"))
    val ev = Tables.events(spark, dir)
      .join(broadcast(subjects), col("user_id") === col("sid"))
      .agg(countDistinct(col("sid")).as("n_subjects"),
        count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(lit("events").as("table_name"), col("n_subjects"),
        col("n_rows"), col("cents"))
    cust.unionByName(ordPlan).unionByName(li).unionByName(ev)
      .select(col("table_name"), col("n_subjects"), col("n_rows"),
        coalesce(col("cents"), lit(0L)).as("cents"))
      .orderBy(col("table_name"))
  }

  val q344Oracle: String =
    """WITH subjects AS (
      |  SELECT c_custkey AS sid FROM customer WHERE c_custkey % 97 = 0),
      |c AS (
      |  SELECT 'customer' AS table_name,
      |    CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_subjects,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS cents
      |  FROM customer JOIN subjects ON c_custkey = sid),
      |o AS (
      |  SELECT 'orders' AS table_name,
      |    CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_subjects,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
      |      AS BIGINT) AS cents
      |  FROM orders JOIN subjects ON o_custkey = sid),
      |l AS (
      |  SELECT 'lineitem' AS table_name,
      |    CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_subjects,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)),
      |      0) AS BIGINT) AS cents
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN subjects ON o_custkey = sid),
      |e AS (
      |  SELECT 'events' AS table_name,
      |    CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_subjects,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)), 0)
      |      AS BIGINT) AS cents
      |  FROM events JOIN subjects ON user_id = sid)
      |SELECT * FROM c UNION ALL SELECT * FROM o
      |UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e
      |ORDER BY table_name""".stripMargin

  /** CORPUS SNAPSHOT DIFF (q345) — the dataset-versioning audit run
    * between two corpus versions before a retrain: which documents were
    * ADDED, REMOVED, CHANGED, UNCHANGED, and how the character mass
    * moved. The "previous snapshot" is synthesized deterministically
    * in-query (the suite's planted-twin discipline): additions are the
    * doc_id ≡ 3 mod 17 class (absent from old), removals are synthetic
    * old-only rows at doc_id + 2·10⁷ for the ≡ 7 mod 29 class, and
    * changes are the ≡ 5 mod 23 class whose old text carried a
    * ' legacy' suffix. Change detection compares md5(text) — the
    * content-hash convention a real snapshot diff uses so it never
    * shuffles document bodies.
    *
    * Scale shape: one full-outer join on doc_id between two corpus
    * scans (both sides hash-keyed, no bodies past the md5), collapsed
    * onto the 4-value change axis. Output is ≤ 4 rows.
    */
  def q345SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("text"))
    val oldBase = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 23 === 5, concat(col("text"), lit(" legacy")))
          .otherwise(col("text")).as("text"))
    val oldRemoved = docs.filter(col("doc_id") % 29 === 7)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val old = oldBase.unionByName(oldRemoved)
      .select(col("doc_id"), md5(col("text")).as("h_old"),
        length(col("text")).cast(LongType).as("chars_old"))
    val neu = docs
      .select(col("doc_id"), md5(col("text")).as("h_new"),
        length(col("text")).cast(LongType).as("chars_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"),
        coalesce(col("chars_old"), lit(0L)).as("co"),
        coalesce(col("chars_new"), lit(0L)).as("cn"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_docs"), sum(col("co")).as("chars_old"),
        sum(col("cn")).as("chars_new"))
      .orderBy(col("change_type"))
  }

  val q345Oracle: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
      |old AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 23 = 5 THEN text || ' legacy'
      |      ELSE text END) AS h_old,
      |    CAST(length(CASE WHEN doc_id % 23 = 5 THEN text || ' legacy'
      |      ELSE text END) AS BIGINT) AS chars_old
      |  FROM docs WHERE doc_id % 17 <> 3
      |  UNION ALL
      |  SELECT doc_id + 20000000, md5(text),
      |    CAST(length(text) AS BIGINT)
      |  FROM docs WHERE doc_id % 29 = 7),
      |neu AS (
      |  SELECT doc_id, md5(text) AS h_new,
      |    CAST(length(text) AS BIGINT) AS chars_new
      |  FROM docs),
      |d AS (
      |  SELECT CASE
      |      WHEN h_old IS NULL THEN 'added'
      |      WHEN h_new IS NULL THEN 'removed'
      |      WHEN h_old <> h_new THEN 'changed'
      |      ELSE 'unchanged' END AS change_type,
      |    COALESCE(chars_old, 0) AS co, COALESCE(chars_new, 0) AS cn
      |  FROM old FULL OUTER JOIN neu USING (doc_id))
      |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(co) AS BIGINT) AS chars_old,
      |  CAST(SUM(cn) AS BIGINT) AS chars_new
      |FROM d GROUP BY 1
      |ORDER BY change_type""".stripMargin

  /** TEMPERATURE-SCALED MIXTURE (q365) — the multilingual-training
    * sampling recipe (Devlin et al.'s mBERT exponent / Conneau et al.'s
    * τ-sampling — public literature) beside q194's proportional plan:
    * source weights ∝ (kept subwords)^τ with τ = ½, so low-resource
    * sources are UPsampled relative to their share and heavyweights
    * flattened — the exponent is exact because τ = ½ is the
    * ±2-corrected integer sqrt. The token budget is then apportioned by
    * LARGEST REMAINDER (q233's house method): base_i = ⌊B·w_i/W⌋ and the
    * ≤|sources|−1 leftover tokens go to the largest fractional
    * remainders (ties by source name), so Σ alloc = B EXACTLY — a
    * mixture that claims to allocate B and allocates B±k is an
    * off-by-an-epoch bug downstream.
    *
    * Scale shape: the corpus collapses to the per-source frame
    * (perSourceSubwords — one tokenize + rollup); the isqrt, remainder
    * rank (a window over the ≤|sources|-row frame) and allocation all
    * live on that tiny axis.
    */
  def q365TemperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // honor the same budget override q194's proportional plan reads —
    // two "same budget" recipes must not silently disagree on totals.
    // Gate mode leaves the conf unset so the oracle's constant holds —
    // and since round 15 that is ENFORCED, not convention: Verify fails
    // fast if any spark.graft.* conf is injected into a gate run.
    val budget = spark.conf.getOption("spark.graft.mixture.tokenBudget")
      .map(_.toLong).getOrElse(MixtureTokenBudget)
    val per = perSourceSubwords(spark, dir)
      .select(col("source"), col("n_kept"), col("kept_subwords"))
    val withW = per.transform(Exact.isqrtStage("kept_subwords", "weight"))
    val tot = withW.agg(sum(col("weight")).as("ww"))
    val quota = withW.crossJoin(broadcast(tot))
      .withColumn("base", expr(
        s"CAST(CAST(weight AS DECIMAL(38,0)) * $budget div ww AS BIGINT)"))
      .withColumn("rem", expr(
        s"CAST(CAST(weight AS DECIMAL(38,0)) * $budget % ww AS BIGINT)"))
    val leftover = quota.agg((lit(budget) - sum(col("base"))).as("leftover"))
    quota
      .withColumn("rrank", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
      .crossJoin(broadcast(leftover))
      .select(col("source"), col("n_kept"), col("kept_subwords"),
        col("weight"),
        expr("CAST(CAST(weight AS DECIMAL(38,0)) * 1000000 div ww" +
          " AS BIGINT)").as("share_ppm"),
        (col("base") + when(col("rrank") <= col("leftover"), 1L)
          .otherwise(0L)).as("tokens_alloc"))
      .withColumn("epochs_ppm", expr(
        "CASE WHEN kept_subwords = 0 THEN NULL ELSE " +
          "CAST(CAST(tokens_alloc AS DECIMAL(38,0)) * 1000000" +
          " div kept_subwords AS BIGINT) END"))
      .orderBy(col("source"))
  }

  val q365Oracle: String =
    s"""WITH RECURSIVE $perSourceSubwordCtes,
       |r0s AS (
       |  SELECT source, n_kept, kept_subwords,
       |    CAST(FLOOR(SQRT(CAST(kept_subwords AS DOUBLE))) AS BIGINT) AS r0
       |  FROM per),
       |ws AS (
       |  SELECT source, n_kept, kept_subwords,
       |    GREATEST(0, r0 - 2 + CASE
       |      WHEN CAST(r0 + 2 AS HUGEINT) * (r0 + 2) <= kept_subwords THEN 4
       |      WHEN CAST(r0 + 1 AS HUGEINT) * (r0 + 1) <= kept_subwords THEN 3
       |      WHEN CAST(r0 AS HUGEINT) * r0 <= kept_subwords THEN 2
       |      WHEN CAST(r0 - 1 AS HUGEINT) * (r0 - 1) <= kept_subwords THEN 1
       |      ELSE 0 END) AS weight
       |  FROM r0s),
       |tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS ww FROM ws),
       |quota AS (
       |  SELECT source, n_kept, kept_subwords, weight, ww,
       |    CAST(CAST(weight AS HUGEINT) * $MixtureTokenBudget // ww
       |      AS BIGINT) AS base,
       |    CAST(CAST(weight AS HUGEINT) * $MixtureTokenBudget % ww
       |      AS BIGINT) AS rem
       |  FROM ws CROSS JOIN tot),
       |lo AS (SELECT $MixtureTokenBudget - CAST(SUM(base) AS BIGINT)
       |         AS leftover FROM quota),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rrank
       |  FROM quota)
       |SELECT source, n_kept, kept_subwords, weight,
       |  CAST(CAST(weight AS HUGEINT) * 1000000 // ww AS BIGINT)
       |    AS share_ppm,
       |  CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
       |    AS BIGINT) AS tokens_alloc,
       |  CASE WHEN kept_subwords = 0 THEN NULL ELSE
       |    CAST(CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
       |      AS HUGEINT) * 1000000 // kept_subwords AS BIGINT) END
       |    AS epochs_ppm
       |FROM rk CROSS JOIN lo
       |ORDER BY source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q365_temperature_mixture", q365TemperatureMixture, q365Oracle),
    QuerySpec("q344_erasure_plan", q344ErasurePlan, q344Oracle),
    QuerySpec("q345_snapshot_diff", q345SnapshotDiff, q345Oracle),
    QuerySpec("q316_source_novelty", q316SourceNovelty, q316Oracle),
    QuerySpec("q320_neyman_allocation", q320NeymanAllocation, q320Oracle),
    QuerySpec("q305_greedy_coverage", q305GreedyCoverage, q305Oracle),
    QuerySpec("q282_eval_blast_radius", q282EvalBlastRadius, q282Oracle),
    QuerySpec("q284_effective_corpus", q284EffectiveCorpus, q284Oracle),
    QuerySpec("q276_holdout_sample", q276HoldoutSample, q276Oracle),
    QuerySpec("q274_top_p_curation", q274TopPCuration, q274Oracle),
    QuerySpec("q265_span_corruption", q265SpanCorruption, q265Oracle),
    QuerySpec("q233_apportionment", q233Apportionment, q233Oracle),
    QuerySpec("q225_policy_regex_filter", q225PolicyRegexFilter, q225Oracle),
    QuerySpec("q218_lang_quality_buckets", q218LangQualityBuckets, q218Oracle),
    QuerySpec("q212_html_extract", q212HtmlExtract, q212Oracle),
    QuerySpec("q199_duplicate_chunks", q199DuplicateChunks, q199Oracle),
    QuerySpec("q198_upsample_materialize", q198UpsampleMaterialize, q198Oracle),
    QuerySpec("q197_url_canonical_dedup", q197UrlCanonicalDedup, q197Oracle),
    QuerySpec("q194_token_budget_mixture", q194TokenBudgetMixture, q194Oracle),
    QuerySpec("q193_incremental_domain_curation", q193IncrementalDomainCuration, q193Oracle),
    QuerySpec("q191_domain_curation", q191DomainCuration, q191Oracle),
    QuerySpec("q188_subword_decontaminate", q188SubwordDecontaminate, q188Oracle),
    QuerySpec("q168_curation_pipeline", q168CurationPipeline, q168Oracle),
    QuerySpec("q164_span_decontaminate", q164SpanDecontaminate, q164Oracle),
    QuerySpec("q163_creditcard_redact", q163CreditCardRedact, q163Oracle),
    QuerySpec("q160_classifier_training", q160ClassifierTraining, q160Oracle),
    QuerySpec("q152_bpe_train", q152BpeTrain, q152Oracle),
    QuerySpec("q151_unicode_normalize", q151UnicodeNormalize, q151Oracle),
    QuerySpec("q136_quality_classifier", q136QualityClassifier, q136Oracle),
    QuerySpec("q135_doc_fluency", q135DocFluency, q135Oracle),
    QuerySpec("q134_corpus_mixture", q134CorpusMixture, q134Oracle),
    QuerySpec("q133_contamination", q133ContaminationCheck, q133Oracle),
    QuerySpec("q127_sample_per_stratum", q127SamplePerStratum, q127Oracle),
    QuerySpec("q104_outlier_zscore", q104OutlierZscore, q104Oracle),
    QuerySpec("q101_doc_chunking", q101DocChunking, q101Oracle),
    QuerySpec("q90_cms_heavy_hitters", q90CmsHeavyHitters, q90Oracle),
    QuerySpec("q91_weighted_sample", q91WeightedSample, q91Oracle),
    QuerySpec("q78_quality_repetition", q78QualityRepetition, q78Oracle),
    QuerySpec("q79_pii_redact", q79PiiRedact, q79Oracle),
    QuerySpec("q80_stratified_sample", q80StratifiedSample, q80Oracle),
    QuerySpec("q82_vec_quantize", q82VecQuantize, q82Oracle))
}
