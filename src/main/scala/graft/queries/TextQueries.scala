package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}
import graft.functions.PrefixSum
import graft.functions.TextFunctions._

/** Text-analysis queries over `documents` (north-star tier: B17 + language
  * ID, quality scoring, token counting, fingerprinting).
  *
  * All operators are single-pass projections/aggregations over codegen'd
  * higher-order array expressions — a 100 TB corpus shards by document with
  * zero shuffle for the per-document stats.
  */
object TextQueries {

  /** Per-document stats + composite quality score (B17). */
  def q32TextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        tokenCount(col("text")).as("n_tokens"),
        distinctTokenCount(col("text")).as("n_distinct"),
        totalTokenLen(col("text")).as("sum_token_len"),
        (totalTokenLen(col("text")).cast(DoubleType) /
          tokenCount(col("text"))).as("avg_token_len"),
        round(qualityScore(col("text")), 6).as("quality"))
      .orderBy(col("doc_id"))

  // SQL mirror of TextFunctions: toks = regexp_split_to_array(trim(text)).
  private val toksSql = "regexp_split_to_array(trim(text), '\\s+')"

  val q32Oracle: String =
    s"""SELECT doc_id,
       |  CAST(LENGTH(text) AS INTEGER) AS n_chars_calc,
       |  CAST(len($toksSql) AS INTEGER) AS n_tokens,
       |  CAST(len(list_distinct($toksSql)) AS INTEGER) AS n_distinct,
       |  CAST(list_sum(list_transform($toksSql, t -> length(t))) AS INTEGER) AS sum_token_len,
       |  CAST(list_sum(list_transform($toksSql, t -> length(t))) AS DOUBLE) / len($toksSql) AS avg_token_len,
       |  ROUND(0.5 * LEAST(len($toksSql) / 100.0, 1.0)
       |      + 0.3 * (1.0 - CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / LENGTH(text))
       |      + 0.2 * (CAST(len(list_distinct($toksSql)) AS DOUBLE) / len($toksSql)), 6) AS quality
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Stopword-profile language ID with a deterministic argmax cascade.
    * The oracle replays the identical CASE logic, so the gate verifies the
    * operator end-to-end.
    */
  def q33LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        Seq(
          col("doc_id"),
          col("lang").as("lang_label"),
          langId(col("text")).as("lang_pred")) ++
        langProfiles.map { case (l, ws) =>
          vocabHits(col("text"), ws).cast(IntegerType).as(s"hits_$l")
        }: _*)
      .orderBy(col("doc_id"))

  /** DuckDB twin of [[graft.functions.TextFunctions.langId]]: the
    * stopword-hit CASE cascade as a SQL scalar over a `text` column —
    * shared by q33's gate and q351's confusion suite so both oracles
    * replay the IDENTICAL predictor. */
  private[queries] def langPredSql: String = {
    def hits(words: Seq[String]): String =
      s"len(list_filter($toksSql, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"
    val h = langProfiles.map { case (l, ws) => l -> hits(ws) }.toMap
    // identical cascade: a language wins iff it strictly beats all earlier
    // profiles and ties-or-beats all later ones
    val langs = langProfiles.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val conds =
        langs.take(i).map(e => s"${h(l)} > ${h(e)}") ++
        langs.drop(i + 1).map(e => s"${h(l)} >= ${h(e)}")
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE 'und' END"
  }

  val q33Oracle: String = {
    def hits(words: Seq[String]): String =
      s"len(list_filter($toksSql, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"
    val h = langProfiles.map { case (l, ws) => l -> hits(ws) }.toMap
    val langs = langProfiles.map(_._1)
    s"""SELECT doc_id, lang AS lang_label,
       |  $langPredSql AS lang_pred,
       |  ${langs.map(l => s"CAST(${h(l)} AS INTEGER) AS hits_$l").mkString(",\n  ")}
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** BPE-ish regex-lexer token counting (letter runs / digit runs / symbols). */
  def q34TokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        wordTokenCount(col("text")).cast(IntegerType).as("n_word_tokens"),
        numberTokenCount(col("text")).cast(IntegerType).as("n_number_tokens"),
        symbolTokenCount(col("text")).cast(IntegerType).as("n_symbol_tokens"))
      .orderBy(col("doc_id"))

  val q34Oracle: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_word_tokens,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_number_tokens,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_symbol_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Order-sensitive rolling-hash document fingerprint. The oracle
    * replays the fold in DuckDB: list_reduce has no initial accumulator,
    * but the fold's first step from acc=0 is `0*31 + u1 = u1` — exactly
    * list_reduce's seed — so the two are step-identical.
    */
  def q35Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val q35Oracle: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    list_transform(regexp_split_to_array(trim(text), '\s+'),
      |      t -> CAST(ascii(t) AS BIGINT) * 131 + length(t)) AS us
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN len(us) = 0 THEN CAST(0 AS BIGINT)
      |       ELSE list_reduce(us, (a, b) -> (a * 31 + b) % 2147483647) END AS fp
      |FROM u
      |ORDER BY doc_id""".stripMargin

  /** Vocabulary build + document encoding — the tokenize-to-ids step
    * between cleaning and sequence packing (q64): the top-256 tokens by
    * corpus frequency (deterministic tie-break on the token string) get
    * dense ids by rank; every document becomes its id sequence, OOV
    * tokens → -1. Scale shape: the vocab is a TakeOrdered over the
    * (token, count) aggregate — tiny by construction — broadcast back
    * over the exploded corpus; sequence order is restored by sorting on
    * the captured token position, never by shuffle luck. The id array is
    * emitted content-addressed (md5 of the comma-joined ids — the q82
    * recipe, since the driver compare cannot sort raw array cells).
    */
  def q109VocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val byFreq = Window.orderBy(col("n").desc, col("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(256)
      .select(col("tok"), (row_number().over(byFreq) - 1).as("tok_id"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("tok_id"), lit(-1)).as("id"))
      .groupBy(col("doc_id"))
      .agg(
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("id")))),
            x => x.getField("id").cast(StringType)), ",")).as("ids_md5"),
        count(lit(1)).as("n_tokens"),
        count(when(col("id") === -1, 1)).as("n_oov"))
      .orderBy(col("doc_id"))
  }

  val q109Oracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH t AS (
       |  SELECT doc_id, u.s['pos'] AS pos, u.s['tok'] AS tok
       |  FROM (SELECT doc_id, unnest(list_transform($toks,
       |          (x, i) -> {'tok': x, 'pos': i})) AS s FROM documents) u),
       |vocab AS (
       |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) - 1 AS INTEGER) AS tok_id
       |  FROM (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok
       |        ORDER BY n DESC, tok LIMIT 256))
       |SELECT doc_id,
       |  md5(string_agg(CAST(COALESCE(tok_id, -1) AS VARCHAR), ',' ORDER BY pos)) AS ids_md5,
       |  COUNT(*) AS n_tokens,
       |  COUNT(*) FILTER (tok_id IS NULL) AS n_oov
       |FROM t LEFT JOIN vocab USING (tok)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** SUBWORD/BPE token counting — the sequence-length budget every
    * training pipeline actually uses (whitespace counts, q34's statistic,
    * underestimate rare words that fragment into many pieces): each word
    * is segmented by greedy longest-match over a fixed subword vocabulary
    * inside the codegen'd [[graft.expressions.BpeTokenCount]] expression,
    * and the document reports word count, subword count, and fertility
    * (subwords per word — the tokenizer-budget multiplier). The vocabulary
    * here is a small fixed English-merge table so the DuckDB oracle can
    * replay the exact greedy walk with a recursive CTE; a production vocab
    * (50k pieces) drops into the same expression unchanged.
    *
    * Scale shape: PROJECTION-ONLY like q136 — no explode, no join; the
    * vocab rides inside the expression (task-broadcast) and the only
    * exchange is the output ORDER BY.
    */
  def q137BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_words"),
        graft.expressions.BpeTokenCount
          .bpeTokenCount(col("toks"), BpeVocab).as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        (col("n_subwords").cast(DoubleType) / col("n_words")).as("fertility"))
      .orderBy(col("doc_id"))

  /** Fixed merge vocabulary (2–4-char English subword pieces). Single
    * characters need no entries: an unmatched position consumes one char
    * as UNK, which counts identically.
    */
  val BpeVocab: Seq[String] = Seq(
    "tion", "atio", "ther", "ight", "ough", "ment", "ing",
    "the", "and", "ent", "ion", "ter", "est", "ers", "ate",
    "all", "her", "his", "ver", "ith", "res", "con", "pro",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
    "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le",
    "ve", "co", "me", "de", "hi", "ri", "ro", "ic")

  val q137Oracle: String = {
    val vocabRows = BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
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
       |done AS (SELECT doc_id, i, ntok FROM seg WHERE pos = length(word) + 1)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(ntok) AS BIGINT) AS n_subwords,
       |  CAST(CAST(SUM(ntok) AS BIGINT) AS DOUBLE) / COUNT(*) AS fertility
       |FROM done
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** PER-LANGUAGE TOKENIZER FERTILITY (q275) — q137's per-doc fertility
    * rolled up to the multilingual health report: per lang, word volume,
    * subword volume, and fertility in EXACT ppm (subwords·10⁶ div words —
    * the integer form a gate can hash, vs q137's per-doc double). High
    * fertility is the "this vocab can't spell that language" signal —
    * the per-language complement to q195's UNK-rate report (q195 says
    * which pieces fall back to UNK, this prices the sequence-length tax
    * the model pays for it). Budget planners multiply corpus word counts
    * by exactly this number.
    *
    * Scale shape: projection-only segmentation (codegen'd
    * [[graft.expressions.BpeTokenCount]], vocab task-broadcast), then one
    * ~10²-key aggregate with map-side combine. No explode, no join.
    */
  def q275LangFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), tokens(col("text")).as("toks"))
      .select(col("lang"), size(col("toks")).cast(LongType).as("nw"),
        graft.expressions.BpeTokenCount
          .bpeTokenCount(col("toks"), BpeVocab).as("ns"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("ns")).as("n_subwords"))
      .withColumn("fertility_ppm",
        expr("n_subwords * 1000000L div n_words"))
      .orderBy(col("lang"))

  val q275Oracle: String = {
    val vocabRows = BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
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
       |done AS (SELECT doc_id, i, ntok FROM seg WHERE pos = length(word) + 1),
       |per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw,
       |    CAST(SUM(ntok) AS BIGINT) AS ns
       |  FROM done GROUP BY doc_id)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(nw) AS BIGINT) AS n_words,
       |  CAST(SUM(ns) AS BIGINT) AS n_subwords,
       |  CAST(SUM(ns) AS BIGINT) * 1000000 // CAST(SUM(nw) AS BIGINT)
       |    AS fertility_ppm
       |FROM per JOIN d USING (doc_id)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** Sequence packing on the REAL token budget — q64's packing pass
    * re-based from whitespace counts onto q137's greedy-BPE subword
    * counts (whitespace underestimates exactly the rare fragmenting words
    * a budget exists for): documents stream (per language, in id order)
    * into 4096-subword training bins. The per-doc count is the codegen'd
    * [[graft.expressions.BpeTokenCount]] projection; the running cumsum
    * rides [[PrefixSum.runningTotal]] (lang is a ~5-value key — the
    * window form would put the corpus in 5 tasks). Oracle: the q137
    * recursive-CTE greedy replay feeding a window cumsum.
    */
  def q138BpePacking(spark: SparkSession, dir: String): DataFrame =
    bpePackingFrame(spark, dir).orderBy(col("lang"), col("doc_id"))

  /** The (lang, doc_id, n_subwords, cum_subwords, bin) assignment frame
    * shared by q138 (per-doc view) and q139 (per-bin manifest).
    */
  private def bpePackingFrame(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        graft.expressions.BpeTokenCount
          .bpeTokenCount(tokens(col("text")), BpeVocab).as("n_subwords"))
    PrefixSum
      .runningTotal(scored, Seq("lang"), Seq(col("doc_id")), "n_subwords", "cum_subwords")
      .withColumn("bin", floor((col("cum_subwords") - 1) / 4096).cast(IntegerType))
  }

  /** PACK MANIFEST — the per-bin view of q138's assignment: for every
    * (lang, bin) training sequence, the documents that land in it (in
    * stream order, content-addressed by md5 of the comma-joined ids — the
    * q109/q82 recipe for array-valued gates), their count, the bin's
    * subword total, and its fill ratio against the 4096 budget (interior
    * bins sit near 1.0 by construction; each language's last bin is
    * partial). This is the artifact a packing pass actually hands the
    * trainer: which documents concatenate into which sequence.
    *
    * Scale shape: the q138 scaffold plus ONE further aggregate keyed by
    * (lang, bin) — bin cardinality grows with the corpus (total subwords /
    * 4096), so the added exchange is high-cardinality and skew-free.
    */
  def q139PackManifest(spark: SparkSession, dir: String): DataFrame =
    bpePackingFrame(spark, dir)
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_subwords")).as("bin_subwords"),
        md5(array_join(
          transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast(StringType)), ",")).as("ids_md5"))
      .withColumn("fill_ratio", col("bin_subwords").cast(DoubleType) / 4096.0)
      .orderBy(col("lang"), col("bin"))

  val q139Oracle: String = {
    val vocabRows = BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
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
       |  SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS n_subwords
       |  FROM seg WHERE pos = length(word) + 1 GROUP BY doc_id),
       |assigned AS (
       |  SELECT lang, doc_id, n_subwords,
       |    CAST(FLOOR((CAST(SUM(n_subwords) OVER (PARTITION BY lang ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1)
       |      / 4096) AS INTEGER) AS bin
       |  FROM counts JOIN d USING (doc_id))
       |SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_subwords) AS BIGINT) AS bin_subwords,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5,
       |  CAST(CAST(SUM(n_subwords) AS BIGINT) AS DOUBLE) / 4096.0 AS fill_ratio
       |FROM assigned
       |GROUP BY lang, bin
       |ORDER BY lang, bin""".stripMargin
  }

  /** DETERMINISTIC TRAINING-SHARD WRITER (q192) — the last mile every
    * LLM-data pipeline runs: the packed training sequences (q138/q139's
    * (lang, bin) assignment) are globally shuffled into N fixed shards
    * and WRITTEN, with a per-shard manifest (sequence/doc/subword counts
    * + a content md5) that certifies the layout. "Shuffled" must mean
    * DETERMINISTIC: shard = range partition of the md5 keyspace —
    * ⌊prefix32(md5(seq_key)) · N / 2³²⌋ — so placement is a pure function
    * of content (re-runs and retried tasks land every sequence in the
    * same shard; no sampling, no RNG), yet md5 uniformity still balances
    * shard sizes the way a random shuffle would and adjacent corpus
    * order is destroyed (the anti-curriculum property trainers want).
    * The query executes the real write (one file per shard via
    * `repartition(shard)` + `partitionBy`, overwrite → re-run-idempotent)
    * and computes the manifest FROM THE FILES READ BACK — the artifact is
    * certified from disk, not from the plan that produced it.
    *
    * Scale shape: sequence assembly is q139's aggregate; shard assignment
    * is a codegen'd projection; the write adds exactly ONE exchange (the
    * shard repartition — ScaleSpec pins it) and N stays a conf-free
    * constant here (8) standing in for the real shard count; the manifest
    * is an N-row aggregate over the shard files. Nothing touches the
    * driver except the N-row manifest.
    */
  def q192TrainingShards(spark: SparkSession, dir: String): DataFrame = {
    val outDir = graft.util.Staging.dir("graft_training_shards", dir).toString
    shardAssignment(spark, dir)
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_sequences"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("seq_subwords")).as("n_subwords"),
        md5(array_join(array_sort(collect_list(col("skey_md5"))), ","))
          .as("shard_md5"))
      .orderBy(col("shard"))
  }

  /** q192's shard-assigned sequence frame, pre-write: sequences keyed by
    * the deterministic md5-range shard, already repartitioned so one task
    * owns one shard. Exposed for ScaleSpec's plan pin — the shard stage
    * must add exactly ONE exchange (hashpartitioning on shard) and no
    * sampled rangepartitioning (placement must be a pure function of
    * content, never of this run's sampling).
    */
  private[graft] def shardAssignment(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    bpePackingFrame(spark, dir)
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_subwords")).as("seq_subwords"),
        md5(array_join(
          transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast(StringType)), ",")).as("ids_md5"))
      .withColumn("skey_md5",
        md5(concat(col("lang"), lit(":"), col("bin").cast(StringType))))
      .withColumn("shard", expr(
        s"CAST((CAST(conv(substring(skey_md5, 1, 8), 16, 10) AS BIGINT)" +
          s" * $nShards) div 4294967296 AS INTEGER)"))
      .repartition(col("shard"))
  }

  val q192Oracle: String = {
    val vocabRows = BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
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
       |  SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS n_subwords
       |  FROM seg WHERE pos = length(word) + 1 GROUP BY doc_id),
       |assigned AS (
       |  SELECT lang, doc_id, n_subwords,
       |    CAST(FLOOR((CAST(SUM(n_subwords) OVER (PARTITION BY lang ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1)
       |      / 4096) AS INTEGER) AS bin
       |  FROM counts JOIN d USING (doc_id)),
       |seqs AS (
       |  SELECT lang, bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_subwords) AS BIGINT) AS seq_subwords,
       |    md5(lang || ':' || CAST(bin AS VARCHAR)) AS skey_md5
       |  FROM assigned GROUP BY lang, bin),
       |sh AS (
       |  SELECT *, CAST((CAST('0x' || substr(skey_md5, 1, 8) AS BIGINT) * 8)
       |      // 4294967296 AS INTEGER) AS shard
       |  FROM seqs)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_sequences,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(seq_subwords) AS BIGINT) AS n_subwords,
       |  md5(string_agg(skey_md5, ',' ORDER BY skey_md5)) AS shard_md5
       |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** TOKENIZER COVERAGE / OOV REPORT (q195) — the per-language vocabulary
    * health check run before committing to a tokenizer: segment the whole
    * corpus with the production vocab ([[graft.expressions.BpeSegment]],
    * the same walk q137/q188 run), flag every piece that fell back to the
    * single-character UNK path (piece ∉ vocab), and report per language
    * the piece volume, the UNK volume, the exact UNK rate in ppm
    * (DECIMAL-promoted division — piece counts · 10⁶ wraps BIGINT at real
    * corpus scale), and the distinct UNK inventory size (the characters a
    * vocab revision would have to add). A language whose unk_ppm spikes is
    * exactly the one whose scripts the vocab can't spell — the signal
    * multilingual pipelines gate on.
    *
    * Scale shape: segmentation is a codegen'd projection; the explode is
    * the ~3× piece fan-out; the aggregate keys on lang (~10²) AFTER a
    * per-partition partial (count/sum combine map-side; the distinct-UNK
    * count is over the tiny UNK piece inventory). No joins.
    */
  def q195TokenizerCoverage(spark: SparkSession, dir: String): DataFrame = {
    val vocabArr = array(BpeVocab.map(lit(_)): _*)
    Tables.documents(spark, dir)
      .select(col("lang"),
        explode(graft.expressions.BpeSegment
          .bpeSegment(tokens(col("text")), BpeVocab)).as("piece"))
      .withColumn("unk", !array_contains(vocabArr, col("piece")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pieces"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("n_unk"),
        countDistinct(when(col("unk"), col("piece"))).as("distinct_unk_pieces"))
      .select(col("lang"), col("n_pieces"), col("n_unk"),
        expr("CAST(CAST(n_unk AS DECIMAL(38,0)) * 1000000" +
          " div n_pieces AS BIGINT)").as("unk_ppm"),
        col("distinct_unk_pieces"))
      .orderBy(col("lang"))
  }

  val q195Oracle: String = {
    val vocabRows = BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
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
       |pl AS (
       |  SELECT d2.lang, s.piece,
       |    s.piece NOT IN (SELECT piece FROM vocab) AS unk
       |  FROM seg s JOIN (SELECT doc_id, lang FROM documents) d2 USING (doc_id)
       |  WHERE s.piece IS NOT NULL)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pieces,
       |  CAST(SUM(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       |  CAST(CAST(SUM(CASE WHEN unk THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
       |    // COUNT(*) AS BIGINT) AS unk_ppm,
       |  CAST(COUNT(DISTINCT CASE WHEN unk THEN piece END) AS BIGINT)
       |    AS distinct_unk_pieces
       |FROM pl GROUP BY lang ORDER BY lang""".stripMargin
  }

  val q138Oracle: String = {
    val vocabRows = BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
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
       |  SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS n_subwords
       |  FROM seg WHERE pos = length(word) + 1 GROUP BY doc_id)
       |SELECT lang, doc_id, n_subwords, cum_subwords,
       |  CAST(FLOOR((cum_subwords - 1) / 4096) AS INTEGER) AS bin
       |FROM (
       |  SELECT d.lang, c.doc_id, c.n_subwords,
       |    CAST(SUM(c.n_subwords) OVER (PARTITION BY d.lang ORDER BY c.doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_subwords
       |  FROM counts c JOIN d ON c.doc_id = d.doc_id)
       |ORDER BY lang, doc_id""".stripMargin
  }

  /** MULTI-EPOCH SHUFFLE PLAN (q214) — the data-order schedule a trainer
    * consumes ABOVE q192's shards: every epoch must visit every packed
    * sequence exactly once, in a DIFFERENT order each epoch, and the
    * order must be a pure function of content + epoch number (resumable
    * mid-epoch, reproducible across re-runs, no RNG state to checkpoint).
    * Order key = md5(epoch ‖ sequence key); the global rank within each
    * epoch comes from the distributed two-pass prefix-sum scaffold (q149's
    * range-exchange discipline, NOT a one-partition window); shards are
    * equal-depth rank ranges — ⌊(rank−1)·N/total⌋ — so every epoch's
    * shards are balanced BY COUNT regardless of the md5 keyspace's
    * clumping. Output: the (epoch × shard) manifest — sequence/doc/subword
    * counts plus an order-certifying md5 over the shard's keys — which is
    * exactly what a dataloader needs to fetch its slice of any epoch.
    * Permutation laws (each epoch is a bijection; epochs disagree on
    * order) are pinned in the spec alongside the oracle's full replay.
    *
    * Scale shape: the epoch fan-out is a tiny crossJoin (3 epochs), the
    * rank is two passes over the sequence frame (corpus-sized but narrow),
    * and the manifest is an (epochs × N)-row aggregate. Nothing touches
    * the driver; placement is content arithmetic all the way down.
    */
  def q214EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val nEpochs = 3
    val seqs = bpePackingFrame(spark, dir)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_subwords")).as("seq_subwords"))
      .withColumn("skey_md5",
        md5(concat(col("lang"), lit(":"), col("bin").cast(StringType))))
    val epochs = seqs.crossJoin(
        spark.range(0, nEpochs).select(col("id").cast(IntegerType).as("epoch")))
      .withColumn("ekey",
        md5(concat(col("epoch").cast(StringType), lit(":"), col("skey_md5"))))
      .withColumn("one", lit(1L))
    val ranked = PrefixSum.runningTotal(
      epochs, Seq("epoch"), Seq(col("ekey").asc), "one", "rk")
    val total = seqs.agg(count(lit(1)).as("n_seq"))
    ranked.crossJoin(total)
      .withColumn("shard", expr(s"CAST(((rk - 1) * $nShards) div n_seq AS INTEGER)"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_sequences"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("seq_subwords")).as("n_subwords"),
        md5(array_join(array_sort(collect_list(col("ekey"))), ","))
          .as("order_md5"))
      .orderBy(col("epoch"), col("shard"))
  }

  val q214Oracle: String = {
    val vocabRows = BpeVocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
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
       |  SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS n_subwords
       |  FROM seg WHERE pos = length(word) + 1 GROUP BY doc_id),
       |assigned AS (
       |  SELECT lang, doc_id, n_subwords,
       |    CAST(FLOOR((CAST(SUM(n_subwords) OVER (PARTITION BY lang ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1)
       |      / 4096) AS INTEGER) AS bin
       |  FROM counts JOIN d USING (doc_id)),
       |seqs AS (
       |  SELECT lang, bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_subwords) AS BIGINT) AS seq_subwords,
       |    md5(lang || ':' || CAST(bin AS VARCHAR)) AS skey_md5
       |  FROM assigned GROUP BY lang, bin),
       |eps AS (
       |  SELECT s.*, e.epoch,
       |    md5(CAST(e.epoch AS VARCHAR) || ':' || s.skey_md5) AS ekey
       |  FROM seqs s, range(0, 3) e(epoch)),
       |r AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY ekey) AS rk,
       |    COUNT(*) OVER (PARTITION BY epoch) AS n_seq
       |  FROM eps)
       |SELECT CAST(epoch AS INTEGER) AS epoch,
       |  CAST((rk - 1) * 8 // n_seq AS INTEGER) AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_sequences,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(seq_subwords) AS BIGINT) AS n_subwords,
       |  md5(string_agg(ekey, ',' ORDER BY ekey)) AS order_md5
       |FROM r
       |GROUP BY epoch, (rk - 1) * 8 // n_seq
       |ORDER BY epoch, shard""".stripMargin
  }

  /** LEXICAL-DIVERSITY PROFILE PER SOURCE (q224) — the corpus-linguistics
    * health panel: token occurrences, distinct vocabulary, type-token
    * ratio, and the hapax-legomena share (words seen exactly once — the
    * canonical "is this source templated or organic?" signal: template
    * mills have tiny hapax shares, organic text large ones). All ratios
    * in exact ppm via integral division — no floats cross the engines.
    *
    * Scale shape: one (source, word) hash-agg (map-side combine eats the
    * Zipf head), then a |vocab|-bounded rollup per source. Nothing
    * global, nothing all-pairs, no windows.
    */
  def q224LexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(spark, dir)
      .select(col("source"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_vocab"), col("n_hapax"),
        expr("CAST(n_vocab AS DECIMAL(38,0)) * 1000000 div n_tokens")
          .cast("long").as("ttr_ppm"),
        expr("CASE WHEN n_vocab = 0 THEN NULL ELSE " +
          "CAST(CAST(n_hapax AS DECIMAL(38,0)) * 1000000 div n_vocab AS BIGINT) END")
          .as("hapax_ppm"))
      .orderBy(col("source"))
  }

  val q224Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH wc AS (
       |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($toksSql) AS w FROM documents)
       |  GROUP BY source, w),
       |g AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_vocab,
       |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |  FROM wc GROUP BY source)
       |SELECT source, n_tokens, n_vocab, n_hapax,
       |  CAST(CAST(n_vocab AS HUGEINT) * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
       |  CASE WHEN n_vocab = 0 THEN NULL ELSE
       |    CAST(CAST(n_hapax AS HUGEINT) * 1000000 // n_vocab AS BIGINT) END AS hapax_ppm
       |FROM g
       |ORDER BY source""".stripMargin
  }

  /** TEXTRANK KEYWORD EXTRACTION (q239) — Mihalcea & Tarau's classic:
    * PageRank over the word ADJACENCY graph (distinct undirected bigram
    * pairs, self-loops dropped) surfaces the corpus's structurally
    * central vocabulary — the words everything else attaches to — which
    * frequency alone misranks. Reuses q142's integer-scaled PageRank
    * recipe verbatim: ranks at 10⁹ scale, `r div outdeg` contributions,
    * 0.85 damping as (85·cin) div 100, three unrolled iterations — every
    * step exact integer arithmetic, so the oracle replays rank-for-rank.
    * Output: global top-20 by final rank (TakeOrderedAndProject).
    *
    * Scale shape: the graph is VOCABULARY-sized regardless of corpus
    * volume (distinct pairs); the unrolled join tree shuffles on the
    * word key, edge exchange planned once (ReusedExchange).
    */
  def q239TextrankKeywords(spark: SparkSession, dir: String): DataFrame = {
    val toksCol = tokens(col("text"))
    val one = Tables.documents(spark, dir)
      .select(explode(when(size(toksCol) < 2, array())
        .otherwise(transform(sequence(lit(1), size(toksCol) - 1),
          i => struct(element_at(toksCol, i).as("w1"),
            element_at(toksCol, i + 1).as("w2"))))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .distinct()
    val edges = one.select(col("w1").as("src"), col("w2").as("dst"))
      .unionByName(one.select(col("w2").as("src"), col("w1").as("dst")))
      .distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val init = deg.select(col("src").as("node"), lit(1000000000L).as("r"))
    def step(ranks: DataFrame): DataFrame = {
      val contrib = edges
        .join(deg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cin"))
      deg.select(col("src").as("node"))
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(150000000L) + expr("(85 * coalesce(cin, 0L)) div 100")).as("r"))
    }
    step(step(step(init)))
      .select(col("node").as("word"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("word"))
      .limit(20)
  }

  val q239Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    def stepSql(i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS cin
         |  FROM edges e JOIN deg d ON d.src = e.src
         |  JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT deg.src AS node,
         |    CAST(150000000 + (85 * COALESCE(c$i.cin, 0)) // 100 AS BIGINT) AS r
         |  FROM deg LEFT JOIN c$i ON c$i.dst = deg.src)""".stripMargin
    s"""WITH d AS (SELECT $toksSql AS toks FROM documents),
       |bg AS (
       |  SELECT DISTINCT w1, w2 FROM (
       |    SELECT toks[i] AS w1, toks[i + 1] AS w2
       |    FROM d, UNNEST(range(1, len(toks))) AS r(i)
       |    WHERE len(toks) >= 2)
       |  WHERE w1 <> w2),
       |edges AS (
       |  SELECT w1 AS src, w2 AS dst FROM bg
       |  UNION
       |  SELECT w2, w1 FROM bg),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY src),
       |r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS r FROM deg),
       |${stepSql(1)},
       |${stepSql(2)},
       |${stepSql(3)}
       |SELECT node AS word, r AS rank_scaled
       |FROM r3
       |ORDER BY rank_scaled DESC, word
       |LIMIT 20""".stripMargin
  }

  /** SOURCE-SIMILARITY MATRIX (q253) — pairwise vocabulary cosine
    * between sources, SQUARED to stay rational: cos²·10⁶ =
    * (Σ c₁c₂)²·10⁶ div (Σc₁²·Σc₂²) over per-source word-count vectors.
    * The corpus-redundancy map: two sources at cos² ≈ 1 are the same
    * feed under different names — dedup them at the SOURCE level before
    * paying document-level LSH for millions of their rows. All-pairs
    * over SOURCES (tiny), never documents; every moment exact integer.
    *
    * Scale shape: one (source, word) hash-agg, a word-keyed self-join
    * for the dot products (vocabulary-bounded), a |source|²/2 rollup.
    */
  def q253SourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val norms = wc.groupBy(col("source"))
      .agg(sum(col("c") * col("c")).as("n2"))
    val dots = wc.as("a").join(wc.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    dots
      .join(norms.select(col("source").as("src_a"), col("n2").as("n2a")), "src_a")
      .join(norms.select(col("source").as("src_b"), col("n2").as("n2b")), "src_b")
      .select(col("src_a"), col("src_b"), col("dot"),
        expr("""CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000
          | div (CAST(n2a AS DECIMAL(38,0)) * n2b) AS BIGINT)"""
          .stripMargin).as("cos2_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q253Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH wc AS (
       |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($toksSql) AS w FROM documents)
       |  GROUP BY source, w),
       |norms AS (
       |  SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2
       |  FROM wc GROUP BY source),
       |dots AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(SUM(a.c * b.c) AS BIGINT) AS dot
       |  FROM wc a JOIN wc b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT d.src_a, d.src_b, d.dot,
       |  CAST(CAST(d.dot AS HUGEINT) * d.dot * 1000000
       |    // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2_ppm
       |FROM dots d
       |JOIN norms na ON na.source = d.src_a
       |JOIN norms nb ON nb.source = d.src_b
       |ORDER BY d.src_a, d.src_b""".stripMargin
  }

  /** BIGRAM NEXT-WORD PREDICTOR EVAL (q254) — the simplest language
    * model, trained and evaluated in-engine: the global bigram table
    * predicts each word's most frequent successor (ties to the
    * lexicographically last, via struct-max — the same rule in both
    * engines), and per-source top-1 accuracy over every positional
    * bigram occurrence is the score. This is the "how predictable is
    * this corpus" probe: template mills score near 1, organic text
    * much lower — a corpus-health signal that needs no external model.
    * Training accuracy by design (eval on the training corpus) — the
    * point is the corpus statistic, not generalization.
    *
    * Scale shape: two (word-pair) hash-aggs, a vocabulary-sized argmax,
    * a broadcastable predictor joined back onto the occurrence stream.
    */
  def q254BigramPredictor(spark: SparkSession, dir: String): DataFrame = {
    val toksCol = tokens(col("text"))
    val occ = Tables.documents(spark, dir)
      .select(col("source"),
        explode(when(size(toksCol) < 2, array())
          .otherwise(transform(sequence(lit(1), size(toksCol) - 1),
            i => struct(element_at(toksCol, i).as("w1"),
              element_at(toksCol, i + 1).as("w2"))))).as("bg"))
      .select(col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pred = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .groupBy(col("w1"))
      .agg(max(struct(col("c"), col("w2"))).getField("w2").as("pred"))
    occ.join(broadcast(pred), "w1")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("w2") === col("pred"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("source"), col("n_pairs"), col("n_correct"),
        expr("n_correct * 1000000L div n_pairs").as("acc_ppm"))
      .orderBy(col("source"))
  }

  val q254Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH occ AS (
       |  SELECT source, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT source, $toksSql AS toks FROM documents),
       |    UNNEST(range(1, len(toks))) AS r(i)
       |  WHERE len(toks) >= 2),
       |bc AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM occ GROUP BY w1, w2),
       |pred AS (
       |  SELECT w1, (max({'c': c, 'w2': w2})).w2 AS pred
       |  FROM bc GROUP BY w1)
       |SELECT occ.source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CASE WHEN occ.w2 = pred.pred THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(CAST(SUM(CASE WHEN occ.w2 = pred.pred THEN 1 ELSE 0 END)
       |    AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
       |FROM occ JOIN pred ON pred.w1 = occ.w1
       |GROUP BY occ.source
       |ORDER BY occ.source""".stripMargin
  }

  /** VOCABULARY COVERAGE CURVE (q260) — the tokenizer-sizing statistic:
    * rank words by corpus frequency (ties lexicographic) and report,
    * at each cutoff k ∈ {10, 20, 50, 100, 1000}, how much of the token
    * MASS the top-k vocabulary covers (exact ppm) and how many words
    * the cutoff actually retains (min(k, |vocab|)). This is the curve
    * that decides vocab size before training a tokenizer: where it
    * flattens, bigger vocabularies buy nothing. Ranks from the
    * prefix-sum scaffold; cumulative mass from the SAME ranked frame.
    *
    * Scale shape: one word hash-agg, one range exchange for the rank,
    * a cutoff-count-sized output.
    */
  def q260VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cutoffs = Seq(10L, 20L, 50L, 100L, 1000L)
    val wc = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("g", lit(0))
    val ranked = graft.functions.PrefixSum.runningTotal(
      wc, Seq("g"), Seq(col("c").desc, col("w").asc), "c", "cum")
      .withColumn("one", lit(1L))
    val ranked2 = graft.functions.PrefixSum.runningTotal(
      ranked, Seq("g"), Seq(col("c").desc, col("w").asc), "one", "rk")
    val tot = wc.agg(sum(col("c")).as("total"), count(lit(1)).as("n_vocab"))
    val cuts = spark.createDataFrame(cutoffs.map(Tuple1(_))).toDF("k")
    ranked2.crossJoin(broadcast(cuts))
      .filter(col("rk") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("cum")).as("mass"), count(lit(1)).as("n_words"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_words"),
        expr("mass * 1000000L div total").as("coverage_ppm"),
        col("n_vocab"))
      .orderBy(col("k"))
  }

  val q260Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH wc AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest($toksSql) AS w FROM documents)
       |  GROUP BY w),
       |r AS (
       |  SELECT w, c,
       |    SUM(c) OVER (ORDER BY c DESC, w
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    row_number() OVER (ORDER BY c DESC, w) AS rk
       |  FROM wc),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
       |        CAST(COUNT(*) AS BIGINT) AS n_vocab FROM wc),
       |cuts(k) AS (VALUES (10), (20), (50), (100), (1000))
       |SELECT CAST(cuts.k AS BIGINT) AS k,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(CAST(MAX(cum) AS HUGEINT) * 1000000 // t.total AS BIGINT)
       |    AS coverage_ppm,
       |  t.n_vocab
       |FROM r JOIN cuts ON r.rk <= cuts.k
       |CROSS JOIN t
       |GROUP BY cuts.k, t.total, t.n_vocab
       |ORDER BY k""".stripMargin
  }

  /** ZIPF SLOPE DIAGNOSTIC (q291) — is this corpus natural-language-
    * shaped? Natural text's rank-frequency curve is a power law with
    * exponent ≈ −1; machine-generated or template-stuffed corpora bend
    * it. The top-1024 terms are ranked (count desc, term tiebreak), both
    * axes are quantized to the exact integer ⌊log₂⌋+1 = length(bin(x))
    * (the q206 recipe — bit-identical in both engines, no float logs),
    * and the OLS slope over the quantized points comes out in exact
    * milli-units via q283's DECIMAL(38) rational. A slope far from
    * −1000 milli is the "this isn't prose" alarm corpus intake runs.
    *
    * Scale shape: one tokenize-explode aggregate, a 1024-row TakeOrdered
    * head, then constant-size arithmetic. The window ranks 1024 rows,
    * never the corpus.
    */
  def q291ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(1024)
    val pts = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("term"))))
      .select(length(bin(col("rank"))).cast(LongType).as("x"),
        length(bin(col("cnt"))).cast(LongType).as("y"))
    pts.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(expr("x * x")).as("sum_xx"), sum(expr("x * y")).as("sum_xy"))
      .select(col("n_terms"), col("sum_x"), col("sum_y"),
        expr(
          "CAST((CAST(n_terms AS DECIMAL(38,0)) * sum_xy - " +
            "CAST(sum_x AS DECIMAL(38,0)) * sum_y) * 1000 div " +
            "(CAST(n_terms AS DECIMAL(38,0)) * sum_xx - " +
            "CAST(sum_x AS DECIMAL(38,0)) * sum_x) AS BIGINT)")
          .as("zipf_slope_milli"))
  }

  val q291Oracle: String =
    """WITH c AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents)
      |  GROUP BY term),
      |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 1024),
      |pts AS (
      |  SELECT
      |    CAST(length(bin(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term)
      |      AS BIGINT))) AS BIGINT) AS x,
      |    CAST(length(bin(cnt)) AS BIGINT) AS y
      |  FROM top),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
      |    CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
      |    CAST(SUM(x * x) AS BIGINT) AS sum_xx,
      |    CAST(SUM(x * y) AS BIGINT) AS sum_xy
      |  FROM pts)
      |SELECT n_terms, sum_x, sum_y,
      |  CAST((CAST(n_terms AS HUGEINT) * sum_xy
      |      - CAST(sum_x AS HUGEINT) * sum_y) * 1000
      |    // (CAST(n_terms AS HUGEINT) * sum_xx
      |      - CAST(sum_x AS HUGEINT) * sum_x) AS BIGINT)
      |    AS zipf_slope_milli
      |FROM s""".stripMargin

  /** TERM BURSTINESS — FANO FACTOR (q293) — the Church–Gale signal that
    * separates FUNCTION words from TOPICAL words: per top-20 term, the
    * dispersion of its per-document counts (zeros included — a term
    * absent from a doc is data, which is why the stats run against the
    * corpus-wide doc count N). Poisson scatter ⇒ Fano ≈ 1000 milli
    * (function words); bursty topical words run far above — and a
    * "keyword" whose Fano sits at 1000 is spam-stuffed uniformly, not
    * written. Exact integers: Fano·1000 = (N·Σx² − (Σx)²)·1000 div
    * (Σx·(N−1)), numerator non-negative by Cauchy–Schwarz; promote to
    * DECIMAL(38) at real corpus scale (q283's discipline).
    *
    * Scale shape: one (term, doc) aggregate, a 20-row TakeOrdered term
    * head broadcast back, a 1-row N crossJoin — no corpus window.
    */
  def q293TermBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val top = tf.groupBy(col("term")).agg(sum(col("tf")).as("total_tf"))
      .orderBy(col("total_tf").desc, col("term")).limit(20)
      .select(col("term"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(top), "term")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("sum_x"),
        sum(expr("tf * tf")).as("sum_x2"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"), col("sum_x").as("total_tf"),
        expr(
          "CAST((CAST(n_docs AS DECIMAL(38,0)) * sum_x2 - " +
            "CAST(sum_x AS DECIMAL(38,0)) * sum_x) * 1000 div " +
            "(CAST(sum_x AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)")
          .as("fano_milli"))
      .orderBy(col("fano_milli").desc, col("term"))
  }

  val q293Oracle: String =
    """WITH tf AS (
      |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents)
      |  GROUP BY term, doc_id),
      |top AS (
      |  SELECT term FROM (
      |    SELECT term, SUM(tf) AS total FROM tf GROUP BY term)
      |  ORDER BY total DESC, term LIMIT 20),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
      |SELECT tf.term,
      |  CAST(COUNT(*) AS BIGINT) AS df,
      |  CAST(SUM(tf) AS BIGINT) AS total_tf,
      |  CAST((CAST(n.n_docs AS HUGEINT) * SUM(tf * tf)
      |      - CAST(SUM(tf) AS HUGEINT) * SUM(tf)) * 1000
      |    // (CAST(SUM(tf) AS HUGEINT) * (n.n_docs - 1)) AS BIGINT)
      |    AS fano_milli
      |FROM tf JOIN top USING (term) CROSS JOIN n
      |GROUP BY tf.term, n.n_docs
      |ORDER BY fano_milli DESC, tf.term""".stripMargin

  /** HEAPS-LAW VOCABULARY GROWTH (q311) — vocabulary size as a function
    * of corpus prefix: ingest the corpus in doc_id order, checkpoint at
    * ten equal-width doc_id prefixes, and report cumulative docs, tokens,
    * vocabulary, the NEW types each slice contributed, and the
    * type–token ratio in ppm. Heaps' law predicts V ∝ nᵝ (β ≈ 0.4–0.6
    * for natural text): a growth curve that stays LINEAR means the
    * corpus keeps minting types (OCR noise, serial numbers, boilerplate
    * mutations — q291's Zipf alarm seen from the other side), while one
    * that flattens early signals near-duplicate re-crawls. q281's Chao1
    * asks "how much vocabulary is left"; this asks "how fast are we
    * buying it" — the intake diagnostic per increment of corpus.
    *
    * Each term contributes to exactly ONE slice — its FIRST occurrence
    * (min doc_id, then bucketed) — so vocabulary never double-counts;
    * cumulative curves are a 10-row running sum. No global sort and no
    * rank machinery: slices are equal-width doc_id bands off a 1-row
    * min/max broadcast, so the whole operator is two corpus-keyed
    * aggregates (first-occurrence per term; docs/tokens per bucket) and
    * a 10-row window.
    */
  def q311HeapsGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val bounds = docs.agg(min(col("doc_id")).as("mn"),
      (max(col("doc_id")) - min(col("doc_id")) + 1).as("span"))
    def bucketed(df: DataFrame, idCol: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          expr(s"least(9L, ($idCol - mn) * 10 div span)"))
    val perDoc = bucketed(
      docs.select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_toks")), "doc_id")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("docs_in"), sum(col("n_toks")).as("toks_in"))
    val firstOcc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
    val newTypes = bucketed(firstOcc, "first_doc")
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the window runs over the ≤10-row bucket frame only
    perDoc.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("docs_in"), col("toks_in"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("docs_cum", sum(col("docs_in")).over(w))
      .withColumn("toks_cum", sum(col("toks_in")).over(w))
      .withColumn("vocab_cum", sum(col("new_types")).over(w))
      .withColumn("ttr_ppm",
        expr("vocab_cum * 1000000L div toks_cum"))
      .select(col("bucket"), col("docs_cum"), col("toks_cum"),
        col("new_types"), col("vocab_cum"), col("ttr_ppm"))
      .orderBy(col("bucket"))
  }

  val q311Oracle: String =
    """WITH b AS (
      |  SELECT MIN(doc_id) AS mn, MAX(doc_id) - MIN(doc_id) + 1 AS span
      |  FROM documents),
      |d AS (
      |  SELECT least(9, (doc_id - mn) * 10 // span) AS bucket,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
      |  FROM documents CROSS JOIN b),
      |pd AS (
      |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS docs_in,
      |    CAST(SUM(n_toks) AS BIGINT) AS toks_in
      |  FROM d GROUP BY bucket),
      |fo AS (
      |  SELECT term, MIN(doc_id) AS first_doc
      |  FROM (SELECT doc_id,
      |          unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents)
      |  GROUP BY term),
      |nt AS (
      |  SELECT least(9, (first_doc - mn) * 10 // span) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS new_types
      |  FROM fo CROSS JOIN b GROUP BY 1),
      |j AS (
      |  SELECT pd.bucket, docs_in, toks_in,
      |    COALESCE(nt.new_types, 0) AS new_types
      |  FROM pd LEFT JOIN nt ON nt.bucket = pd.bucket),
      |c AS (
      |  SELECT bucket, new_types,
      |    SUM(docs_in) OVER (ORDER BY bucket) AS docs_cum,
      |    SUM(toks_in) OVER (ORDER BY bucket) AS toks_cum,
      |    SUM(new_types) OVER (ORDER BY bucket) AS vocab_cum
      |  FROM j)
      |SELECT bucket, CAST(docs_cum AS BIGINT) AS docs_cum,
      |  CAST(toks_cum AS BIGINT) AS toks_cum, new_types,
      |  CAST(vocab_cum AS BIGINT) AS vocab_cum,
      |  CAST(CAST(vocab_cum AS HUGEINT) * 1000000
      |    // CAST(toks_cum AS HUGEINT) AS BIGINT) AS ttr_ppm
      |FROM c
      |ORDER BY bucket""".stripMargin

  /** BOILERPLATE PHRASE MINING (q334) — the exact-phrase complement to
    * q220's PMI collocations: consecutive token TRIPLES (order matters —
    * q300's co-occurrence and q220's bigram lift are both blind to
    * adjacency beyond two words) counted as raw occurrences AND distinct-
    * doc support. A trigram phrase repeated verbatim across many
    * documents is boilerplate (navigation chrome, license headers,
    * template scaffolding) — the strip-list a curation pipeline feeds its
    * cleaner. support_ppm = n_docs·10⁶ div corpus size makes the
    * threshold portable across corpus versions.
    *
    * Scale shape: two lead()s on the doc-partitioned position window
    * (high-cardinality keys, the q326 shape on text); the phrase
    * aggregate collapses onto the observed-trigram axis (far below
    * token volume); top-50 is a TakeOrdered, not a global sort.
    */
  def q334BoilerplatePhrases(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val tri = toks
      .withColumn("w2", lead(col("w"), 1).over(w))
      .withColumn("w3", lead(col("w"), 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("w"), col("w2"), col("w3")).as("phrase"))
    val nDocs = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .agg(count(lit(1)).as("n_corpus"))
    tri.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 3)
      .crossJoin(broadcast(nDocs))
      .select(col("phrase"), col("n_occurrences"), col("n_docs"),
        expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div n_corpus " +
          "AS BIGINT)").as("support_ppm"))
      .orderBy(col("n_docs").desc, col("n_occurrences").desc,
        col("phrase").asc)
      .limit(50)
  }

  val q334Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE doc_id IS NOT NULL),
      |tri AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS phrase
      |  FROM d, UNNEST(range(1, len(t) - 1)) AS r(i)),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM d),
      |agg AS (
      |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM tri GROUP BY 1
      |  HAVING COUNT(DISTINCT doc_id) >= 3)
      |SELECT phrase, n_occurrences, n_docs,
      |  CAST(CAST(n_docs AS HUGEINT) * 1000000 // n_corpus AS BIGINT)
      |    AS support_ppm
      |FROM agg CROSS JOIN nn
      |ORDER BY n_docs DESC, n_occurrences DESC, phrase ASC
      |LIMIT 50""".stripMargin

  /** CHUNK-LENGTH DISTRIBUTION AUDIT (q335) — the audit surface q186's
    * content-defined chunker doesn't emit: q186 proves the RE-SYNC
    * property (a prepended token re-synchronizes within one window, so
    * chunk dedup survives shifts) but says nothing about the LENGTH
    * distribution the boundary rule realizes — and a CDC deployment
    * lives or dies on that histogram (a spike at length 1 or a heavy
    * tail means the hash or modulus is wrong for the token
    * distribution, forcing min/max-size clamps). This operator chunks
    * on the simplest rule in the family (single-token hash ≡ 0 mod 16,
    * expected length = the modulus) and emits the realized-length
    * histogram with ppm shares — the geometric-vs-realized comparison
    * that tunes the modulus before q186's windowed rule ships.
    *
    * Scale shape: tokenize + one cumulative sum on the doc-partitioned
    * position window assigns chunk ids; chunk lengths collapse onto
    * the (doc, chunk) axis and then onto the bounded length axis.
    * Output is the length histogram — tiny by construction.
    */
  def q335CdcChunking(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("b", when(
        expr("CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % 16")
          === 0, 1L).otherwise(0L))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val lens = toks
      .withColumn("chunk", sum(col("b")).over(w) - col("b"))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("chunk_len"))
    val tot = lens.agg(count(lit(1)).as("n_total"))
    lens.groupBy(col("chunk_len"))
      .agg(count(lit(1)).as("n_chunks"))
      .crossJoin(broadcast(tot))
      .select(col("chunk_len"), col("n_chunks"),
        expr("CAST(CAST(n_chunks AS DECIMAL(38,0)) * 1000000 div n_total " +
          "AS BIGINT)").as("share_ppm"))
      .orderBy(col("chunk_len"))
  }

  val q335Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE doc_id IS NOT NULL),
      |tok AS (
      |  SELECT doc_id, i AS pos, t[i] AS w,
      |    CASE WHEN CAST('0x' || substr(md5(t[i]), 1, 8) AS BIGINT) % 16 = 0
      |      THEN 1 ELSE 0 END AS b
      |  FROM d, UNNEST(range(1, len(t) + 1)) AS r(i)),
      |ch AS (
      |  SELECT doc_id, pos, b,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) - b AS chunk
      |  FROM tok),
      |lens AS (
      |  SELECT doc_id, chunk, CAST(COUNT(*) AS BIGINT) AS chunk_len
      |  FROM ch GROUP BY 1, 2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lens)
      |SELECT chunk_len, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // n_total AS BIGINT)
      |    AS share_ppm
      |FROM lens CROSS JOIN tot
      |GROUP BY chunk_len, n_total
      |ORDER BY chunk_len""".stripMargin

  /** READABILITY SCORES (q358) — the curation-filter classic the quality
    * battery (q32 composite, q135 fluency, q136 classifier) lacked: the
    * Flesch reading-ease and Flesch–Kincaid grade formulas over exact
    * integer counts, per source. Words are whitespace tokens (the suite
    * convention), sentences are maximal [.!?]+ runs, syllables are the
    * standard vowel-group proxy ([aeiouyAEIOUY]+ runs — groups cannot
    * span whitespace, so the corpus-level count equals the per-word
    * sum). Both scores are reported in exact milli with the documented
    * truncating divisions on the aggregate ratios:
    *   flesch_milli = 206 835 − ⌊1015·W/S⌋ − ⌊84 600·Y/W⌋
    *   fk_grade_milli = ⌊390·W/S⌋ + ⌊11 800·Y/W⌋ − 15 590
    * (Flesch 1948 / Kincaid 1975 constants ×1000). S and W floor at 1
    * per source so a punctuation-free source reads as one long sentence
    * instead of a division by zero.
    *
    * Scale shape: three codegen'd regexp counts in ONE corpus
    * projection, one map-side-combinable rollup onto the source axis.
    * No joins, no windows.
    */
  def q358Readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        tokenCount(col("text")).cast(LongType).as("w"),
        size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
          .cast(LongType).as("s"),
        size(expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)"))
          .cast(LongType).as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"), sum(col("y")).as("n_syllables"))
      .withColumn("sw", expr("greatest(1L, n_words)"))
      .withColumn("ss", expr("greatest(1L, n_sentences)"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        expr("CAST(206835 - CAST(1015 AS DECIMAL(38,0)) * n_words div ss" +
          " - CAST(84600 AS DECIMAL(38,0)) * n_syllables div sw" +
          " AS BIGINT)").as("flesch_milli"),
        expr("CAST(CAST(390 AS DECIMAL(38,0)) * n_words div ss" +
          " + CAST(11800 AS DECIMAL(38,0)) * n_syllables div sw - 15590" +
          " AS BIGINT)").as("fk_grade_milli"))
      .orderBy(col("source"))

  val q358Oracle: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len($toksSql) AS BIGINT) AS w,
       |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s,
       |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
       |      AS y
       |  FROM documents),
       |m AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(w) AS BIGINT) AS n_words,
       |    CAST(SUM(s) AS BIGINT) AS n_sentences,
       |    CAST(SUM(y) AS BIGINT) AS n_syllables
       |  FROM d GROUP BY 1)
       |SELECT source, n_docs, n_words, n_sentences, n_syllables,
       |  CAST(206835
       |    - CAST(1015 AS HUGEINT) * n_words // GREATEST(1, n_sentences)
       |    - CAST(84600 AS HUGEINT) * n_syllables // GREATEST(1, n_words)
       |    AS BIGINT) AS flesch_milli,
       |  CAST(CAST(390 AS HUGEINT) * n_words // GREATEST(1, n_sentences)
       |    + CAST(11800 AS HUGEINT) * n_syllables // GREATEST(1, n_words)
       |    - 15590 AS BIGINT) AS fk_grade_milli
       |FROM m ORDER BY source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q358_readability", q358Readability, q358Oracle),
    QuerySpec("q334_boilerplate_phrases", q334BoilerplatePhrases, q334Oracle),
    QuerySpec("q335_cdc_chunking", q335CdcChunking, q335Oracle),
    QuerySpec("q311_heaps_growth", q311HeapsGrowth, q311Oracle),
    QuerySpec("q291_zipf_slope", q291ZipfSlope, q291Oracle),
    QuerySpec("q293_term_burstiness", q293TermBurstiness, q293Oracle),
    QuerySpec("q275_lang_fertility", q275LangFertility, q275Oracle),
    QuerySpec("q260_vocab_coverage", q260VocabCoverage, q260Oracle),
    QuerySpec("q254_bigram_predictor", q254BigramPredictor, q254Oracle),
    QuerySpec("q253_source_similarity", q253SourceSimilarity, q253Oracle),
    QuerySpec("q239_textrank_keywords", q239TextrankKeywords, q239Oracle),
    QuerySpec("q224_lexical_diversity", q224LexicalDiversity, q224Oracle),
    QuerySpec("q214_epoch_shuffle", q214EpochShuffle, q214Oracle),
    QuerySpec("q195_tokenizer_coverage", q195TokenizerCoverage, q195Oracle),
    QuerySpec("q192_training_shards", q192TrainingShards, q192Oracle),
    QuerySpec("q139_pack_manifest", q139PackManifest, q139Oracle),
    QuerySpec("q138_bpe_packing", q138BpePacking, q138Oracle),
    QuerySpec("q137_bpe_tokens", q137BpeTokens, q137Oracle),
    QuerySpec("q109_vocab_encode", q109VocabEncode, q109Oracle),
    QuerySpec("q32_text_stats", q32TextStats, q32Oracle),
    QuerySpec("q33_lang_id", q33LangId, q33Oracle),
    QuerySpec("q34_token_counts", q34TokenCounts, q34Oracle),
    QuerySpec("q35_fingerprint", q35Fingerprint, q35Oracle))
}
