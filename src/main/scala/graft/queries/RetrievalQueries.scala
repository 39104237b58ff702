package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions

/** Corpus retrieval primitives: inverted-index construction and ranked
  * keyword search — the text-search tier a training-data platform runs
  * beside its dedup/curation passes (find contaminated docs, audit a
  * source, serve "which documents contain X" without a rescan).
  */
object RetrievalQueries {

  /** Gate-default tunables — same constants feed the conf fallback AND the
    * oracle SQL so defaults cannot drift; the oracle gate must run with the
    * confs unset (see SimilarityQueries' oracle-gate contract note). */
  val KwicTerm = "scan"
  val SimJoinMaxPairingDf = 1000L

  /** Reuse conf for the tier's shared intermediate (see
    * [[termFrequencies]]) — the q269-componentTable / q216-pairTable
    * posture extended to retrieval. */
  val PostingsConf = "spark.graft.postings.table"

  /** The shared (term, doc_id, tf) POSTINGS frame — the one intermediate
    * every retrieval-tier operator re-derives from the corpus: q143's
    * segmented index, q144's BM25 statistics, q154's sparse sim-join,
    * q285's second scorer, q294's relevance labels, and q300's bipartite
    * projection all start from exactly this tokenize → explode →
    * (term, doc_id) count. In gate mode (conf unset) each query derives
    * it so its oracle replays from the raw corpus; in composed mode
    * `spark.graft.postings.table` points at the parquet a
    * [[graft.pipeline.RetrievalRun]] staged once, and every consumer's
    * plan scans that instead of re-tokenizing the corpus — at 100 TB the
    * tokenize+aggregate is the tier's dominant cost, paid once per
    * corpus version, not once per query.
    *
    * The source-level isnotnull(doc_id) matters for the PLAN, not the
    * data (no null doc_ids exist): consumers that join on doc_id would
    * otherwise infer the filter on one branch only, splitting the scan
    * subtrees and defeating exchange reuse — filtered here, every
    * consumer inside one query shares ONE identical
    * scan+explode+aggregate subtree.
    */
  def termFrequencies(spark: SparkSession, dir: String): DataFrame =
    spark.conf.getOption(PostingsConf) match {
      case Some(path) =>
        spark.read.parquet(path)
          .select(col("term"), col("doc_id"), col("tf"))
      case None =>
        Tables.documents(spark, dir)
          .filter(col("doc_id").isNotNull)
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
    }

  /** INVERTED INDEX build, SEGMENTED — the posting list for a term is
    * materialized per corpus segment (doc_id div 100), never whole: a
    * stopword's full posting list at 100 TB is billions of entries, and
    * any plan that `collect_list`s it into one aggregation buffer dies on
    * the hot key. Segmenting bounds every buffer at the segment size
    * (Lucene's shard design, relationally expressed), keeps the
    * (term, segment) shuffle key high-cardinality/skew-free, and the
    * per-segment digests then merge associatively into one term-level
    * digest — exactly how segment indexes merge.
    *
    * Output per term: document frequency, total term frequency, and the
    * md5-of-segment-md5s over "doc:tf" postings in (segment, doc) order —
    * a content address for the whole posting structure, so the oracle
    * verifies every posting of every term without shipping the lists.
    */
  def q143InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFrequencies(spark, dir)
    val seg = tf
      .withColumn("segment", expr("doc_id div 100"))
      .groupBy(col("term"), col("segment"))
      .agg(
        md5(concat_ws(",",
          transform(sort_array(collect_list(struct(col("doc_id"), col("tf")))),
            s => concat(s("doc_id"), lit(":"), s("tf"))))).as("sd"),
        count(lit(1)).as("seg_df"),
        sum(col("tf")).as("seg_tf"))
    seg.groupBy(col("term"))
      .agg(
        sum(col("seg_df")).as("df"),
        sum(col("seg_tf")).as("total_tf"),
        md5(concat_ws("|",
          transform(sort_array(collect_list(struct(col("segment"), col("sd")))),
            s => s("sd")))).as("postings_md5"))
      .orderBy(col("term"))
  }

  val q143Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY term, doc_id),
      |seg AS (
      |  SELECT term, doc_id // 100 AS segment,
      |    md5(string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)) AS sd,
      |    COUNT(*) AS seg_df, SUM(tf) AS seg_tf
      |  FROM tf GROUP BY term, doc_id // 100)
      |SELECT term,
      |  CAST(SUM(seg_df) AS BIGINT) AS df,
      |  CAST(SUM(seg_tf) AS BIGINT) AS total_tf,
      |  md5(string_agg(sd, '|' ORDER BY segment)) AS postings_md5
      |FROM seg GROUP BY term
      |ORDER BY term""".stripMargin

  /** BM25-RANKED keyword search, integer-exact: Okapi BM25 with k1 = 6/5
    * and b = 3/4 — both rational, so with S = Σ dl (corpus token count)
    * and N = doc count, the per-term score
    * idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) clears to the
    * integer ratio 22·tf·S / (10·tf·S + 3·S + 9·dl·N). idf uses the
    * rational surrogate (N − df)·10⁶ div (df + 1) (the log variant's last
    * ulp is engine-specific; the surrogate keeps the same df ordering and
    * the gate exact). One DECIMAL(38,0) multiply-divide per (doc, term) —
    * HUGEINT in the oracle — then an integer sum per doc: bit-identical
    * ranking in both engines at any corpus size.
    *
    * The query is data-derived and deterministic: the 3 most
    * mid-frequency terms (|2·df − N| minimal, ties by term) — the
    * discriminative band, since df ≈ N terms carry no idf signal and
    * df ≈ 1 terms match nothing.
    *
    * Scale shape: ONE corpus scan — the tokenize-explode feeds a single
    * (term, doc_id) aggregate, and every other statistic re-aggregates
    * that frame: dl = Σ tf per doc, dfs = count per term, (N, S) from dl.
    * All consumers of `tf` share one exchange subtree, so the physical
    * plan materializes the explode ONCE (ReusedExchange — PlanSpec
    * asserts the executed plan reads documents.parquet exactly once; the
    * r7 shape tokenized the corpus 3×). Matched postings = |query| · df
    * rows broadcast onto the per-doc length table, so scoring is a
    * map-side join; the final top-20 is a TakeOrdered, no global sort.
    *
    * Arithmetic: every product is promoted into DECIMAL(38,0) (HUGEINT in
    * the oracle) BEFORE multiplying — tf·S alone can pass 2⁶³ at corpus
    * scale, where a Long multiply would wrap silently (non-ANSI) while
    * DuckDB errors: promotion keeps the two engines bit-identical far past
    * the Long wrap point, and the residual DECIMAL(38,0)-vs-HUGEINT gap
    * (10³⁸ vs 2¹²⁷) is guarded LOUDLY — an overflowed (null) score raises
    * via raise_error instead of silently dropping out of the ranking (the
    * q154 discipline).
    */
  def q144Bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFrequencies(spark, dir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("s"))
    val qterms = dfs.join(broadcast(tot))
      .orderBy(abs(col("df") * 2 - col("nn")).asc, col("term").asc)
      .limit(3)
      .select(col("term"), col("df"))
    val matched = tf.join(broadcast(qterms), "term")
    matched.join(broadcast(tot))
      .join(dl, "doc_id")
      .withColumn("idf", expr("(nn - df) * 1000000L div (df + 1)"))
      .withColumn("sc", expr(
        "CAST(idf AS DECIMAL(38,0)) * 22 * tf * s div " +
          "(10 * CAST(tf AS DECIMAL(38,0)) * s + 3 * CAST(s AS DECIMAL(38,0)) " +
          "+ 9 * CAST(dl AS DECIMAL(38,0)) * nn)"))
      // non-ANSI decimal overflow yields NULL silently, and sum() would
      // then skip the row — surface it loudly (the q154 discipline; DuckDB
      // HUGEINT would error here too), both per-term and on the sum
      .withColumn("sc", when(col("sc").isNull,
        expr("raise_error('q144 BM25 term score overflowed DECIMAL(38,0)')"))
        .otherwise(col("sc")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"), sum(col("sc")).as("ssum"))
      .select(col("doc_id"), col("n_terms_matched"),
        when(col("ssum").isNull,
          expr("raise_error('q144 BM25 doc score overflowed DECIMAL(38,0)')"))
          .otherwise(col("ssum")).cast("long").as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("doc_id").asc)
      .limit(20)
  }

  val q144Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY term, doc_id),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY doc_id),
      |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      |        FROM tf GROUP BY term),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(dl) AS BIGINT) AS s
      |        FROM dl),
      |qterms AS (
      |  SELECT term, df FROM dfs, tot
      |  ORDER BY abs(2 * df - nn) ASC, term ASC LIMIT 3),
      |scored AS (
      |  SELECT tf.doc_id,
      |    CAST(CAST((tot.nn - q.df) * 1000000 // (q.df + 1) AS HUGEINT)
      |      * 22 * tf.tf * tot.s
      |      // (10 * CAST(tf.tf AS HUGEINT) * tot.s + 3 * CAST(tot.s AS HUGEINT)
      |         + 9 * CAST(dl.dl AS HUGEINT) * tot.nn)
      |    AS BIGINT) AS sc
      |  FROM tf
      |  JOIN qterms q USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN tot)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
      |  CAST(SUM(sc) AS BIGINT) AS score_scaled
      |FROM scored GROUP BY doc_id
      |ORDER BY score_scaled DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  /** RECIPROCAL-RANK FUSION (q285) — hybrid retrieval's standard merge
    * (Cormack et al.'s RRF): two scorers rank the same query, and the
    * fused score is Σ 10⁶/(60 + rank) over the rankers that retrieved
    * the doc — rank-based, so incommensurable score scales fuse without
    * calibration, and the k=60 constant damps any single ranker's head.
    * Ranker A is q144's BM25 top-20; ranker B is a deliberately
    * different lexical scorer over the SAME deterministic query terms —
    * proportional query-term mass qtf·10⁶ div dl (length-normalized, no
    * idf, no saturation — the scorer BM25 was invented to fix, which is
    * exactly what makes the fusion non-trivial). Missing-rank
    * contributes 0 and is reported as rank 0 (sentinel, never a valid
    * rank). Integer throughout.
    *
    * Scale shape: both rankings are top-20 frames (windows over ≤20
    * rows after TakeOrdered heads); the fusion is a 20∪20-row full
    * outer join — driver-free, broadcast-trivial.
    */
  def q285RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = q144Bm25Search(spark, dir)
      .select(col("doc_id"), col("score_scaled"))
    val rankA = bm.select(col("doc_id"),
      row_number().over(
        Window.orderBy(col("score_scaled").desc, col("doc_id")))
        .as("rank_bm25"))
    // scorer B over the same corpus stats + query terms as q144
    val tf = termFrequencies(spark, dir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("s"))
    val qterms = dfs.join(broadcast(tot))
      .orderBy(abs(col("df") * 2 - col("nn")).asc, col("term").asc)
      .limit(3)
      .select(col("term"))
    val prop = tf.join(broadcast(qterms), "term")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("qtf"))
      .join(dl, "doc_id")
      .withColumn("prop_scaled", expr("qtf * 1000000L div dl"))
      .orderBy(col("prop_scaled").desc, col("doc_id").asc)
      .limit(20)
    val rankB = prop.select(col("doc_id"),
      row_number().over(
        Window.orderBy(col("prop_scaled").desc, col("doc_id")))
        .as("rank_prop"))
    rankA.join(rankB, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0)).as("rank_bm25"),
        coalesce(col("rank_prop"), lit(0)).as("rank_prop"))
      .withColumn("rrf_scaled", expr(
        "CASE WHEN rank_bm25 > 0 THEN 1000000 div (60 + rank_bm25) ELSE 0 END + " +
          "CASE WHEN rank_prop > 0 THEN 1000000 div (60 + rank_prop) ELSE 0 END")
        .cast("long"))
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
      .limit(10)
  }

  val q285Oracle: String =
    s"""WITH ra AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id)
       |      AS INTEGER) AS rank_bm25
       |  FROM ($q144Oracle)),
       |toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY term, doc_id),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY doc_id),
       |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |        FROM tf GROUP BY term),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM dl),
       |qterms AS (
       |  SELECT term FROM dfs, tot
       |  ORDER BY abs(2 * df - nn) ASC, term ASC LIMIT 3),
       |prop AS (
       |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) * 1000000 // dl.dl
       |    AS prop_scaled
       |  FROM tf JOIN qterms USING (term) JOIN dl ON dl.doc_id = tf.doc_id
       |  GROUP BY tf.doc_id, dl.dl
       |  ORDER BY prop_scaled DESC, tf.doc_id ASC LIMIT 20),
       |rb AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY prop_scaled DESC, doc_id)
       |      AS INTEGER) AS rank_prop
       |  FROM prop),
       |fused AS (
       |  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
       |    COALESCE(rank_bm25, 0) AS rank_bm25,
       |    COALESCE(rank_prop, 0) AS rank_prop
       |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
       |SELECT doc_id, rank_bm25, rank_prop,
       |  CAST(CASE WHEN rank_bm25 > 0 THEN 1000000 // (60 + rank_bm25)
       |       ELSE 0 END
       |     + CASE WHEN rank_prop > 0 THEN 1000000 // (60 + rank_prop)
       |       ELSE 0 END AS BIGINT) AS rrf_scaled
       |FROM fused
       |ORDER BY rrf_scaled DESC, doc_id
       |LIMIT 10""".stripMargin

  /** SPARSE SIMILARITY JOIN (q154): top document PAIRS by tf-idf
    * dot-product, mined through the inverted index — the all-pairs
    * complement to q144's query-time ranking and the term-space analogue
    * of the embedding similarity joins (q39/q40). Score is the integer
    * Σ_t tf₁·tf₂·idf(t)² with the rational idf surrogate
    * (N−df)·1000 div (df+1) — DECIMAL(38,0)/HUGEINT accumulation with
    * every product promoted BEFORE multiplying, and a loud overflow
    * guard on the pair sum (a wrapped-to-null score would silently
    * reorder the ranking; DuckDB's HUGEINT errors, so must we).
    *
    * Scale shape — CANDIDATE generation and CONFIRMATION are separate
    * term sets, the q107 rare-anchor discipline applied to tf-idf:
    *  - PAIRING terms: df ≤ `spark.graft.simjoin.maxPairingDf` (default
    *    1000). The posting self-join runs ONLY on these, so the per-term
    *    pair fan-out is ≤ cap²/2 — a constant independent of corpus
    *    size, NOT the unbounded df²/2 a stopword cut alone permits (a
    *    df = N/3 content word would emit ~10¹⁷ pairs at N = 10⁹).
    *  - SCORING terms: the stopword cut (df·2 ≤ N). Every surfaced
    *    pair's score is confirmed EXACTLY over this full set via two
    *    linear joins back to the postings — |cands|·avg-doc-terms rows,
    *    no quadratic term.
    * Recall contract: a pair surfaces iff it shares ≥ 1 term with
    * df ≤ cap. Pairs sharing only mid-frequency terms (cap < df ≤ N/2)
    * are missed by design — their idf² weights are the smallest in the
    * scored set, so they are precisely the low-score pairs a top-k mine
    * is not looking for; surfaced pairs' scores are exact, never
    * approximated. The oracle replays the DEFAULT cap (1000); the conf
    * is a scale-tuning knob, not oracle-replayed. RetrievalSpec pins the
    * bound behaviorally: a term past the cap generates no pairs even
    * when it still contributes to surviving pairs' scores.
    */
  def q154SparseSimJoin(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFrequencies(spark, dir)
    val nn = Tables.documents(spark, dir).agg(count(lit(1)).as("nn"))
    val cap = spark.conf.getOption("spark.graft.simjoin.maxPairingDf")
      .map(_.toLong).getOrElse(SimJoinMaxPairingDf)
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .join(broadcast(nn))
    // scoring set: stopword cut — df ≈ N terms carry ~zero idf weight
    val weights = dfs.filter(col("df") * 2 <= col("nn"))
      .withColumn("idf", expr("(nn - df) * 1000L div (df + 1)"))
      .select(col("term"), col("idf"))
    // pairing set ⊆ scoring set: the anchors whose self-join is bounded
    val anchors = dfs
      .filter(col("df") <= cap && col("df") * 2 <= col("nn"))
      .select(col("term"))
    val aposts = tf.join(anchors, "term").select(col("term"), col("doc_id"))
    val cands = aposts
      .join(aposts.select(col("term"), col("doc_id").as("d2")), Seq("term"))
      .filter(col("doc_id") < col("d2"))
      .select(col("doc_id").as("d1"), col("d2"))
      .distinct()
    // confirm: exact score over the FULL scoring set — two linear joins
    val p = tf.join(weights, "term")
    val s1 = p.select(col("term"), col("doc_id").as("d1"),
      col("tf").as("tf1"), col("idf"))
    val s2 = p.select(col("term"), col("doc_id").as("d2"), col("tf").as("tf2"))
    cands.join(s1, "d1").join(s2, Seq("term", "d2"))
      .select(col("d1"), col("d2"),
        expr("CAST(tf1 AS DECIMAL(38,0)) * tf2 * idf * idf").as("c"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared_terms"), sum(col("c")).as("sd"))
      .select(col("d1"), col("d2"), col("n_shared_terms"),
        // non-ANSI decimal-sum overflow yields NULL silently; surface it
        // as an error (DuckDB's HUGEINT sum would error) instead of
        // letting a null-scored pair silently fall out of the ranking
        when(col("sd").isNull,
          expr("raise_error('q154 pair score overflowed DECIMAL(38,0)')"))
          .otherwise(col("sd")).cast("long").as("score"))
      .orderBy(col("score").desc, col("d1"), col("d2"))
      .limit(20)
  }

  val q154Oracle: String =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY term, doc_id),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
      |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |weights AS (
      |  SELECT term, CAST((nn.nn - df) * 1000 // (df + 1) AS BIGINT) AS idf
      |  FROM dfs, nn WHERE df * 2 <= nn.nn),
      |anchors AS (
      |  SELECT term FROM dfs, nn WHERE df <= $SimJoinMaxPairingDf AND df * 2 <= nn.nn),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM tf a
      |  JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
      |  JOIN anchors r ON r.term = a.term),
      |pairs AS (
      |  SELECT cd.d1, cd.d2, CAST(a.tf AS HUGEINT) * b.tf * w.idf * w.idf AS c
      |  FROM cands cd
      |  JOIN tf a ON a.doc_id = cd.d1
      |  JOIN weights w ON w.term = a.term
      |  JOIN tf b ON b.term = a.term AND b.doc_id = cd.d2)
      |SELECT d1, d2, CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
      |  CAST(SUM(c) AS BIGINT) AS score
      |FROM pairs GROUP BY d1, d2
      |ORDER BY score DESC, d1, d2
      |LIMIT 20""".stripMargin

  /** KWIC CONCORDANCE (q222) — keyword-in-context, the corpus inspection
    * view linguists and data auditors both reach for: every occurrence of
    * a query term with up to 3 tokens of left and right context, in
    * corpus order. This is the "show me how this word is actually used"
    * query that BM25 ranking (q? the retrieval tier) cannot answer — it
    * returns documents, not occurrences.
    *
    * Term is `spark.graft.kwic.term` (default "scan"). One projection +
    * positional explode filtered to matches: fan-out is occurrence count
    * of ONE term, far below token count. No joins, no windows; context
    * slices are per-row array ops. Output order (doc_id, pos) is total.
    */
  def q222KwicConcordance(spark: SparkSession, dir: String): DataFrame = {
    val term = spark.conf.getOption("spark.graft.kwic.term").getOrElse(KwicTerm)
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(filter(
          transform(sequence(lit(1), size(col("toks"))), i => i),
          i => element_at(col("toks"), i) === term)).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        concat_ws(" ", slice(col("toks"),
          greatest(lit(1), col("pos") - 3),
          least(lit(3), col("pos") - 1))).as("left_ctx"),
        element_at(col("toks"), col("pos")).as("match_term"),
        concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(3))).as("right_ctx"))
      .orderBy(col("doc_id"), col("pos"))
  }

  val q222Oracle: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, toks, CAST(i AS BIGINT) AS pos
       |  FROM d, UNNEST(range(1, len(toks) + 1)) AS r(i)
       |  WHERE toks[i] = '$KwicTerm')
       |SELECT doc_id, pos,
       |  COALESCE(array_to_string(toks[greatest(1, pos - 3) :
       |    greatest(1, pos - 3) + least(3, pos - 1) - 1], ' '), '') AS left_ctx,
       |  toks[pos] AS match_term,
       |  COALESCE(array_to_string(toks[pos + 1 : pos + 3], ' '), '') AS right_ctx
       |FROM occ
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** RANKED-RETRIEVAL EVALUATION (q294) — precision@k / recall@k for the
    * q144 BM25 ranking against an INDEPENDENT relevance label: a document
    * is relevant iff it contains ≥ 2 DISTINCT of the 3 deterministic query
    * terms (a judgment derivable without consulting the ranking under
    * evaluation — the property that separates an eval from a tautology).
    * For k ∈ {5, 10, 20}: hits@k = relevant docs in the top k,
    * precision = hits·10⁶ div k, recall = hits·10⁶ div |relevant| — all
    * integer-exact (the rational metrics clear to integer division, the
    * log-discount metrics like NDCG deliberately excluded: their last ulp
    * is engine-specific).
    *
    * Scale shape: the ranking is q144's top-20 frame (TakeOrdered head,
    * ≤ 20 rows — broadcast-trivial); relevance is one more aggregate over
    * the SAME (term, doc) frame every retrieval query shares (distinct
    * query-term count per doc), and |relevant| is its 1-row rollup. The
    * cutoff fan-out is 3 k-values × 20 ranked rows — constant. No join
    * touches the corpus a second time.
    */
  def q294RankEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = q144Bm25Search(spark, dir)
      .select(col("doc_id"),
        row_number().over(
          Window.orderBy(col("score_scaled").desc, col("doc_id")))
          .as("rank"))
    // relevance label: >= 2 distinct query terms present (recomputed from
    // the shared tf frame — same derivation as q144/q285's qterms)
    val tf = termFrequencies(spark, dir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("s"))
    val qterms = dfs.join(broadcast(tot))
      .orderBy(abs(col("df") * 2 - col("nn")).asc, col("term").asc)
      .limit(3)
      .select(col("term"))
    val relevant = tf.join(broadcast(qterms), "term")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nq"))
      .filter(col("nq") >= 2)
      .select(col("doc_id"))
    val relTotal = relevant.agg(count(lit(1)).as("rel_total"))
    val labeled = ranked.join(relevant.withColumn("rel", lit(1L)),
      Seq("doc_id"), "left")
      .select(col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
    import spark.implicits._
    val ks = Seq(5L, 10L, 20L).toDF("k")
    ks.join(labeled, col("rank") <= col("k"), "left")
      .groupBy(col("k"))
      .agg(sum(coalesce(col("rel"), lit(0L))).as("hits"))
      .join(broadcast(relTotal))
      .select(col("k"), col("hits"), col("rel_total"),
        expr("hits * 1000000L div k").as("precision_scaled"),
        expr("CASE WHEN rel_total > 0 THEN hits * 1000000L div rel_total " +
          "ELSE 0L END").as("recall_scaled"))
      .orderBy(col("k"))
  }

  val q294Oracle: String =
    s"""WITH ranked AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id)
       |      AS BIGINT) AS rank
       |  FROM ($q144Oracle)),
       |toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY term, doc_id),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY doc_id),
       |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |        FROM tf GROUP BY term),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM dl),
       |qterms AS (
       |  SELECT term FROM dfs, tot
       |  ORDER BY abs(2 * df - nn) ASC, term ASC LIMIT 3),
       |relevant AS (
       |  SELECT doc_id FROM tf JOIN qterms USING (term)
       |  GROUP BY doc_id HAVING COUNT(DISTINCT term) >= 2),
       |rel_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS rel_total FROM relevant),
       |ks AS (SELECT CAST(unnest([5, 10, 20]) AS BIGINT) AS k),
       |hits AS (
       |  SELECT ks.k,
       |    CAST(COALESCE(SUM(CASE WHEN r2.doc_id IS NOT NULL THEN 1 END), 0)
       |      AS BIGINT) AS hits
       |  FROM ks
       |  LEFT JOIN ranked ON ranked.rank <= ks.k
       |  LEFT JOIN relevant r2 ON r2.doc_id = ranked.doc_id
       |  GROUP BY ks.k)
       |SELECT k, hits, rel_total,
       |  CAST(hits * 1000000 // k AS BIGINT) AS precision_scaled,
       |  CAST(CASE WHEN rel_total > 0 THEN hits * 1000000 // rel_total
       |       ELSE 0 END AS BIGINT) AS recall_scaled
       |FROM hits, rel_tot
       |ORDER BY k""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q222_kwic_concordance", q222KwicConcordance, q222Oracle),
    QuerySpec("q143_inverted_index", q143InvertedIndex, q143Oracle),
    QuerySpec("q144_bm25_search", q144Bm25Search, q144Oracle),
    QuerySpec("q154_sparse_simjoin", q154SparseSimJoin, q154Oracle),
    QuerySpec("q285_rrf_fusion", q285RrfFusion, q285Oracle),
    QuerySpec("q294_rank_eval", q294RankEval, q294Oracle))
}
