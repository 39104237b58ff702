package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.QuerySpec

/** In-engine MODEL EVALUATION over the curation suite's own classifier:
  * the reliability diagram and the exact ROC-AUC of q136's quality scorer
  * judged against q78's heuristic gate as the reference label. Training
  * (q160), scoring (q136) and now evaluation close the classifier loop
  * without leaving the engine — at 100 TB the eval set is a table like any
  * other, and shipping scores to a driver-side sklearn pass is exactly the
  * collect() anti-pattern the suite bans.
  *
  * Both operators avoid the global-window anti-pattern: ranks come from
  * the distributed two-pass prefix-sum scaffold ([[graft.functions.PrefixSum]],
  * range exchange — q149's discipline), and the AUC runs on the
  * DISTINCT-SCORE frame, whose cardinality is bounded by the score range,
  * not the corpus.
  */
object EvalQueries {
  import Exact.{sdiv, isqrtStage}

  /** q210's quadratic from-raw truth-pair CTE (trigram sets named `shs` in
    * its oracle), factored — like GraphQueries.oraclePairCte — so
    * [[StagedOracles]] can swap it byte-exactly for a staged-parquet read
    * in the sf0.1 replay harness. Same pair universe as
    * SimilarityQueries.confirmedNearDupPairs. */
  private[queries] val oracleTruthCte: String =
    """truth AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.shs, b.shs))) AS j
      |    FROM dl a JOIN dl b
      |      ON b.doc_id > a.doc_id
      |     AND least(a.n, b.n) >= 0.8 * greatest(a.n, b.n))
      |  WHERE j >= 0.8)""".stripMargin


  /** score ⋈ label frame: q136's integer score against q78's boolean gate
    * as the 0/1 reference label — one doc-keyed equi-join. */
  private def scoreLabel(spark: SparkSession, dir: String): DataFrame = {
    val s = CurationQueries.q136QualityClassifier(spark, dir)
      .select(col("doc_id"), col("score_sum"))
    val y = CurationQueries.q78QualityRepetition(spark, dir)
      .select(col("doc_id"), col("keep").cast(IntegerType).cast("long").as("y"))
    s.join(y, "doc_id")
  }

  /** RELIABILITY DIAGRAM by score decile (q207) — the calibration-shaped
    * eval every quality classifier gets before its threshold is trusted:
    * rank all docs by classifier score, cut into 10 equal-depth bins
    * (q149's exact rule, bin = (rank−1)·10 div n), and report each bin's
    * observed positive rate under the reference label in exact ppm, with
    * the bin's score span alongside. A well-behaved scorer shows
    * monotonically climbing positive rates; a flat or inverted run is the
    * "score is noise here" verdict that no single AUC number localizes.
    *
    * Scale shape: the global rank is the distributed prefix-sum scaffold
    * (range exchange on (score, doc_id) — NOT a one-partition window);
    * everything after is a 10-row aggregate. The 1-row total rides a
    * crossJoin.
    */
  def q207ReliabilityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val j = scoreLabel(spark, dir)
      .withColumn("g", lit(0)).withColumn("one", lit(1L))
    val total = j.agg(count(lit(1)).as("n"))
    graft.functions.PrefixSum
      .runningTotal(j, Seq("g"),
        Seq(col("score_sum").asc, col("doc_id").asc), "one", "rk")
      .crossJoin(total)
      .withColumn("bin", expr("((rk - 1) * 10) div n"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y")).as("n_pos"),
        min(col("score_sum")).as("min_score"),
        max(col("score_sum")).as("max_score"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * 1000000" +
          " div n_docs AS BIGINT)").as("pos_ppm"),
        col("min_score"), col("max_score"))
      .orderBy(col("bin"))
  }

  /** EXACT tie-aware ROC-AUC (q208) — the Mann–Whitney identity computed
    * as integers: AUC = (#{pos-neg pairs with s_p > s_n} + ½·#ties) /
    * (P·N). Instead of ranking every row, scores COLLAPSE to the
    * distinct-score frame first ((score) → pos count, neg count); a
    * prefix sum of negatives in score order then yields, for every score,
    * how many negatives sit strictly below — so concordant pairs are
    * Σ p(s)·cum_neg(<s) and tied pairs Σ p(s)·n(s), both BIGINTs, and
    * the ½ clears through the ·2 denominator. Bit-exact in both engines;
    * NULL when either class is empty (AUC undefined), loudly not 0.
    *
    * Scale shape: one (score)-keyed aggregate over the corpus — the frame
    * after it is bounded by the score RANGE (model constant), on which
    * the prefix sum and the final 1-row rollup are noise. This is the
    * histogram-AUC production recipe, not the sort-everything one.
    */
  def q208AucExact(spark: SparkSession, dir: String): DataFrame = {
    val byScore = scoreLabel(spark, dir)
      .groupBy(col("score_sum"))
      .agg(sum(col("y")).as("p"),
        (count(lit(1)) - sum(col("y"))).as("ng"))
      .withColumn("g", lit(0))
    val cum = graft.functions.PrefixSum
      .runningTotal(byScore, Seq("g"), Seq(col("score_sum").asc), "ng", "cumn")
    cum.agg(
        sum(col("p")).as("n_pos"),
        sum(col("ng")).as("n_neg"),
        sum(col("p") * (col("cumn") - col("ng"))).as("n_concordant_pairs"),
        sum(col("p") * col("ng")).as("n_tied_pairs"))
      .select(col("n_pos"), col("n_neg"),
        col("n_concordant_pairs"), col("n_tied_pairs"),
        expr("CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE " +
          "CAST((CAST(2 * n_concordant_pairs + n_tied_pairs AS DECIMAL(38,0))" +
          " * 1000000) div (2 * n_pos * n_neg) AS BIGINT) END").as("auc_ppm"))
  }

  /** Shared oracle CTEs: q136's hashed-feature score and q78's gate label
    * joined per doc — the SQL twin of [[scoreLabel]]. */
  private val scoreLabelCtes: String =
    """d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, unnest(toks) AS f FROM d
      |  UNION ALL
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1])) AS f
      |  FROM d),
      |sc AS (
      |  SELECT doc_id,
      |    CAST(SUM(((CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024)
      |       * 2654435761 + 12345) % 201 - 100) AS BIGINT) AS score_sum
      |  FROM feats GROUP BY doc_id),
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
      |lab AS (
      |  SELECT tri.doc_id,
      |    CASE WHEN len(tri.toks) >= 20
      |      AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
      |      AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2
      |    THEN 1 ELSE 0 END AS y
      |  FROM tri JOIN top ON tri.doc_id = top.doc_id),
      |j AS (
      |  SELECT sc.doc_id, sc.score_sum, CAST(lab.y AS BIGINT) AS y
      |  FROM sc JOIN lab USING (doc_id))""".stripMargin

  val q207Oracle: String =
    s"""WITH $scoreLabelCtes,
       |r AS (
       |  SELECT doc_id, score_sum, y,
       |    ROW_NUMBER() OVER (ORDER BY score_sum, doc_id) AS rk,
       |    COUNT(*) OVER () AS n
       |  FROM j)
       |SELECT (rk - 1) * 10 // n AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(y) AS BIGINT) AS n_pos,
       |  CAST(CAST(SUM(y) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
       |    AS pos_ppm,
       |  MIN(score_sum) AS min_score, MAX(score_sum) AS max_score
       |FROM r GROUP BY (rk - 1) * 10 // n
       |ORDER BY bin""".stripMargin

  val q208Oracle: String =
    s"""WITH $scoreLabelCtes,
       |g AS (
       |  SELECT score_sum, CAST(SUM(y) AS BIGINT) AS p,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS ng
       |  FROM j GROUP BY score_sum),
       |c AS (
       |  SELECT p, ng,
       |    SUM(ng) OVER (ORDER BY score_sum
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
       |  FROM g)
       |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
       |  CAST(SUM(ng) AS BIGINT) AS n_neg,
       |  CAST(SUM(p * (cumn - ng)) AS BIGINT) AS n_concordant_pairs,
       |  CAST(SUM(p * ng) AS BIGINT) AS n_tied_pairs,
       |  CASE WHEN SUM(p) = 0 OR SUM(ng) = 0 THEN NULL ELSE
       |    CAST(CAST(2 * SUM(p * (cumn - ng)) + SUM(p * ng) AS HUGEINT)
       |      * 1000000 // (2 * SUM(p) * SUM(ng)) AS BIGINT)
       |  END AS auc_ppm
       |FROM c""".stripMargin

  /** The (bands × rows-per-band) grid the audit sweeps — all partitions
    * of the same 32-slot signature, so the comparison isolates banding
    * geometry from signature cost. */
  val LshConfigs: Seq[(Int, Int)] = Seq((16, 2), (8, 4), (4, 8))

  /** LSH PARAMETER AUDIT (q210) — the S-curve measured, not assumed:
    * for each (bands b, rows r) partition of one 32-slot MinHash
    * signature, how many candidate pairs does banding propose, and what
    * precision/recall does that give against the exact-Jaccard ≥ 0.8
    * ground truth? Collision probability per pair is 1 − (1 − J^r)^b;
    * (16, 2) sits low on the curve (catch-everything, candidate-heavy),
    * (4, 8) high (cheap, recall-risky) — this is the q178 recall-harness
    * idea applied to the TEXT dedup tier, and the operator a platform
    * runs before committing a banding config to a 100 TB dedup pass.
    *
    * Signatures here ride the codegen'd [[graft.expressions.MinHashSignature]]
    * over md5-derived base hashes (NOT the q36 pipeline's xxhash64 base):
    * md5 is the suite's portable-hash discipline, so the DuckDB oracle
    * replays the ENTIRE candidate generation — base hash → Carter-Wegman
    * remix → band keys → bucket join — and the audit's counts are
    * hash-gated, not rows-only. Ground truth is the confirmed
    * exact-Jaccard pair set (= the exhaustive truth on the gate corpus,
    * the fact q36's own oracle pins every round).
    *
    * Scale shape: per config, candidates come from a band-key equi-join
    * (the q36 shape — never all-pairs); the three config frames union
    * into one; truth is a pair-keyed equi-join; the output is
    * |configs| rows. Everything data-sized is banded or keyed.
    */
  def q210LshParamAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Similarity
    // signature frame is consumed SIX times (3 banding configs x 2 self-
    // join sides), and unlike the single-config cascades the per-config
    // band explodes do not share an exchange — lazily the md5-shingle +
    // minhash pass replayed per config. Materialize once (round-16;
    // localCheckpoint, recomputed from parquet every run). (doc_id, sig)
    // is 32 ints/doc — far below corpus text size.
    val docs = SimilarityQueries.docsWithPlants(spark, dir)
      .select(col("doc_id"), Similarity.shingleSet(col("text"), 3).as("sh"))
      .select(col("doc_id"),
        graft.expressions.MinHashSignature.minhashSignature(
          Similarity.md5ShingleHashes(col("sh")), 32).as("sig"))
      .localCheckpoint(true)
    val cands = LshConfigs.map { case (b, r) =>
      val keys = docs.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${b - 1}), i -> struct(i AS band, " +
          s"array_join(transform(slice(sig, i * $r + 1, $r), " +
          "x -> CAST(x AS STRING)), ',') AS bkey))")).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bkey").as("bkey"))
      keys.join(keys.select(col("doc_id").as("doc_id_b"),
          col("band").as("band_b"), col("bkey").as("bkey_b")),
          col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
            col("doc_id") < col("doc_id_b"))
        .select(col("doc_id").as("id_a"), col("doc_id_b").as("id_b"))
        .distinct()
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("id_a"), col("id_b"))
    }.reduce(_ unionAll _)
    // truth pairs are consumed twice (the hit join + the denominator
    // count): materialize the confirm cascade once and re-assert the
    // broadcastability its parquet stats used to give the hit join
    // (round-15 stat-erasure finding; pair set ≪ corpus)
    val truth = SimilarityQueries.confirmedNearDupPairs(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1L).as("is_true"))
      .localCheckpoint(true)
    val nTrue = truth.agg(count(lit(1)).as("n_true_pairs"))
    cands.join(broadcast(truth), Seq("id_a", "id_b"), "left")
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_hit"))
      .crossJoin(nTrue)
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_true_pairs"), col("n_hit"),
        expr("CASE WHEN n_candidates = 0 THEN NULL ELSE " +
          "CAST(CAST(n_hit AS DECIMAL(38,0)) * 1000000" +
          " div n_candidates AS BIGINT) END").as("precision_ppm"),
        expr("CAST(CAST(n_hit AS DECIMAL(38,0)) * 1000000" +
          " div n_true_pairs AS BIGINT)").as("recall_ppm"))
      .orderBy(col("bands").desc)
  }

  val q210Oracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    val h64 =
      """(CAST((CAST(CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS HUGEINT)
        |       * 4294967296
        |       + CAST('0x' || substr(md5(s), 9, 8) AS BIGINT))
        |      - CASE WHEN CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
        |                  >= 2147483648
        |             THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
        |      AS BIGINT))""".stripMargin
    val cfgRows = LshConfigs.map { case (b, r) => s"($b, $r)" }.mkString(", ")
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
       |dl AS (SELECT doc_id, shs, len(shs) AS n FROM d),
       |bh AS (
       |  SELECT doc_id,
       |    list_transform(shs, s ->
       |      ((($h64) % 2147483647) + 2147483647) % 2147483647) AS hs
       |  FROM d),
       |sig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 32), s ->
       |      list_min(list_transform(hs, h ->
       |        (((s * 2654435761 + 1) % 2147483647) * h
       |          + (s * 40503 + 7) % 2147483647) % 2147483647))) AS sg
       |  FROM bh),
       |cfg(b, r) AS (VALUES $cfgRows),
       |bk AS (
       |  SELECT doc_id, b, r, band,
       |    array_to_string(sg[band * r + 1 : band * r + r], ',') AS bkey
       |  FROM sig, cfg, UNNEST(range(0, b)) AS t(band)),
       |cand AS (
       |  SELECT DISTINCT x.b, x.r, x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bk x JOIN bk y
       |    ON x.b = y.b AND x.r = y.r AND x.band = y.band
       |   AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |${EvalQueries.oracleTruthCte},
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth)
       |SELECT c.b AS bands, c.r AS rows_per_band,
       |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
       |  nt.n_true_pairs,
       |  CAST(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hit,
       |  CASE WHEN COUNT(*) = 0 THEN NULL ELSE
       |    CAST(CAST(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |        AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) END
       |    AS precision_ppm,
       |  CAST(CAST(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |      AS HUGEINT) * 1000000 // nt.n_true_pairs AS BIGINT) AS recall_ppm
       |FROM cand c
       |LEFT JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b
       |CROSS JOIN nt
       |GROUP BY c.b, c.r, nt.n_true_pairs
       |ORDER BY bands DESC""".stripMargin
  }

  /** INTER-ANNOTATOR AGREEMENT — Cohen's κ (q215): when two labelers rate
    * the same corpus (here the suite's own two quality judges: q78's
    * Gopher-rule gate vs q136's classifier at threshold 0), raw accord is
    * inflated by chance — two annotators who both say "keep" 90% of the
    * time agree 82% by luck alone. κ removes that floor:
    * κ = (p_o − p_e)/(1 − p_e), computed here entirely in integers from
    * the 2×2 confusion counts — with N·agree and Σ(row·col marginal
    * products) both BIGINTs, κ_ppm = (N·agree − Σrc)·10⁶ / (N² − Σrc)
    * DECIMAL-promoted, so the statistic is bit-exact, never a float. The
    * operator every labeling pipeline runs before trusting silver labels;
    * κ near 0 with high raw agreement is the "annotators share only the
    * base rate" verdict that p_o alone hides.
    *
    * Scale shape: the doc-keyed score⋈label join (both sides
    * projection-only), then ONE 4-cell aggregate; the κ arithmetic is a
    * 1-row projection. Nothing after the join is data-sized.
    */
  def q215CohensKappa(spark: SparkSession, dir: String): DataFrame = {
    scoreLabel(spark, dir)
      .select(col("y").as("a"),
        when(col("score_sum") >= 0, 1L).otherwise(0L).as("b"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n_both_keep"),
        sum(col("a") * (lit(1L) - col("b"))).as("n_gate_only"),
        sum((lit(1L) - col("a")) * col("b")).as("n_clf_only"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n_both_drop"))
      .select(col("n"), col("n_both_keep"), col("n_gate_only"),
        col("n_clf_only"), col("n_both_drop"),
        expr("CAST(CAST(n_both_keep + n_both_drop AS DECIMAL(38,0))" +
          " * 1000000 div n AS BIGINT)").as("po_ppm"),
        expr("CAST(CAST((n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)" +
          " + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop)" +
          " AS DECIMAL(38,0)) * 1000000 div (n * n) AS BIGINT)").as("pe_ppm"),
        // κ is undefined when p_e = 1 (both annotators constant) — NULL,
        // loudly not 0, same CASE in the oracle
        expr("CASE WHEN n * n = (n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)" +
          "    + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop) THEN NULL ELSE " +
          "CAST(CAST(n * (n_both_keep + n_both_drop)" +
          " - ((n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)" +
          "    + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop))" +
          " AS DECIMAL(38,0)) * 1000000" +
          " div (n * n - ((n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)" +
          "    + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop)))" +
          " AS BIGINT) END").as("kappa_ppm"))
  }

  val q215Oracle: String =
    s"""WITH $scoreLabelCtes,
       |ab AS (
       |  SELECT y AS a, CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END AS b
       |  FROM j),
       |c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(a * b) AS BIGINT) AS n_both_keep,
       |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n_gate_only,
       |    CAST(SUM((1 - a) * b) AS BIGINT) AS n_clf_only,
       |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n_both_drop
       |  FROM ab)
       |SELECT n, n_both_keep, n_gate_only, n_clf_only, n_both_drop,
       |  CAST(CAST(n_both_keep + n_both_drop AS HUGEINT)
       |    * 1000000 // n AS BIGINT) AS po_ppm,
       |  CAST(CAST((n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)
       |    + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop)
       |    AS HUGEINT) * 1000000 // (n * n) AS BIGINT) AS pe_ppm,
       |  CASE WHEN n * n = (n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)
       |       + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop) THEN NULL ELSE
       |  CAST(CAST(n * (n_both_keep + n_both_drop)
       |    - ((n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)
       |       + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop))
       |    AS HUGEINT) * 1000000
       |    // (n * n - ((n_both_keep + n_gate_only) * (n_both_keep + n_clf_only)
       |       + (n_clf_only + n_both_drop) * (n_gate_only + n_both_drop)))
       |    AS BIGINT) END AS kappa_ppm
       |FROM c""".stripMargin

  /** PER-SOURCE QUALITY-DRIFT SIGNIFICANCE (q219) — the χ² two-proportion
    * test every corpus health dashboard needs: is source S's keep-rate
    * under the q78 gate DIFFERENT from the rest of the corpus, beyond
    * what its sample size explains? For each source the 2×2 contingency
    * (keep/drop × this-source/rest) yields
    * χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), emitted ×1000
    * (chi2_milli) with every product promoted to DECIMAL(38,0) and the
    * division integral (q215's exactness recipe — DuckDB replays with
    * HUGEINT `//`). `significant` is the p<0.05 verdict for 1 dof
    * (χ² > 3.841), decided by the SAME integer comparison in both
    * engines — no float crosses the wire. χ² is NULL (loudly, not 0)
    * when a margin is empty, and the 38-digit budget is guarded by a
    * raise_error at N > 10⁷ labeled docs per test (beyond that, run the
    * test on a deterministic sample — N⁵ no longer fits DECIMAL(38)/
    * HUGEINT).
    *
    * Scale shape: one doc-keyed equi-join, one |source|-row aggregate,
    * 1-row totals crossJoin — nothing grows with the corpus downstream
    * of the first aggregate.
    */
  def q219Chi2SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val keep = CurationQueries.q78QualityRepetition(spark, dir)
      .select(col("doc_id"), col("keep").cast(IntegerType).cast("long").as("y"))
    val src = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val g = src.join(keep, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("y")).as("a"), sum(lit(1L) - col("y")).as("b"))
    val tot = g.agg(sum(col("a")).as("k_tot"), sum(col("b")).as("d_tot"))
    val det = "(CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)"
    val denom = "(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d))"
    val chi2 =
      s"""CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL
         |     WHEN n > 10000000 THEN CAST(raise_error(
         |       'q219: N exceeds the DECIMAL(38) chi-square budget; test a sample')
         |       AS BIGINT)
         |     ELSE CAST(CAST(n AS DECIMAL(38,0)) * $det * $det * 1000
         |       div $denom AS BIGINT) END""".stripMargin
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("a"), col("b"),
        (col("k_tot") - col("a")).as("c"),
        (col("d_tot") - col("b")).as("d"),
        (col("k_tot") + col("d_tot")).as("n"))
      .withColumn("chi2_milli", expr(chi2))
      .withColumn("significant", col("chi2_milli") > 3841L)
      .orderBy(col("source"))
  }

  /** q78's keep rule as DuckDB CTEs ending in
    * `k(doc_id, source, toks, y)` — shared by the q219/q232/q238
    * oracles so the gate-label replay cannot drift between them.
    */
  private val q78KeepCtes: String = {
    val toksSql = "regexp_split_to_array(trim(text), '\\s+')"
    s"""t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
       |tri AS (
       |  SELECT doc_id, source, toks,
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
       |k AS (
       |  SELECT tri.doc_id, tri.source, tri.toks,
       |    CASE WHEN len(tri.toks) >= 20
       |      AND 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) <= 0.2
       |      AND CAST(max_tok AS DOUBLE) / len(tri.toks) <= 0.2
       |    THEN 1 ELSE 0 END AS y
       |  FROM tri JOIN top ON tri.doc_id = top.doc_id)""".stripMargin
  }

  val q219Oracle: String = {
    s"""WITH $q78KeepCtes,
       |g AS (
       |  SELECT source, CAST(SUM(y) AS BIGINT) AS a,
       |    CAST(SUM(1 - y) AS BIGINT) AS b
       |  FROM k GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(a) AS BIGINT) AS k_tot,
       |    CAST(SUM(b) AS BIGINT) AS d_tot FROM g),
       |x AS (
       |  SELECT source, a, b, k_tot - a AS c, d_tot - b AS d,
       |    k_tot + d_tot AS n
       |  FROM g CROSS JOIN tot)
       |SELECT source, a, b, c, d, n,
       |  CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL
       |       ELSE CAST(CAST(n AS HUGEINT)
       |         * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
       |         * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) * 1000
       |         // (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d))
       |         AS BIGINT) END AS chi2_milli,
       |  CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL
       |       ELSE (CAST(CAST(n AS HUGEINT)
       |         * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
       |         * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) * 1000
       |         // (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d))
       |         AS BIGINT) > 3841) END AS significant
       |FROM x
       |ORDER BY source""".stripMargin
  }

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVAL (q232) — the production-scale
    * bootstrap (resample-with-replacement is a shuffle of the whole
    * corpus per replica; the Poisson approximation gives each row an
    * independent Poisson(1) multiplicity per replica, so all B replicas
    * ride ONE scan). Multiplicities are DETERMINISTIC: u = md5₆₄(b‖doc)
    * mod 10⁶ against the fixed ppm quantiles of Poisson(1)
    * (367879/735759/919699/981012/996340, capped at 5) — both engines
    * replay the identical resample. Statistic: the q78 keep-rate; the CI
    * is rank-based over the B = 32 replica rates (2nd and 31st order
    * statistics ≈ a 94% interval — the ranks are the contract, not the
    * nominal level). Every replica rate is a non-negative integral
    * division, so Spark's truncation and DuckDB's floor agree.
    *
    * Scale shape: corpus scan → ×32 explode (constant fan-out) →
    * 32-row aggregate → order statistics on 32 rows. No resample
    * shuffle, no driver-side randomness, no floats.
    */
  def q232PoissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val b = 32
    val keep = CurationQueries.q78QualityRepetition(spark, dir)
      .select(col("doc_id"), col("keep").cast(IntegerType).cast("long").as("y"))
    val m = graft.functions.Similarity.md5Hash64(
      concat(col("b").cast("string"), lit(":"), col("doc_id").cast("string")))
    val reps = keep
      .select(col("doc_id"), col("y"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .withColumn("u", pmod(m, lit(1000000L)))
      .withColumn("mult", expr(
        """CASE WHEN u < 367879 THEN 0L WHEN u < 735759 THEN 1L
          |     WHEN u < 919699 THEN 2L WHEN u < 981012 THEN 3L
          |     WHEN u < 996340 THEN 4L ELSE 5L END""".stripMargin))
      .groupBy(col("b"))
      .agg(sum(col("mult")).as("n_b"), sum(col("mult") * col("y")).as("s_b"))
      .select(col("b"),
        expr("CASE WHEN n_b = 0 THEN NULL ELSE s_b * 1000000L div n_b END")
          .as("rate_ppm"))
    val point = keep.agg(
      expr("sum(y) * 1000000L div count(1)").as("point_ppm"))
    val ranked = reps
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("rate_ppm").asc, col("b").asc)))
    ranked.agg(
        count(lit(1)).as("b_reps"),
        min(when(col("rk") === 2, col("rate_ppm"))).as("ci_lo_ppm"),
        min(when(col("rk") === b - 1, col("rate_ppm"))).as("ci_hi_ppm"))
      .crossJoin(broadcast(point))
      .select(col("b_reps"), col("point_ppm"), col("ci_lo_ppm"), col("ci_hi_ppm"))
  }

  val q232Oracle: String = {
    val h64 =
      """(CAST((CAST(CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS HUGEINT)
        |       * 4294967296
        |       + CAST('0x' || substr(md5(s), 9, 8) AS BIGINT))
        |      - CASE WHEN CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
        |                  >= 2147483648
        |             THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
        |      AS BIGINT))""".stripMargin
    s"""WITH $q78KeepCtes,
       |e AS (
       |  SELECT k.doc_id, k.y, b,
       |    CAST(b AS VARCHAR) || ':' || CAST(k.doc_id AS VARCHAR) AS s
       |  FROM k, UNNEST(range(0, 32)) AS r(b)),
       |u AS (
       |  SELECT doc_id, y, b,
       |    (($h64) % 1000000 + 1000000) % 1000000 AS u
       |  FROM e),
       |mm AS (
       |  SELECT b, y,
       |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
       |         WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
       |         WHEN u < 996340 THEN 4 ELSE 5 END AS mult
       |  FROM u),
       |reps AS (
       |  SELECT b, CAST(SUM(mult) AS BIGINT) AS n_b,
       |    CAST(SUM(mult * y) AS BIGINT) AS s_b
       |  FROM mm GROUP BY b),
       |rr AS (
       |  SELECT b,
       |    CASE WHEN n_b = 0 THEN NULL
       |         ELSE CAST(CAST(s_b AS HUGEINT) * 1000000 // n_b AS BIGINT) END
       |      AS rate_ppm
       |  FROM reps),
       |rk AS (
       |  SELECT rate_ppm,
       |    row_number() OVER (ORDER BY rate_ppm ASC NULLS FIRST, b ASC) AS rk
       |  FROM rr),
       |pt AS (
       |  SELECT CAST(CAST(SUM(y) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
       |    AS point_ppm FROM k)
       |SELECT CAST(COUNT(*) AS BIGINT) AS b_reps, pt.point_ppm,
       |  MIN(CASE WHEN rk = 2 THEN rate_ppm END) AS ci_lo_ppm,
       |  MIN(CASE WHEN rk = 31 THEN rate_ppm END) AS ci_hi_ppm
       |FROM rk CROSS JOIN pt
       |GROUP BY pt.point_ppm""".stripMargin
  }

  /** Threshold grid for q238 — data-independent constants so the stump
    * search is a fixed, exactly replayable candidate set. */
  val StumpThresholds: Seq[Long] = Seq(10L, 20L, 30L, 50L, 80L, 120L)

  /** DECISION-STUMP TRAINING (q238) — the simplest interpretable model,
    * trained in-engine: over candidate (feature, threshold) splits of
    * the document corpus against the q78 gate label, pick the split
    * maximizing the Gini purity gain. The purity score is quantized to
    * integers — score_q = (p_l²+q_l²)·10⁶ div n_l + (p_r²+q_r²)·10⁶
    * div n_r (maximizing it minimizes weighted Gini impurity up to the
    * ppm quantization) — so the argmax is deterministic and
    * engine-identical; degenerate splits (an empty side) score NULL
    * loudly. Features: token count and distinct-token count; thresholds
    * from the fixed [[StumpThresholds]] grid. The output is the whole
    * candidate table with `is_best` marking the chosen stump — an
    * auditable model card, not just a winner.
    *
    * Scale shape: one scan → per-doc features → |features|×|thresholds|
    * constant fan-out → candidate-sized aggregate. Training cost is one
    * pass regardless of grid size.
    */
  def q238DecisionStump(spark: SparkSession, dir: String): DataFrame = {
    val keep = CurationQueries.q78QualityRepetition(spark, dir)
      .select(col("doc_id"), col("keep").cast(IntegerType).cast("long").as("y"))
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val feats = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .join(keep, "doc_id")
      .select(col("y"), explode(array(
        struct(lit("n_tokens").as("feature"), col("n_tokens").as("v")),
        struct(lit("n_distinct").as("feature"), col("n_distinct").as("v"))))
        .as("f"))
      .select(col("y"), col("f.feature").as("feature"), col("f.v").as("v"))
    val thr = spark.createDataFrame(StumpThresholds.map(Tuple1(_)))
      .toDF("threshold")
    val cand = feats.crossJoin(broadcast(thr))
      .groupBy(col("feature"), col("threshold"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("p"),
        sum(when(col("v") <= col("threshold"), 1L).otherwise(0L)).as("n_l"),
        sum(when(col("v") <= col("threshold"), col("y")).otherwise(0L)).as("p_l"))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("p_r", col("p") - col("p_l"))
      .withColumn("score_q", expr(
        """CASE WHEN n_l = 0 OR n_r = 0 THEN NULL ELSE
          |  CAST((CAST(p_l AS DECIMAL(38,0)) * p_l
          |      + CAST(n_l - p_l AS DECIMAL(38,0)) * (n_l - p_l))
          |    * 1000000 div n_l AS BIGINT)
          |  + CAST((CAST(p_r AS DECIMAL(38,0)) * p_r
          |      + CAST(n_r - p_r AS DECIMAL(38,0)) * (n_r - p_r))
          |    * 1000000 div n_r AS BIGINT) END""".stripMargin))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_q").desc_nulls_last, col("feature"), col("threshold"))
    cand.withColumn("is_best", row_number().over(w) === 1)
      .select(col("feature"), col("threshold"), col("n_l"), col("p_l"),
        col("n_r"), col("p_r"), col("score_q"), col("is_best"))
      .orderBy(col("feature"), col("threshold"))
  }

  val q238Oracle: String = {
    val thrs = StumpThresholds.map(t => s"($t)").mkString(", ")
    s"""WITH $q78KeepCtes,
       |feats AS (
       |  SELECT y, 'n_tokens' AS feature, CAST(len(toks) AS BIGINT) AS v FROM k
       |  UNION ALL
       |  SELECT y, 'n_distinct', CAST(len(list_distinct(toks)) AS BIGINT) FROM k),
       |thr(threshold) AS (VALUES $thrs),
       |cand AS (
       |  SELECT feature, threshold,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN v <= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
       |    CAST(SUM(CASE WHEN v <= threshold THEN y ELSE 0 END) AS BIGINT) AS p_l
       |  FROM feats CROSS JOIN thr
       |  GROUP BY feature, threshold),
       |sc AS (
       |  SELECT feature, threshold, n_l, p_l,
       |    n - n_l AS n_r, p - p_l AS p_r,
       |    CASE WHEN n_l = 0 OR n - n_l = 0 THEN NULL ELSE
       |      CAST(CAST(CAST(p_l AS HUGEINT) * p_l
       |          + CAST(n_l - p_l AS HUGEINT) * (n_l - p_l) AS HUGEINT)
       |        * 1000000 // n_l AS BIGINT)
       |      + CAST(CAST(CAST(p - p_l AS HUGEINT) * (p - p_l)
       |          + CAST((n - n_l) - (p - p_l) AS HUGEINT)
       |            * ((n - n_l) - (p - p_l)) AS HUGEINT)
       |        * 1000000 // (n - n_l) AS BIGINT) END AS score_q
       |  FROM cand)
       |SELECT feature, threshold, n_l, p_l, n_r, p_r, score_q,
       |  row_number() OVER (ORDER BY score_q DESC NULLS LAST,
       |    feature, threshold) = 1 AS is_best
       |FROM sc
       |ORDER BY feature, threshold""".stripMargin
  }

  /** SPLIT-CONFORMAL CALIBRATION (q289) — the distribution-free
    * prediction-bound recipe: per language, the classifier scores
    * (q136's integer LinearTextScore) of a deterministic CALIBRATION
    * slice (md5 buckets 0–3 of 16 — q276's content-stable split, so the
    * slice never moves between runs) are rank-sorted, and the conformal
    * threshold is the ⌈(n_cal+1)·0.9⌉-th smallest score — exchangeability
    * then guarantees ~90% of UNSEEN docs score at or under it, with NO
    * distributional assumption. The report measures that promise on the
    * held-out remainder: realized coverage in exact ppm beside the
    * guarantee it should hover around. Every step is rank/integer
    * arithmetic — threshold selection by row_number, ties broken by
    * doc_id, degenerate slices (q-index past the slice) clamp to the max
    * — so both engines replay the whole procedure bit-identically.
    *
    * Scale shape: scoring is q136's projection; ranking windows only the
    * calibration slice (1/4 of the corpus) per language; the coverage
    * pass is one broadcast threshold join + aggregate.
    */
  def q289ConformalCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.expressions.LinearTextScore.linearTextScore(
          graft.functions.TextFunctions.tokens(col("text")),
          CurationQueries.ClassifierWeights, 2).as("s"))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) " +
          "AS BIGINT) % 16"))
    val cal = scored.filter(col("bucket") < 4)
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("s"), col("doc_id"))))
      .withColumn("n_cal", count(lit(1)).over(Window.partitionBy("lang")))
      .withColumn("qidx", expr("((n_cal + 1) * 9 + 9) div 10"))
    val thr = cal
      .groupBy(col("lang"))
      .agg(max(col("n_cal")).as("n_cal"), max(col("qidx")).as("cal_q_index"),
        max(when(col("rn") === least(col("qidx"), col("n_cal")), col("s")))
          .as("threshold"))
    scored.filter(col("bucket") >= 4)
      .join(broadcast(thr), "lang")
      .groupBy(col("lang"))
      .agg(max(col("n_cal")).as("n_cal"),
        max(col("cal_q_index")).as("cal_q_index"),
        max(col("threshold")).as("threshold"),
        count(lit(1)).as("n_test"),
        sum(when(col("s") <= col("threshold"), 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage_ppm", expr("n_covered * 1000000L div n_test"))
      .orderBy(col("lang"))
  }

  val q289Oracle: String =
    s"""WITH sc AS (
       |  SELECT q.doc_id, d.lang, q.score_sum AS s,
       |    CAST('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 4)
       |      AS BIGINT) % 16 AS bucket
       |  FROM (${CurationQueries.q136Oracle}) q
       |  JOIN documents d ON d.doc_id = q.doc_id),
       |cal AS (
       |  SELECT lang, s,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n_cal
       |  FROM sc WHERE bucket < 4),
       |thr AS (
       |  SELECT lang, CAST(MAX(n_cal) AS BIGINT) AS n_cal,
       |    CAST(MAX(((n_cal + 1) * 9 + 9) // 10) AS BIGINT) AS cal_q_index,
       |    MAX(CASE WHEN rn = LEAST(((n_cal + 1) * 9 + 9) // 10, n_cal)
       |        THEN s END) AS threshold
       |  FROM cal GROUP BY lang)
       |SELECT sc.lang, thr.n_cal, thr.cal_q_index,
       |  CAST(thr.threshold AS BIGINT) AS threshold,
       |  CAST(COUNT(*) AS BIGINT) AS n_test,
       |  CAST(SUM(CASE WHEN sc.s <= thr.threshold THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_covered,
       |  CAST(SUM(CASE WHEN sc.s <= thr.threshold THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000 // COUNT(*) AS coverage_ppm
       |FROM sc JOIN thr USING (lang)
       |WHERE sc.bucket >= 4
       |GROUP BY sc.lang, thr.n_cal, thr.cal_q_index, thr.threshold
       |ORDER BY sc.lang""".stripMargin

  /** K-FOLD CROSS-VALIDATED STUMP (q307) — the model-selection discipline
    * q238's single training run skips: 4-fold cross-validation of the
    * decision stump, folds assigned by the q276 md5 hash (content-stable:
    * the same document lands in the same fold on every engine and every
    * run). Per fold: train q238's exact Gini-quantized argmax on the
    * OTHER three folds, predict by each side's majority label (ties → 1,
    * the optimistic rule, documented), and score accuracy on the held-out
    * fold in exact ppm. Four accuracies instead of one training score —
    * the spread IS the generalization signal; a stump whose folds
    * disagree is fitting noise.
    *
    * Scale shape: fold training reuses one exploded feature frame — each
    * row joins to its 3 training folds (constant ×3 fan-out, like the
    * threshold grid's ×6), so all four stumps train in ONE aggregate
    * pass; per-fold winners are a 4-row window; evaluation is one
    * broadcast join of those 4 rows against the held-out rows. Nothing
    * iterates, nothing collects.
    */
  def q307StumpCrossVal(spark: SparkSession, dir: String): DataFrame = {
    val keep = CurationQueries.q78QualityRepetition(spark, dir)
      .select(col("doc_id"), col("keep").cast(IntegerType).cast("long").as("y"))
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val feats = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .join(keep, "doc_id")
      .withColumn("fold", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) " +
          "AS BIGINT) % 4"))
      .select(col("y"), col("fold"), explode(array(
        struct(lit("n_tokens").as("feature"), col("n_tokens").as("v")),
        struct(lit("n_distinct").as("feature"), col("n_distinct").as("v"))))
        .as("f"))
      .select(col("y"), col("fold"), col("f.feature").as("feature"),
        col("f.v").as("v"))
    import spark.implicits._
    val folds = Seq(0L, 1L, 2L, 3L).toDF("eval_fold")
    val thr = spark.createDataFrame(StumpThresholds.map(Tuple1(_)))
      .toDF("threshold")
    val cand = feats
      .join(broadcast(folds), col("fold") =!= col("eval_fold"))
      .crossJoin(broadcast(thr))
      .groupBy(col("eval_fold"), col("feature"), col("threshold"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("p"),
        sum(when(col("v") <= col("threshold"), 1L).otherwise(0L)).as("n_l"),
        sum(when(col("v") <= col("threshold"), col("y")).otherwise(0L))
          .as("p_l"))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("p_r", col("p") - col("p_l"))
      .withColumn("score_q", expr(
        """CASE WHEN n_l = 0 OR n_r = 0 THEN NULL ELSE
          |  CAST((CAST(p_l AS DECIMAL(38,0)) * p_l
          |      + CAST(n_l - p_l AS DECIMAL(38,0)) * (n_l - p_l))
          |    * 1000000 div n_l AS BIGINT)
          |  + CAST((CAST(p_r AS DECIMAL(38,0)) * p_r
          |      + CAST(n_r - p_r AS DECIMAL(38,0)) * (n_r - p_r))
          |    * 1000000 div n_r AS BIGINT) END""".stripMargin))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("eval_fold"))
      .orderBy(col("score_q").desc_nulls_last, col("feature"),
        col("threshold"))
    val best = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eval_fold"), col("feature").as("b_feature"),
        col("threshold"),
        when(col("p_l") * 2 >= col("n_l"), 1L).otherwise(0L).as("left_label"),
        when(col("p_r") * 2 >= col("n_r"), 1L).otherwise(0L).as("right_label"),
        col("score_q").as("train_score_q"))
    feats.join(broadcast(best),
        col("fold") === col("eval_fold") && col("feature") === col("b_feature"))
      .withColumn("pred",
        when(col("v") <= col("threshold"), col("left_label"))
          .otherwise(col("right_label")))
      .groupBy(col("eval_fold"), col("b_feature").as("feature"),
        col("threshold"), col("train_score_q"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy_ppm", expr("n_correct * 1000000L div n_test"))
      .orderBy(col("eval_fold"))
  }

  val q307Oracle: String = {
    val thrs = StumpThresholds.map(t => s"($t)").mkString(", ")
    s"""WITH $q78KeepCtes,
       |base AS (
       |  SELECT doc_id, y,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
       |      % 4 AS fold
       |  FROM k),
       |feats AS (
       |  SELECT y, fold, 'n_tokens' AS feature, n_tokens AS v FROM base
       |  UNION ALL
       |  SELECT y, fold, 'n_distinct', n_distinct FROM base),
       |folds(eval_fold) AS (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)),
       |thr(threshold) AS (VALUES $thrs),
       |cand AS (
       |  SELECT eval_fold, feature, threshold,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN v <= threshold THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_l,
       |    CAST(SUM(CASE WHEN v <= threshold THEN y ELSE 0 END) AS BIGINT)
       |      AS p_l
       |  FROM feats JOIN folds ON fold <> eval_fold
       |  CROSS JOIN thr
       |  GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT eval_fold, feature, threshold, n_l, p_l,
       |    n - n_l AS n_r, p - p_l AS p_r,
       |    CASE WHEN n_l = 0 OR n - n_l = 0 THEN NULL ELSE
       |      CAST(CAST(CAST(p_l AS HUGEINT) * p_l
       |          + CAST(n_l - p_l AS HUGEINT) * (n_l - p_l) AS HUGEINT)
       |        * 1000000 // n_l AS BIGINT)
       |      + CAST(CAST(CAST(p - p_l AS HUGEINT) * (p - p_l)
       |          + CAST((n - n_l) - (p - p_l) AS HUGEINT)
       |            * ((n - n_l) - (p - p_l)) AS HUGEINT)
       |        * 1000000 // (n - n_l) AS BIGINT) END AS score_q
       |  FROM cand),
       |best AS (
       |  SELECT eval_fold, feature AS b_feature, threshold,
       |    CASE WHEN p_l * 2 >= n_l THEN 1 ELSE 0 END AS left_label,
       |    CASE WHEN p_r * 2 >= n_r THEN 1 ELSE 0 END AS right_label,
       |    score_q AS train_score_q
       |  FROM (SELECT *, row_number() OVER (PARTITION BY eval_fold
       |          ORDER BY score_q DESC NULLS LAST, feature, threshold) AS rn
       |        FROM sc)
       |  WHERE rn = 1),
       |ev AS (
       |  SELECT b.eval_fold, b.b_feature AS feature, b.threshold,
       |    b.train_score_q,
       |    CASE WHEN f.v <= b.threshold THEN b.left_label
       |         ELSE b.right_label END AS pred, f.y
       |  FROM feats f JOIN best b
       |    ON f.fold = b.eval_fold AND f.feature = b.b_feature)
       |SELECT eval_fold, feature, threshold, train_score_q,
       |  CAST(COUNT(*) AS BIGINT) AS n_test,
       |  CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS accuracy_ppm
       |FROM ev
       |GROUP BY 1, 2, 3, 4
       |ORDER BY eval_fold""".stripMargin
  }

  /** KRIPPENDORFF'S ALPHA, NOMINAL (q324) — the multi-rater
    * chance-corrected agreement coefficient q215's two-rater Cohen's
    * kappa cannot express: three deterministic in-engine "annotators"
    * label every document (length bucket, period-density bucket,
    * word-count bucket — each a pure string/arithmetic expression so
    * both engines derive bit-identical labels), and agreement is scored
    * on the coincidence matrix. With a constant 3 raters per unit the
    * whole statistic is integral: offpairs = Σ_u 2·(#disagreeing rater
    * pairs), marginals n_c over all T = 3N ratings, and
    *   α = 1 − offpairs·(T−1) / (2·(T² − Σn_c²))
    * reported as the exact integer pair (alpha_num, alpha_den) plus a
    * sign-split ppm. alpha_num/alpha_den are ~2·T² so BIGINT holds them
    * to T ≈ 2.1·10⁹ ratings; the ppm product alpha_num·10⁶ would overflow
    * BIGINT already at T ≈ 2·10⁶, so it is computed in DECIMAL(38,0) (the
    * q144/q270 overflow discipline) and only the quotient — ppm-scaled,
    * always < 10⁶ in magnitude — lands back in BIGINT.
    *
    * Scale shape: one map over documents (no shuffle) → a 1-row
    * disagreement aggregate; marginals collapse onto the 3-label axis
    * via one hash-agg and cross to the 1-row frame. Output is ONE row.
    */
  def q324KrippendorffAlpha(spark: SparkSession, dir: String): DataFrame = {
    val labeled = graft.Tables.documents(spark, dir).select(
      expr("""CASE WHEN n_chars < 200 THEN 0L WHEN n_chars < 400 THEN 1L
        ELSE 2L END""").as("r1"),
      expr("""CASE
        WHEN length(coalesce(text,'')) -
             length(replace(coalesce(text,''), '.', '')) < 3 THEN 0L
        WHEN length(coalesce(text,'')) -
             length(replace(coalesce(text,''), '.', '')) < 6 THEN 1L
        ELSE 2L END""").as("r2"),
      expr("""CASE
        WHEN length(coalesce(text,'')) -
             length(replace(coalesce(text,''), ' ', '')) < 30 THEN 0L
        WHEN length(coalesce(text,'')) -
             length(replace(coalesce(text,''), ' ', '')) < 60 THEN 1L
        ELSE 2L END""").as("r3"))
    val dis = labeled.agg(
      count(lit(1)).as("n_units"),
      sum(expr("""2 * (CAST(r1 <> r2 AS BIGINT) + CAST(r1 <> r3 AS BIGINT)
        + CAST(r2 <> r3 AS BIGINT))""")).as("offpairs"))
    val marg = labeled
      .select(explode(array(col("r1"), col("r2"), col("r3"))).as("lab"))
      .groupBy(col("lab")).agg(count(lit(1)).as("nc"))
      .agg(sum(col("nc")).as("t_total"),
        sum(col("nc") * col("nc")).as("sumsq"))
    dis.crossJoin(broadcast(marg))
      .select(col("n_units"), col("t_total"), col("offpairs"), col("sumsq"),
        expr("2 * (t_total * t_total - sumsq) - offpairs * (t_total - 1)")
          .as("alpha_num"),
        expr("2 * (t_total * t_total - sumsq)").as("alpha_den"))
      .withColumn("alpha_ppm",
        expr("""CASE WHEN alpha_num >= 0
          | THEN CAST(CAST(alpha_num AS DECIMAL(38,0)) * 1000000
          |   div alpha_den AS BIGINT)
          | ELSE -CAST(CAST(-alpha_num AS DECIMAL(38,0)) * 1000000
          |   div alpha_den AS BIGINT) END""".stripMargin))
  }

  val q324Oracle: String =
    """WITH labeled AS (
      |  SELECT
      |    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
      |      ELSE 2 END AS r1,
      |    CASE
      |      WHEN length(COALESCE(text,'')) -
      |           length(replace(COALESCE(text,''), '.', '')) < 3 THEN 0
      |      WHEN length(COALESCE(text,'')) -
      |           length(replace(COALESCE(text,''), '.', '')) < 6 THEN 1
      |      ELSE 2 END AS r2,
      |    CASE
      |      WHEN length(COALESCE(text,'')) -
      |           length(replace(COALESCE(text,''), ' ', '')) < 30 THEN 0
      |      WHEN length(COALESCE(text,'')) -
      |           length(replace(COALESCE(text,''), ' ', '')) < 60 THEN 1
      |      ELSE 2 END AS r3
      |  FROM documents),
      |dis AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
      |    CAST(SUM(2 * (CASE WHEN r1 <> r2 THEN 1 ELSE 0 END
      |      + CASE WHEN r1 <> r3 THEN 1 ELSE 0 END
      |      + CASE WHEN r2 <> r3 THEN 1 ELSE 0 END)) AS BIGINT) AS offpairs
      |  FROM labeled),
      |marg AS (
      |  SELECT CAST(SUM(nc) AS BIGINT) AS t_total,
      |    CAST(SUM(nc * nc) AS BIGINT) AS sumsq
      |  FROM (SELECT lab, CAST(COUNT(*) AS BIGINT) AS nc
      |        FROM (SELECT unnest([r1, r2, r3]) AS lab FROM labeled)
      |        GROUP BY lab)),
      |alpha AS (
      |  SELECT n_units, t_total, offpairs, sumsq,
      |    2 * (t_total * t_total - sumsq) - offpairs * (t_total - 1)
      |      AS alpha_num,
      |    2 * (t_total * t_total - sumsq) AS alpha_den
      |  FROM dis CROSS JOIN marg)
      |SELECT n_units, t_total, offpairs, sumsq, alpha_num, alpha_den,
      |  CASE WHEN alpha_num >= 0
      |    THEN CAST(CAST(alpha_num AS HUGEINT) * 1000000 // alpha_den
      |      AS BIGINT)
      |    ELSE -CAST(CAST(-alpha_num AS HUGEINT) * 1000000 // alpha_den
      |      AS BIGINT)
      |  END AS alpha_ppm
      |FROM alpha""".stripMargin

  /** McNEMAR'S TEST (q330) — the paired-rater disagreement test that
    * completes the agreement battery (q215 kappa = chance-corrected
    * agreement level, q324 alpha = multi-rater reliability, this =
    * "do the two raters disagree in a BIASED direction?"): only the
    * discordant cells matter — b (A-yes/B-no) vs c (A-no/B-yes) — and
    * under the null they split evenly. Raters are the suite's
    * deterministic in-engine annotators (length ≥ 300 chars vs
    * word-count ≥ 45): correlated, deliberately not identical.
    * Everything is integer-exact: χ²_ppm = (b−c)²·10⁶ div (b+c), the
    * continuity-corrected variant uses max(|b−c|−1, 0), and the 95%
    * verdict cross-multiplies against χ²₁ = 3.841459 as
    * (b−c)²·10⁶ > 3841459·(b+c). NULL statistics when b+c = 0 (no
    * discordant pairs — the test is undefined, loudly not 0).
    *
    * Scale shape: one shuffle-free map over documents → a 1-row
    * aggregate with map-side combine. Output is ONE row.
    */
  def q330McNemar(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("ra"),
        when(size(graft.functions.TextFunctions.tokens(col("text"))) >= 45,
          1L).otherwise(0L).as("rb"))
      .agg(count(lit(1)).as("n_units"),
        sum(expr("CASE WHEN ra = 1 AND rb = 1 THEN 1L ELSE 0L END"))
          .as("n_both"),
        sum(expr("CASE WHEN ra = 1 AND rb = 0 THEN 1L ELSE 0L END"))
          .as("b_discord"),
        sum(expr("CASE WHEN ra = 0 AND rb = 1 THEN 1L ELSE 0L END"))
          .as("c_discord"),
        sum(expr("CASE WHEN ra = 0 AND rb = 0 THEN 1L ELSE 0L END"))
          .as("n_neither"))
      .select(col("n_units"), col("n_both"), col("b_discord"),
        col("c_discord"), col("n_neither"),
        expr("""CASE WHEN b_discord + c_discord = 0 THEN NULL
          | ELSE CAST(CAST(b_discord - c_discord AS DECIMAL(38,0))
          |   * (b_discord - c_discord) * 1000000
          |   div (b_discord + c_discord) AS BIGINT)
          |END""".stripMargin).as("chi2_ppm"),
        expr("""CASE WHEN b_discord + c_discord = 0 THEN NULL
          | ELSE CAST(CAST(GREATEST(ABS(b_discord - c_discord) - 1, 0L)
          |   AS DECIMAL(38,0))
          |   * GREATEST(ABS(b_discord - c_discord) - 1, 0L) * 1000000
          |   div (b_discord + c_discord) AS BIGINT)
          |END""".stripMargin).as("chi2_cc_ppm"),
        expr("""CAST(CASE WHEN b_discord + c_discord > 0 AND
          |  CAST(b_discord - c_discord AS DECIMAL(38,0))
          |    * (b_discord - c_discord) * 1000000 >
          |  3841459 * CAST(b_discord + c_discord AS DECIMAL(38,0))
          |THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_95"))

  val q330Oracle: String =
    """WITH r AS (
      |  SELECT
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
      |    CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 45
      |      THEN 1 ELSE 0 END AS rb
      |  FROM documents),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
      |    CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_both,
      |    CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b_discord,
      |    CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c_discord,
      |    CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_neither
      |  FROM r)
      |SELECT n_units, n_both, b_discord, c_discord, n_neither,
      |  CASE WHEN b_discord + c_discord = 0 THEN NULL
      |    ELSE CAST(CAST(b_discord - c_discord AS HUGEINT)
      |      * (b_discord - c_discord) * 1000000
      |      // (b_discord + c_discord) AS BIGINT)
      |  END AS chi2_ppm,
      |  CASE WHEN b_discord + c_discord = 0 THEN NULL
      |    ELSE CAST(CAST(GREATEST(ABS(b_discord - c_discord) - 1, 0)
      |      AS HUGEINT)
      |      * GREATEST(ABS(b_discord - c_discord) - 1, 0) * 1000000
      |      // (b_discord + c_discord) AS BIGINT)
      |  END AS chi2_cc_ppm,
      |  CAST(CASE WHEN b_discord + c_discord > 0 AND
      |    CAST(b_discord - c_discord AS HUGEINT)
      |      * (b_discord - c_discord) * 1000000 >
      |    3841459 * CAST(b_discord + c_discord AS HUGEINT)
      |  THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM agg""".stripMargin

  /** AVERAGE PRECISION (q331) — the ranking-quality summary that
    * completes q208's AUC: AUC prices pairwise ordering, AP prices the
    * TOP of the ranking (each relevant doc contributes the precision at
    * its own rank — exactly what a curation pipeline skimming the top
    * of a quality ranking experiences). Ranks come from the
    * deterministic total order (score DESC, doc_id ASC); each relevant
    * rank k contributes P@k = cumrel(k)·10⁶ div k, and
    * ap_ppm = Σ contributions div R. Truncated-division contributions
    * are the documented convention (both engines compute the identical
    * sequence, so parity is exact; the alternative — rational-sum AP —
    * overflows any fixed decimal at corpus scale). prior_ppm = R·10⁶
    * div n rides along: AP of a random ranking, the number AP must
    * beat to mean anything.
    *
    * Scale shape: the global rank and the relevance cumulative both
    * ride the distributed two-pass prefix sum (range exchange on
    * (score, doc_id) — no one-partition window); everything after is
    * a 1-row aggregate. Output is ONE row.
    */
  def q331AveragePrecision(spark: SparkSession, dir: String): DataFrame = {
    val j = scoreLabel(spark, dir)
      .withColumn("g", lit(0)).withColumn("one", lit(1L))
    val ord = Seq(col("score_sum").desc, col("doc_id").asc)
    val ranked = graft.functions.PrefixSum.runningTotal(
      graft.functions.PrefixSum.runningTotal(j, Seq("g"), ord, "one", "rk"),
      Seq("g"), ord, "y", "cumrel")
    ranked.agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(when(col("y") === 1L,
          expr("CAST(cumrel AS DECIMAL(38,0)) * 1000000 div rk"))
          .otherwise(lit(0L)).cast("decimal(38,0)")).as("sp"))
      .select(col("n"), col("n_pos"),
        expr("CASE WHEN n_pos = 0 THEN NULL " +
          "ELSE CAST(sp div n_pos AS BIGINT) END").as("ap_ppm"),
        expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)")
          .as("prior_ppm"))
  }

  val q331Oracle: String =
    s"""WITH $scoreLabelCtes,
       |ranked AS (
       |  SELECT y,
       |    ROW_NUMBER() OVER (ORDER BY score_sum DESC, doc_id ASC) AS rk,
       |    SUM(y) OVER (ORDER BY score_sum DESC, doc_id ASC) AS cumrel
       |  FROM j)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(y) AS BIGINT) AS n_pos,
       |  CASE WHEN SUM(y) = 0 THEN NULL
       |    ELSE CAST(SUM(CASE WHEN y = 1
       |      THEN CAST(cumrel AS HUGEINT) * 1000000 // rk
       |      ELSE 0 END) // SUM(y) AS BIGINT)
       |  END AS ap_ppm,
       |  CAST(CAST(SUM(y) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
       |    AS prior_ppm
       |FROM ranked""".stripMargin

  /** YOUDEN OPTIMAL THRESHOLD (q338) — the operating point q208's AUC
    * deliberately doesn't pick: the score cut t maximizing
    * J = TPR − FPR, scanned over every DISTINCT score with "positive ⇔
    * score > t" semantics. Everything cross-multiplies: J's numerator is
    * j_num(t) = TP·N_neg − FP·N_pos (exact BIGINT→DECIMAL), ties resolve
    * to the SMALLEST threshold (the more-sensitive cut), and
    * j_ppm = j_num·10⁶ div (P·N). This is how a curation pipeline turns
    * a scored corpus into a keep/drop rule with a defensible cut.
    *
    * Scale shape: the corpus collapses to the distinct-score frame
    * (bounded by the score RANGE, a model constant — q208's argument);
    * the cumulative is the distributed prefix sum; the argmax is a
    * window over that bounded frame. Output is ONE row.
    */
  def q338YoudenThreshold(spark: SparkSession, dir: String): DataFrame = {
    val byScore = scoreLabel(spark, dir)
      .groupBy(col("score_sum"))
      .agg(sum(col("y")).as("p"),
        (count(lit(1)) - sum(col("y"))).as("ng"))
      .withColumn("g", lit(0))
    val cum = graft.functions.PrefixSum
      .runningTotal(graft.functions.PrefixSum.runningTotal(
        byScore, Seq("g"), Seq(col("score_sum").asc), "p", "cump"),
        Seq("g"), Seq(col("score_sum").asc), "ng", "cumn")
    val tot = byScore.agg(sum(col("p")).as("np"), sum(col("ng")).as("nn"))
    val j = cum.crossJoin(broadcast(tot))
      .withColumn("tp", col("np") - col("cump"))
      .withColumn("fp", col("nn") - col("cumn"))
      .withColumn("j_num", expr(
        "CAST(tp AS DECIMAL(38,0)) * nn - CAST(fp AS DECIMAL(38,0)) * np"))
    j.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("j_num").desc, col("score_sum").asc)))
      .filter(col("rn") === 1)
      .select(col("score_sum").as("threshold"), col("np").as("n_pos"),
        col("nn").as("n_neg"), col("tp"), col("fp"),
        (col("np") - col("tp")).as("fn"), (col("nn") - col("fp")).as("tn"),
        expr("""CASE WHEN np = 0 OR nn = 0 THEN NULL
          | WHEN j_num >= 0 THEN CAST(j_num * 1000000
          |   div (CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT)
          | ELSE -CAST((-j_num) * 1000000
          |   div (CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT)
          |END""".stripMargin).as("j_ppm"))
  }

  val q338Oracle: String =
    s"""WITH $scoreLabelCtes,
       |g AS (
       |  SELECT score_sum, CAST(SUM(y) AS BIGINT) AS p,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS ng
       |  FROM j GROUP BY score_sum),
       |cum AS (
       |  SELECT score_sum, p, ng,
       |    SUM(p) OVER (ORDER BY score_sum) AS cump,
       |    SUM(ng) OVER (ORDER BY score_sum) AS cumn
       |  FROM g),
       |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS np,
       |  CAST(SUM(ng) AS BIGINT) AS nn FROM g),
       |jj AS (
       |  SELECT score_sum, np, nn,
       |    np - cump AS tp, nn - cumn AS fp,
       |    CAST(np - cump AS HUGEINT) * nn
       |      - CAST(nn - cumn AS HUGEINT) * np AS j_num
       |  FROM cum CROSS JOIN tot),
       |best AS (
       |  SELECT *, row_number() OVER (ORDER BY j_num DESC, score_sum ASC)
       |    AS rn
       |  FROM jj)
       |SELECT score_sum AS threshold, np AS n_pos, nn AS n_neg,
       |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(np - tp AS BIGINT) AS fn, CAST(nn - fp AS BIGINT) AS tn,
       |  CASE WHEN np = 0 OR nn = 0 THEN NULL
       |    WHEN j_num >= 0 THEN CAST(j_num * 1000000
       |      // (CAST(np AS HUGEINT) * nn) AS BIGINT)
       |    ELSE -CAST((-j_num) * 1000000
       |      // (CAST(np AS HUGEINT) * nn) AS BIGINT)
       |  END AS j_ppm
       |FROM best WHERE rn = 1""".stripMargin

  /** MULTI-CLASS CONFUSION SUITE (q351) — the basic eval table the suite's
    * single-number metrics (q208 AUC, q215 κ, q331 AP, q338 J) all
    * presuppose but none emits: per-class true/false positives and
    * misses of the q33 language-ID predictor judged against the corpus's
    * `lang` label, with precision / recall / F1 in exact ppm, plus the
    * pooled micro row (`~micro`, which for single-label multi-class is
    * accuracy on all three metrics). A class appears if it occurs as a
    * label OR as a prediction — an over-predicted junk class must not
    * vanish from the report just because nothing is labeled with it.
    *
    * Scale shape: ONE corpus scan into a (label, pred) hash-aggregate;
    * everything after lives on the ≤(|langs|+1)² contingency frame —
    * class axis is model-bounded, not corpus-bounded. No joins touch the
    * corpus.
    */
  def q351ConfusionSuite(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.Tables.documents(spark, dir)
      .select(col("lang").as("label"),
        graft.functions.TextFunctions.langId(col("text")).as("pred"))
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
    val byLabel = cells.groupBy(col("label").as("cls"))
      .agg(sum(col("n")).as("n_label"))
    val byPred = cells.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    val diag = cells.filter(col("label") === col("pred"))
      .select(col("label").as("cls"), col("n").as("tp0"))
    val per = byLabel.join(byPred, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left_outer")
      .select(col("cls"),
        coalesce(col("n_label"), lit(0L)).as("n_label"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp0"), lit(0L)).as("tp"))
    val micro = per.agg(
        lit("~micro").as("cls"),
        sum(col("n_label")).as("n_label"), sum(col("n_pred")).as("n_pred"),
        sum(col("tp")).as("tp"))
    per.unionByName(micro)
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("n_label") - col("tp"))
      .select(col("cls"), col("n_label"), col("n_pred"),
        col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN NULL ELSE " +
          "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 div (tp + fp) AS BIGINT)" +
          " END").as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN NULL ELSE " +
          "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 div (tp + fn) AS BIGINT)" +
          " END").as("recall_ppm"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE " +
          "CAST(CAST(tp AS DECIMAL(38,0)) * 2000000" +
          " div (2 * tp + fp + fn) AS BIGINT) END").as("f1_ppm"))
      .orderBy(col("cls"))
  }

  val q351Oracle: String =
    s"""WITH p AS (
       |  SELECT lang AS label, ${TextQueries.langPredSql} AS pred
       |  FROM documents),
       |cells AS (
       |  SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM p GROUP BY 1, 2),
       |bl AS (SELECT label AS cls, CAST(SUM(n) AS BIGINT) AS n_label
       |       FROM cells GROUP BY 1),
       |bp AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS n_pred
       |       FROM cells GROUP BY 1),
       |dg AS (SELECT label AS cls, n AS tp0 FROM cells WHERE label = pred),
       |per AS (
       |  SELECT COALESCE(bl.cls, bp.cls) AS cls,
       |    COALESCE(n_label, 0) AS n_label,
       |    COALESCE(n_pred, 0) AS n_pred,
       |    COALESCE(tp0, 0) AS tp
       |  FROM bl FULL OUTER JOIN bp ON bl.cls = bp.cls
       |  LEFT JOIN dg ON dg.cls = COALESCE(bl.cls, bp.cls)),
       |rows2 AS (
       |  SELECT cls, n_label, n_pred, tp FROM per
       |  UNION ALL
       |  SELECT '~micro', CAST(SUM(n_label) AS BIGINT),
       |    CAST(SUM(n_pred) AS BIGINT), CAST(SUM(tp) AS BIGINT)
       |  FROM per)
       |SELECT cls, n_label, n_pred, tp,
       |  n_pred - tp AS fp, n_label - tp AS fn,
       |  CASE WHEN n_pred = 0 THEN NULL
       |    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // n_pred AS BIGINT)
       |  END AS precision_ppm,
       |  CASE WHEN n_label = 0 THEN NULL
       |    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // n_label AS BIGINT)
       |  END AS recall_ppm,
       |  CASE WHEN n_pred + n_label = 0 THEN NULL
       |    ELSE CAST(CAST(tp AS HUGEINT) * 2000000
       |      // (n_pred + n_label) AS BIGINT)
       |  END AS f1_ppm
       |FROM rows2
       |ORDER BY cls""".stripMargin

  /** CALIBRATION-GAP / ECE AUDIT (q352) — q207's reliability deciles
    * turned into the scalar every model card quotes: per score decile,
    * the gap between the scorer's min-max-normalized confidence and the
    * observed positive rate, and as the `bin = -1` summary row the
    * EXPECTED CALIBRATION ERROR — the doc-weighted mean absolute gap,
    * computed from UNtruncated per-bin sums so the summary is exact, not
    * a rounding of rounded bins. Confidence is the affine rank-free
    * map conf_ppm = (score − min)·10⁶ div (max − min) (0 when the score
    * is constant): calibration is judged on what an affine consumer of
    * the raw score would read as probability.
    *
    * Scale shape: the global rank rides the distributed two-pass prefix
    * sum (q207's scaffold); min/max is a 1-row broadcast; bins are a
    * 10-row frame and the summary a 1-row aggregate over it.
    */
  def q352CalibrationGap(spark: SparkSession, dir: String): DataFrame = {
    val j = scoreLabel(spark, dir)
      .withColumn("g", lit(0)).withColumn("one", lit(1L))
    val span = j.agg(min(col("score_sum")).as("lo"),
      max(col("score_sum")).as("hi"))
    val conf = graft.functions.PrefixSum
      .runningTotal(j, Seq("g"),
        Seq(col("score_sum").asc, col("doc_id").asc), "one", "rk")
      .crossJoin(broadcast(span))
      .withColumn("conf_ppm", expr(
        "CASE WHEN hi = lo THEN 0L ELSE CAST(CAST(score_sum - lo " +
          "AS DECIMAL(38,0)) * 1000000 div (hi - lo) AS BIGINT) END"))
    val total = j.agg(count(lit(1)).as("n"))
    val bins = conf.crossJoin(broadcast(total))
      .withColumn("bin", expr("((rk - 1) * 10) div n"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum(col("conf_ppm")).as("sum_conf"))
    val perBin = bins.select(col("bin"), col("n_docs"), col("n_pos"),
      expr("sum_conf div n_docs").as("avg_conf_ppm"),
      expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * 1000000 div n_docs" +
        " AS BIGINT)").as("pos_ppm"),
      expr("CAST(abs(sum_conf - 1000000 * n_pos) div n_docs AS BIGINT)")
        .as("gap_ppm"))
    val ece = bins.agg(
        lit(-1L).as("bin"),
        sum(col("n_docs")).as("n_docs"), sum(col("n_pos")).as("n_pos"),
        expr("sum(sum_conf) div sum(n_docs)").as("avg_conf_ppm"),
        expr("CAST(CAST(sum(n_pos) AS DECIMAL(38,0)) * 1000000" +
          " div sum(n_docs) AS BIGINT)").as("pos_ppm"),
        expr("CAST(sum(abs(sum_conf - 1000000 * n_pos))" +
          " div sum(n_docs) AS BIGINT)").as("gap_ppm"))
    perBin.select(col("bin").cast(LongType).as("bin"), col("n_docs"),
        col("n_pos"), col("avg_conf_ppm"), col("pos_ppm"), col("gap_ppm"))
      .unionByName(ece)
      .orderBy(col("bin"))
  }

  val q352Oracle: String =
    s"""WITH $scoreLabelCtes,
       |sp AS (SELECT MIN(score_sum) AS lo, MAX(score_sum) AS hi FROM j),
       |r AS (
       |  SELECT doc_id, score_sum, y,
       |    ROW_NUMBER() OVER (ORDER BY score_sum, doc_id) AS rk,
       |    COUNT(*) OVER () AS n,
       |    CASE WHEN hi = lo THEN 0
       |      ELSE CAST(CAST(score_sum - lo AS HUGEINT) * 1000000
       |        // (hi - lo) AS BIGINT) END AS conf_ppm
       |  FROM j CROSS JOIN sp),
       |bins AS (
       |  SELECT (rk - 1) * 10 // n AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(y) AS BIGINT) AS n_pos,
       |    CAST(SUM(conf_ppm) AS BIGINT) AS sum_conf
       |  FROM r GROUP BY 1),
       |both2 AS (
       |  SELECT bin, n_docs, n_pos,
       |    CAST(sum_conf // n_docs AS BIGINT) AS avg_conf_ppm,
       |    CAST(CAST(n_pos AS HUGEINT) * 1000000 // n_docs AS BIGINT)
       |      AS pos_ppm,
       |    CAST(ABS(sum_conf - 1000000 * n_pos) // n_docs AS BIGINT)
       |      AS gap_ppm
       |  FROM bins
       |  UNION ALL
       |  SELECT -1, CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_pos) AS BIGINT),
       |    CAST(SUM(sum_conf) // SUM(n_docs) AS BIGINT),
       |    CAST(CAST(SUM(n_pos) AS HUGEINT) * 1000000
       |      // SUM(n_docs) AS BIGINT),
       |    CAST(SUM(ABS(sum_conf - 1000000 * n_pos))
       |      // SUM(n_docs) AS BIGINT)
       |  FROM bins)
       |SELECT CAST(bin AS BIGINT) AS bin, n_docs, n_pos, avg_conf_ppm,
       |  pos_ppm, gap_ppm
       |FROM both2 ORDER BY bin""".stripMargin

  /** The experiment frame behind q353/q354: per (user, deterministic
    * treatment arm = user_id % 2), exact-cent activity sums split at the
    * dataset's midpoint timestamp into a PRE-period covariate x and a
    * POST-period metric y — the standard A/B layout synthesized from the
    * events table with no randomness (re-runs produce the same arms). */
  private[queries] def experimentFrame(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    // FLOOR-div midpoint (Exact.fdiv): DuckDB's `// 2` floors while
    // Spark's `div` truncates toward zero — they disagree when the
    // min+max sum is negative and odd (pre-1970 data)
    val cut = ev.agg(expr(Exact.fdiv(
      "unix_micros(min(ts)) + unix_micros(max(ts))", "2")).as("cut_us"))
    ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(
        sum(when(expr("unix_micros(ts) < cut_us"), col("cents"))
          .otherwise(0L)).as("x"),
        sum(when(expr("unix_micros(ts) >= cut_us"), col("cents"))
          .otherwise(0L)).as("y"))
      .withColumn("t", expr("user_id % 2"))
  }

  /** Oracle twin of [[experimentFrame]]. */
  private[queries] val experimentCtes: String =
    """ev AS (
      |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |cut AS (
      |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS cut_us
      |  FROM ev),
      |pu AS (
      |  SELECT user_id, user_id % 2 AS t,
      |    CAST(SUM(CASE WHEN epoch_us(ts) < cut_us THEN cents ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN epoch_us(ts) >= cut_us THEN cents ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM ev CROSS JOIN cut GROUP BY 1, 2)""".stripMargin

  /** CUPED VARIANCE REDUCTION (q353) — the controlled-experiment
    * estimator (Deng et al., WSDM'13 — public literature): the treatment
    * effect on the post-period metric y, adjusted by the pre-period
    * covariate x with the pooled regression coefficient
    * θ = Cov(x,y)/Var(x). Everything is exact integer moments on cents:
    * θ in sign-split ppm from the cross-multiplied num/den, the raw and
    * CUPED-adjusted treat−control mean differences in micro-cents
    * (θ·x̄-difference cleared through one more sign-split div). The
    * adjusted difference is the number an experimentation platform
    * ships; the raw−adjusted spread is the pre-period imbalance CUPED
    * removed.
    *
    * Scale shape: one per-user aggregate (map-side combinable) and ONE
    * 1-row moment aggregate carrying both the pooled moments and the
    * per-arm conditional sums — no second pass, no join. At any corpus
    * size the reduce state is a dozen DECIMAL(38) cells.
    */
  def q353Cuped(spark: SparkSession, dir: String): DataFrame = {
    val d = "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
    val nm = "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
    experimentFrame(spark, dir)
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("t") === 1, col("x")).otherwise(0L)).as("sx_t"),
        sum(when(col("t") === 1, col("y")).otherwise(0L)).as("sy_t"),
        sum(when(col("t") === 0, col("x")).otherwise(0L)).as("sx_c"),
        sum(when(col("t") === 0, col("y")).otherwise(0L)).as("sy_c"))
      .withColumn("n_ctrl", expr("n - n_treat"))
      .withColumn("theta_ppm", expr(
        s"CASE WHEN $d = 0 THEN NULL ELSE CAST(" +
          sdiv(s"($nm) * 1000000", d, "div") + " AS BIGINT) END"))
      .withColumn("diff_raw_micro", expr("CAST(" +
        sdiv("CAST(sy_t AS DECIMAL(38,0)) * 1000000", "n_treat", "div") +
        " - " +
        sdiv("CAST(sy_c AS DECIMAL(38,0)) * 1000000", "n_ctrl", "div") +
        " AS BIGINT)"))
      .withColumn("xdiff_micro", expr("CAST(" +
        sdiv("CAST(sx_t AS DECIMAL(38,0)) * 1000000", "n_treat", "div") +
        " - " +
        sdiv("CAST(sx_c AS DECIMAL(38,0)) * 1000000", "n_ctrl", "div") +
        " AS BIGINT)"))
      .withColumn("diff_cuped_micro", expr(
        "CASE WHEN theta_ppm IS NULL THEN NULL ELSE CAST(diff_raw_micro - " +
          sdiv("CAST(theta_ppm AS DECIMAL(38,0)) * xdiff_micro",
            "1000000", "div") + " AS BIGINT) END"))
      .select(col("n").as("n_users"), col("n_treat"), col("n_ctrl"),
        col("theta_ppm"), col("diff_raw_micro"), col("diff_cuped_micro"))
  }

  val q353Oracle: String = {
    val d = "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx"
    val nm = "CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy"
    s"""WITH $experimentCtes,
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_treat,
       |    CAST(SUM(CASE WHEN t = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_t,
       |    CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_t,
       |    CAST(SUM(CASE WHEN t = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_c,
       |    CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_c
       |  FROM pu),
       |e AS (
       |  SELECT n, n_treat, n - n_treat AS n_ctrl,
       |    CASE WHEN $d = 0 THEN NULL ELSE CAST(
       |      ${sdiv(s"($nm) * 1000000", d, "//")} AS BIGINT) END
       |      AS theta_ppm,
       |    CAST(${sdiv("CAST(sy_t AS HUGEINT) * 1000000", "n_treat", "//")}
       |      - ${sdiv("CAST(sy_c AS HUGEINT) * 1000000", "n - n_treat", "//")}
       |      AS BIGINT) AS diff_raw_micro,
       |    CAST(${sdiv("CAST(sx_t AS HUGEINT) * 1000000", "n_treat", "//")}
       |      - ${sdiv("CAST(sx_c AS HUGEINT) * 1000000", "n - n_treat", "//")}
       |      AS BIGINT) AS xdiff_micro
       |  FROM m)
       |SELECT n AS n_users, n_treat, n_ctrl, theta_ppm, diff_raw_micro,
       |  CASE WHEN theta_ppm IS NULL THEN NULL ELSE
       |    CAST(diff_raw_micro - ${sdiv(
             "CAST(theta_ppm AS HUGEINT) * xdiff_micro", "1000000", "//")}
       |      AS BIGINT) END AS diff_cuped_micro
       |FROM e""".stripMargin
  }

  /** MINIMUM-DETECTABLE-EFFECT AUDIT (q354) — the power calculation an
    * experimentation platform runs BEFORE assigning traffic: per event
    * type, given the observed per-event value variance, the smallest
    * absolute treat−control difference a 50/50 split of this volume can
    * detect at α = .05 two-sided with 80% power. The closed form
    * MDE = (z_{α/2}+z_β)·σ·√(4/n) = 2·2.8016·√(varnum/n)/n with
    * varnum = n·Σc² − (Σc)² is computed entirely in integers: one
    * truncating div, the float-seeded ±2-corrected isqrt (q320's), one
    * scale multiply — identical in both engines. `mde_rel_ppm` divides
    * by the observed mean so flat low-value event types read as the
    * (large) relative lift they'd actually need.
    *
    * Scale shape: ONE map-side-combinable aggregate onto the bounded
    * event-type axis; the isqrt and ratio arithmetic run on that
    * |types|-row frame. Nothing else touches the corpus.
    */
  def q354MdeAudit(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
      .withColumn("varnum", expr(
        "CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("v", expr("varnum div n"))
      .transform(isqrtStage("v", "w"))
      .withColumn("mde_micro", expr(
        "CAST(CAST(w AS DECIMAL(38,0)) * 5603200 div n AS BIGINT)"))
      .withColumn("mean_micro", expr("CAST(" +
        sdiv("CAST(s1 AS DECIMAL(38,0)) * 1000000", "n", "div") +
        " AS BIGINT)"))
      .select(col("event_type"), col("n").as("n_events"), col("mean_micro"),
        col("mde_micro"),
        expr("CASE WHEN mean_micro = 0 THEN NULL ELSE " +
          "CAST(CAST(mde_micro AS DECIMAL(38,0)) * 1000000" +
          " div abs(mean_micro) AS BIGINT) END").as("mde_rel_ppm"))
      .orderBy(col("event_type"))

  val q354Oracle: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events
       |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
       |m AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s1, SUM(CAST(c AS HUGEINT) * c) AS s2
       |  FROM e GROUP BY 1),
       |vv AS (
       |  SELECT event_type, n, s1,
       |    (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1) // n AS v
       |  FROM m),
       |r0s AS (
       |  SELECT *, CAST(FLOOR(SQRT(CAST(v AS DOUBLE))) AS BIGINT) AS r0
       |  FROM vv),
       |w AS (
       |  SELECT event_type, n, s1,
       |    GREATEST(0, r0 - 2 + CASE
       |      WHEN CAST(r0 + 2 AS HUGEINT) * (r0 + 2) <= v THEN 4
       |      WHEN CAST(r0 + 1 AS HUGEINT) * (r0 + 1) <= v THEN 3
       |      WHEN CAST(r0 AS HUGEINT) * r0 <= v THEN 2
       |      WHEN CAST(r0 - 1 AS HUGEINT) * (r0 - 1) <= v THEN 1
       |      ELSE 0 END) AS w
       |  FROM r0s),
       |f AS (
       |  SELECT event_type, n, s1,
       |    CAST(CAST(w AS HUGEINT) * 5603200 // n AS BIGINT) AS mde_micro,
       |    CAST(${sdiv("CAST(s1 AS HUGEINT) * 1000000", "n", "//")}
       |      AS BIGINT) AS mean_micro
       |  FROM w)
       |SELECT event_type, n AS n_events, mean_micro, mde_micro,
       |  CASE WHEN mean_micro = 0 THEN NULL ELSE
       |    CAST(CAST(mde_micro AS HUGEINT) * 1000000
       |      // ABS(mean_micro) AS BIGINT) END AS mde_rel_ppm
       |FROM f ORDER BY event_type""".stripMargin

  /** HORVITZ–THOMPSON ESTIMATION AUDIT (q366) — the estimator that makes
    * the suite's deterministic samplers (q80/q127/q320/q346) USABLE for
    * totals: sample events per stratum (= event type) at md5-derived
    * unequal rates, inverse-probability-weight the sampled cents back up
    * (HT: est = Σ sampled·10⁶/rate_ppm, one truncating div per stratum),
    * and — because this corpus is small enough to know the truth — put
    * the realized signed error in ppm next to it. At 100 TB the true
    * column is unavailable and the estimate IS the report; the audit
    * exists so the estimator ships pre-validated. Membership is the
    * q134/q198 exact integer threshold (p32·10⁶ < rate·2³²), rates are
    * 62 500·(1+md5(type) mod 8) ppm — deterministic, replayable, and
    * deliberately unequal across strata so the weighting actually does
    * something.
    *
    * Scale shape: ONE corpus scan with codegen'd md5 membership, one
    * map-side-combinable rollup onto the bounded type axis. No joins.
    */
  def q366HorvitzThompson(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("event_id").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr("62500 * (1 + CAST(conv(substring(md5(event_type), 1, 8)," +
          " 16, 10) AS BIGINT) % 8)").as("rate_ppm"),
        expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8)," +
          " 16, 10) AS BIGINT)").as("p32"))
      .withColumn("sampled", expr(
        "CAST(p32 AS DECIMAL(38,0)) * 1000000 < " +
          "CAST(rate_ppm AS DECIMAL(38,0)) * 4294967296"))
      .groupBy(col("event_type"))
      .agg(max(col("rate_ppm")).as("rate_ppm"),
        count(lit(1)).as("n_total"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(col("cents")).as("true_cents"),
        sum(when(col("sampled"), col("cents")).otherwise(0L)).as("sc"))
      .withColumn("ht_cents", expr("CAST(" +
        sdiv("CAST(sc AS DECIMAL(38,0)) * 1000000", "rate_ppm", "div") +
        " AS BIGINT)"))
      .select(col("event_type"), col("rate_ppm"), col("n_total"),
        col("n_sampled"), col("true_cents"), col("ht_cents"),
        expr("CASE WHEN true_cents = 0 THEN NULL ELSE CAST(" +
          sdiv("CAST(ht_cents - true_cents AS DECIMAL(38,0)) * 1000000",
            "abs(true_cents)", "div") + " AS BIGINT) END").as("err_ppm"))
      .orderBy(col("event_type"))

  val q366Oracle: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
       |    62500 * (1 + CAST('0x' || substr(md5(event_type), 1, 8)
       |      AS BIGINT) % 8) AS rate_ppm,
       |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
       |      AS BIGINT) AS p32
       |  FROM events
       |  WHERE event_type IS NOT NULL AND value IS NOT NULL
       |    AND event_id IS NOT NULL),
       |m AS (
       |  SELECT event_type, CAST(MAX(rate_ppm) AS BIGINT) AS rate_ppm,
       |    CAST(COUNT(*) AS BIGINT) AS n_total,
       |    CAST(SUM(CASE WHEN CAST(p32 AS HUGEINT) * 1000000 <
       |      CAST(rate_ppm AS HUGEINT) * 4294967296 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_sampled,
       |    CAST(SUM(cents) AS BIGINT) AS true_cents,
       |    CAST(SUM(CASE WHEN CAST(p32 AS HUGEINT) * 1000000 <
       |      CAST(rate_ppm AS HUGEINT) * 4294967296 THEN cents ELSE 0 END)
       |      AS BIGINT) AS sc
       |  FROM e GROUP BY 1),
       |h AS (
       |  SELECT *, CAST(${sdiv("CAST(sc AS HUGEINT) * 1000000",
           "rate_ppm", "//")} AS BIGINT) AS ht_cents
       |  FROM m)
       |SELECT event_type, rate_ppm, n_total, n_sampled, true_cents,
       |  ht_cents,
       |  CASE WHEN true_cents = 0 THEN NULL ELSE CAST(
       |    ${sdiv("CAST(ht_cents - true_cents AS HUGEINT) * 1000000",
           "ABS(true_cents)", "//")} AS BIGINT) END AS err_ppm
       |FROM h ORDER BY event_type""".stripMargin

  /** QUANTILE TREATMENT EFFECTS (q367) — what q353's CUPED mean cannot
    * show: WHERE in the outcome distribution the treatment acts. Per
    * decile d ∈ 1..9, the exact per-arm lower quantile of the per-user
    * post-period value (smallest v with 10·cum ≥ d·n — q349's rank
    * convention) and their difference. A flat mean with positive tail
    * QTEs is the classic "whales only" effect a mean-based readout
    * ships blind.
    *
    * Scale shape: per-user aggregate → per-arm distinct-value histogram
    * → distributed prefix sum partitioned by arm → a 9-row decile frame
    * joined against the bounded cumulative frame. No corpus-wide
    * window.
    */
  def q367QuantileEffects(spark: SparkSession, dir: String): DataFrame = {
    val pu = experimentFrame(spark, dir).select(col("t"), col("y"))
    val hist = pu.groupBy(col("t"), col("y")).agg(count(lit(1)).as("c"))
    val cum = graft.functions.PrefixSum
      .runningTotal(hist, Seq("t"), Seq(col("y").asc), "c", "cum")
    val narm = hist.groupBy(col("t")).agg(sum(col("c")).as("n"))
    val dec = spark.range(1, 10).select(col("id").as("d"))
    cum.join(broadcast(narm), "t").crossJoin(broadcast(dec))
      .filter(expr("10 * cum >= d * n"))
      .groupBy(col("d"))
      .agg(min(when(col("t") === 1, col("y"))).as("treat_v"),
        min(when(col("t") === 0, col("y"))).as("ctrl_v"))
      .select(col("d").as("decile"), col("treat_v"), col("ctrl_v"),
        (col("treat_v") - col("ctrl_v")).as("qte_cents"))
      .orderBy(col("decile"))
  }

  val q367Oracle: String =
    s"""WITH $experimentCtes,
       |h AS (SELECT t, y, CAST(COUNT(*) AS BIGINT) AS c
       |      FROM pu GROUP BY 1, 2),
       |cum AS (
       |  SELECT t, y, c, SUM(c) OVER (PARTITION BY t ORDER BY y) AS cum
       |  FROM h),
       |na AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
       |dec AS (SELECT unnest(range(1, 10)) AS d)
       |SELECT CAST(d AS BIGINT) AS decile,
       |  MIN(CASE WHEN t = 1 THEN y END) AS treat_v,
       |  MIN(CASE WHEN t = 0 THEN y END) AS ctrl_v,
       |  MIN(CASE WHEN t = 1 THEN y END) - MIN(CASE WHEN t = 0 THEN y END)
       |    AS qte_cents
       |FROM cum JOIN na USING (t) CROSS JOIN dec
       |WHERE 10 * cum >= d * n
       |GROUP BY d ORDER BY decile""".stripMargin

  /** FAIRNESS SLICE AUDIT (q368) — the per-group disparity report a
    * model card requires before the q136 classifier gates a corpus:
    * per language slice, the selection rate (keep-decision = score ≥ 0),
    * TPR and FPR against the q78 reference label, and the gaps vs the
    * pooled rates — demographic-parity gap (selection) and the
    * equalized-odds gap (max of |ΔTPR|, |ΔFPR|), all exact signed ppm.
    * The `~all` row carries the pooled rates with zero gaps so the
    * report is self-contained.
    *
    * Scale shape: one doc-keyed join hangs lang on the score/label
    * frame; one rollup onto the bounded lang axis; the pooled row is a
    * 1-row broadcast back onto it.
    */
  def q368FairnessSlices(spark: SparkSession, dir: String): DataFrame = {
    val sl = scoreLabel(spark, dir)
      .join(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("y"),
        (col("score_sum") >= 0L).cast("long").as("pred"))
    def rates(df: DataFrame, key: Column): DataFrame = df
      .groupBy(key.as("lang"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("pred")).as("n_sel"),
        sum(col("pred") * col("y")).as("tp"),
        sum(col("pred") * (lit(1L) - col("y"))).as("fp"))
      .withColumn("sel_ppm", expr(
        "CAST(CAST(n_sel AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"))
      .withColumn("tpr_ppm", expr("CASE WHEN n_pos = 0 THEN NULL ELSE " +
        "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 div n_pos AS BIGINT)" +
        " END"))
      .withColumn("fpr_ppm", expr("CASE WHEN n = n_pos THEN NULL ELSE " +
        "CAST(CAST(fp AS DECIMAL(38,0)) * 1000000 div (n - n_pos)" +
        " AS BIGINT) END"))
    val per = rates(sl, col("lang"))
    val all = rates(sl, lit("~all"))
    val g = all.select(col("sel_ppm").as("g_sel"),
      col("tpr_ppm").as("g_tpr"), col("fpr_ppm").as("g_fpr"))
    per.crossJoin(broadcast(g))
      .select(col("lang"), col("n"), col("n_pos"), col("sel_ppm"),
        col("tpr_ppm"), col("fpr_ppm"),
        (col("sel_ppm") - col("g_sel")).as("dp_gap_ppm"),
        expr("greatest(abs(coalesce(tpr_ppm, g_tpr) - g_tpr)," +
          " abs(coalesce(fpr_ppm, g_fpr) - g_fpr))").as("eo_gap_ppm"))
      .unionByName(all.select(col("lang"), col("n"), col("n_pos"),
        col("sel_ppm"), col("tpr_ppm"), col("fpr_ppm"),
        lit(0L).as("dp_gap_ppm"), lit(0L).as("eo_gap_ppm")))
      .orderBy(col("lang"))
  }

  val q368Oracle: String =
    s"""WITH $scoreLabelCtes,
       |sl AS (
       |  SELECT d2.lang, j.y,
       |    CASE WHEN j.score_sum >= 0 THEN 1 ELSE 0 END AS pred
       |  FROM j JOIN documents d2 ON d2.doc_id = j.doc_id),
       |per AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS n_pos,
       |    CAST(SUM(pred) AS BIGINT) AS n_sel,
       |    CAST(SUM(pred * y) AS BIGINT) AS tp,
       |    CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp
       |  FROM sl GROUP BY 1
       |  UNION ALL
       |  SELECT '~all', CAST(COUNT(*) AS BIGINT), CAST(SUM(y) AS BIGINT),
       |    CAST(SUM(pred) AS BIGINT), CAST(SUM(pred * y) AS BIGINT),
       |    CAST(SUM(pred * (1 - y)) AS BIGINT)
       |  FROM sl),
       |r AS (
       |  SELECT lang, n, n_pos,
       |    CAST(CAST(n_sel AS HUGEINT) * 1000000 // n AS BIGINT)
       |      AS sel_ppm,
       |    CASE WHEN n_pos = 0 THEN NULL ELSE
       |      CAST(CAST(tp AS HUGEINT) * 1000000 // n_pos AS BIGINT) END
       |      AS tpr_ppm,
       |    CASE WHEN n = n_pos THEN NULL ELSE
       |      CAST(CAST(fp AS HUGEINT) * 1000000 // (n - n_pos) AS BIGINT)
       |      END AS fpr_ppm
       |  FROM per),
       |g AS (SELECT sel_ppm AS g_sel, tpr_ppm AS g_tpr, fpr_ppm AS g_fpr
       |      FROM r WHERE lang = '~all')
       |SELECT lang, n, n_pos, sel_ppm, tpr_ppm, fpr_ppm,
       |  CASE WHEN lang = '~all' THEN 0 ELSE sel_ppm - g_sel END
       |    AS dp_gap_ppm,
       |  CASE WHEN lang = '~all' THEN 0 ELSE
       |    GREATEST(ABS(COALESCE(tpr_ppm, g_tpr) - g_tpr),
       |      ABS(COALESCE(fpr_ppm, g_fpr) - g_fpr)) END AS eo_gap_ppm
       |FROM r CROSS JOIN g
       |ORDER BY lang""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q366_horvitz_thompson", q366HorvitzThompson, q366Oracle),
    QuerySpec("q367_quantile_effects", q367QuantileEffects, q367Oracle),
    QuerySpec("q368_fairness_slices", q368FairnessSlices, q368Oracle),
    QuerySpec("q351_confusion_suite", q351ConfusionSuite, q351Oracle),
    QuerySpec("q352_calibration_gap", q352CalibrationGap, q352Oracle),
    QuerySpec("q353_cuped", q353Cuped, q353Oracle),
    QuerySpec("q354_mde_audit", q354MdeAudit, q354Oracle),
    QuerySpec("q338_youden_threshold", q338YoudenThreshold, q338Oracle),
    QuerySpec("q330_mcnemar", q330McNemar, q330Oracle),
    QuerySpec("q331_average_precision", q331AveragePrecision, q331Oracle),
    QuerySpec("q324_krippendorff_alpha", q324KrippendorffAlpha, q324Oracle),
    QuerySpec("q307_stump_crossval", q307StumpCrossVal, q307Oracle),
    QuerySpec("q289_conformal_calibration", q289ConformalCalibration, q289Oracle),
    QuerySpec("q238_decision_stump", q238DecisionStump, q238Oracle),
    QuerySpec("q232_poisson_bootstrap", q232PoissonBootstrap, q232Oracle),
    QuerySpec("q219_chi2_source_drift", q219Chi2SourceDrift, q219Oracle),
    QuerySpec("q207_reliability_deciles", q207ReliabilityDeciles, q207Oracle),
    QuerySpec("q208_auc_exact", q208AucExact, q208Oracle),
    QuerySpec("q210_lsh_param_audit", q210LshParamAudit, q210Oracle),
    QuerySpec("q215_cohens_kappa", q215CohensKappa, q215Oracle))
}
