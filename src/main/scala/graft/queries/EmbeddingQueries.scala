package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QuerySpec, Tables}

/** Embedding-space diagnostics — the statistics a vector corpus needs
  * before anyone trusts ANN results over it: the feature covariance
  * matrix (whitening / collapsed-dimension detection) and per-label
  * centroid drift (are the classes actually separated?). Both run on the
  * suite's 1/16 integer grid (q85's convention: q(x) = floor(16x + ½)),
  * which makes every moment an exact integer in both engines — the
  * floats stop at the quantizer.
  */
object EmbeddingQueries {
  import Exact.sdiv


  /** embeddings quantized to the 1/16 grid, as LONG components. */
  private def gridded(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 16 + lit(0.5)).cast(LongType)).as("q"))

  /** EMBEDDING COVARIANCE MATRIX (q226) — the d×d second-moment summary
    * (upper triangle, d = 64 → 2 080 rows) of the quantized embedding
    * cloud: for dimensions i ≤ j, the exact integer n·Σqᵢqⱼ − Σqᵢ·Σqⱼ
    * (= n²·cov on the grid). Collapsed dimensions (cov_q = 0 on the
    * diagonal) and redundant pairs fall straight out of it; a whitening
    * or PCA pass consumes these sums as-is.
    *
    * Scale shape: each row fans out to its d(d+1)/2 index pairs —
    * that IS the computation (every row contributes every product);
    * partial aggregation collapses the shuffle to the 2 080 (i, j)
    * cells regardless of corpus size. Grid values |q| ≤ 48-ish keep
    * n·Σqᵢqⱼ inside BIGINT up to ~4·10¹⁵ rows — no DECIMAL needed on
    * the Spark side; the oracle mirrors with HUGEINT then casts.
    */
  def q226EmbeddingCovariance(spark: SparkSession, dir: String): DataFrame = {
    val v = gridded(spark, dir)
    val d = 64
    val pairs = v.select(
      explode(transform(sequence(lit(0), lit(d - 1)), i => i)).as("i"),
      col("q"))
    val cells = pairs.select(col("i"),
        explode(transform(sequence(col("i"), lit(d - 1)), j => j)).as("j"),
        element_at(col("q"), col("i") + 1).as("qi"),
        element_at(col("q"), col("j") + 1).as("qj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("qi")).as("sum_i"),
        sum(col("qj")).as("sum_j"),
        sum(col("qi") * col("qj")).as("sum_ij"))
    cells.select(col("i").cast(LongType).as("i"),
        col("j").cast(LongType).as("j"), col("n"),
        col("sum_i"), col("sum_j"), col("sum_ij"),
        (col("n") * col("sum_ij") - col("sum_i") * col("sum_j")).as("cov_q"))
      .orderBy(col("i"), col("j"))
  }

  val q226Oracle: String =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |cells AS (
      |  SELECT i, j,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(q[i + 1]) AS BIGINT) AS sum_i,
      |    CAST(SUM(q[j + 1]) AS BIGINT) AS sum_j,
      |    CAST(SUM(q[i + 1] * q[j + 1]) AS BIGINT) AS sum_ij
      |  FROM v,
      |    UNNEST(range(0, 64)) AS a(i),
      |    UNNEST(range(0, 64)) AS b(j)
      |  WHERE j >= i
      |  GROUP BY i, j)
      |SELECT i, j, n, sum_i, sum_j, sum_ij,
      |  CAST(CAST(n AS HUGEINT) * sum_ij
      |    - CAST(sum_i AS HUGEINT) * sum_j AS BIGINT) AS cov_q
      |FROM cells
      |ORDER BY i, j""".stripMargin

  /** PER-LABEL CENTROID DRIFT (q227) — pairwise squared distance between
    * class centroids on the grid, as the exact rational
    * Σₖ(s₁ₖn₂ − s₂ₖn₁)² / (n₁n₂)², emitted ×10⁶ by integral division
    * (dist2_ppm). The "are my labels separated at all?" check an
    * embedding-based curation step runs before trusting label-driven
    * sampling; near-zero drift between two labels means the classifier
    * upstream collapsed them. Numerators promote to DECIMAL(38,0) —
    * exact up to ~10⁸ rows per label at grid scale — with the q144
    * raise_error guard beyond.
    *
    * Scale shape: one per-(label, dim) aggregate (explode ×64, map-side
    * combine → |label|·64 rows), then an all-pairs join over LABELS
    * (tiny), never over rows.
    */
  def q227CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val sums = gridded(spark, dir)
      .select(col("label"), posexplode(col("q")).as(Seq("k", "qk")))
      .groupBy(col("label"), col("k"))
      .agg(sum(col("qk")).as("s"), count(lit(1)).as("n"))
    val a = sums.select(col("label").as("la"), col("k"),
      col("s").as("sa"), col("n").as("na"))
    val b = sums.select(col("label").as("lb"), col("k"),
      col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("k")).filter(col("la") < col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
        sum(expr(
          """CASE WHEN na > 100000000 OR nb > 100000000
            | THEN CAST(raise_error(
            |   'q227: label population exceeds the DECIMAL(38) drift budget')
            |   AS DECIMAL(38,0))
            | ELSE CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na
            | END *
            | (CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)
            |""".stripMargin)).as("num"))
      .select(col("la").cast(LongType).as("label_a"),
        col("lb").cast(LongType).as("label_b"),
        col("na"), col("nb"),
        expr("""CAST(num * 1000000 div
          | (CAST(na AS DECIMAL(38,0)) * nb * na * nb) AS BIGINT)
          |""".stripMargin).as("dist2_ppm"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val q227Oracle: String =
    """WITH v AS (
      |  SELECT label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |s AS (
      |  SELECT label, k,
      |    CAST(SUM(q[k + 1]) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM v, UNNEST(range(0, 64)) AS t(k)
      |  GROUP BY label, k),
      |p AS (
      |  SELECT a.label AS la, b.label AS lb, a.n AS na, b.n AS nb,
      |    SUM((CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)
      |      * (CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)) AS num
      |  FROM s a JOIN s b ON a.k = b.k AND a.label < b.label
      |  GROUP BY 1, 2, 3, 4)
      |SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
      |  na, nb,
      |  CAST(num * 1000000
      |    // (CAST(na AS HUGEINT) * nb * na * nb) AS BIGINT) AS dist2_ppm
      |FROM p
      |ORDER BY label_a, label_b""".stripMargin

  /** Candidate binarization thresholds for q240 (grid units, 1/16). */
  val OtsuThresholds: Seq[Long] = Seq(-8L, -4L, -2L, -1L, 0L, 1L, 2L, 4L, 8L)

  /** PER-DIMENSION OTSU BINARIZATION (q240) — learn the best 1-bit
    * quantizer per embedding dimension: the threshold maximizing Otsu's
    * between-class variance n_l·n_r·(μ_l−μ_r)². SimHash (q37) and sign-
    * LSH (q41) binarize at zero; a dimension whose mass sits off-center
    * wastes its bit there — Otsu recovers it. The criterion is ranked by
    * the exact integer (s_l·n_r − s_r·n_l)² (= n_l²n_r²(μ_l−μ_r)²,
    * shared n_l·n_r factor handled by scoring score_q = that div
    * (n_l·n_r)) — DECIMAL-promoted, NULL on degenerate splits, argmax
    * per dimension deterministic in both engines. Output: each dim's
    * best threshold, the split sizes, and the quantized criterion.
    *
    * Scale shape: one scan → (dim, threshold) constant fan-out (64×9) →
    * candidate-sized aggregate → per-dim argmax over 9 rows.
    */
  def q240OtsuBinarization(spark: SparkSession, dir: String): DataFrame = {
    val thr = spark.createDataFrame(OtsuThresholds.map(Tuple1(_)))
      .toDF("threshold")
    val cells = gridded(spark, dir)
      .select(posexplode(col("q")).as(Seq("k", "qk")))
      .crossJoin(broadcast(thr))
      .groupBy(col("k"), col("threshold"))
      .agg(count(lit(1)).as("n"), sum(col("qk")).as("s"),
        sum(when(col("qk") <= col("threshold"), 1L).otherwise(0L)).as("n_l"),
        sum(when(col("qk") <= col("threshold"), col("qk")).otherwise(0L))
          .as("s_l"))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("s_r", col("s") - col("s_l"))
      .withColumn("score_q", expr(
        """CASE WHEN n_l = 0 OR n_r = 0 THEN NULL ELSE
          |  CAST((CAST(s_l AS DECIMAL(38,0)) * n_r
          |      - CAST(s_r AS DECIMAL(38,0)) * n_l)
          |    * (CAST(s_l AS DECIMAL(38,0)) * n_r
          |      - CAST(s_r AS DECIMAL(38,0)) * n_l)
          |    div (CAST(n_l AS DECIMAL(38,0)) * n_r) AS BIGINT) END"""
          .stripMargin))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k"))
      .orderBy(col("score_q").desc_nulls_last, col("threshold"))
    cells.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("k").cast("long").as("dim"), col("threshold"),
        col("n_l"), col("n_r"), col("score_q"))
      .orderBy(col("dim"))
  }

  val q240Oracle: String = {
    val thrs = OtsuThresholds.map(t => s"($t)").mkString(", ")
    s"""WITH v AS (
       |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |cell AS (
       |  SELECT k, q[k + 1] AS qk
       |  FROM v, UNNEST(range(0, 64)) AS t(k)),
       |thr(threshold) AS (VALUES $thrs),
       |agg AS (
       |  SELECT k, threshold,
       |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qk) AS BIGINT) AS s,
       |    CAST(SUM(CASE WHEN qk <= threshold THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_l,
       |    CAST(SUM(CASE WHEN qk <= threshold THEN qk ELSE 0 END) AS BIGINT)
       |      AS s_l
       |  FROM cell CROSS JOIN thr
       |  GROUP BY k, threshold),
       |sc AS (
       |  SELECT k, threshold, n_l, n - n_l AS n_r,
       |    CASE WHEN n_l = 0 OR n - n_l = 0 THEN NULL ELSE
       |      CAST((CAST(s_l AS HUGEINT) * (n - n_l)
       |          - CAST(s - s_l AS HUGEINT) * n_l)
       |        * (CAST(s_l AS HUGEINT) * (n - n_l)
       |          - CAST(s - s_l AS HUGEINT) * n_l)
       |        // (CAST(n_l AS HUGEINT) * (n - n_l)) AS BIGINT) END AS score_q
       |  FROM agg),
       |rk AS (
       |  SELECT sc.*, row_number() OVER (PARTITION BY k
       |    ORDER BY score_q DESC NULLS LAST, threshold) AS rk
       |  FROM sc)
       |SELECT k AS dim, CAST(threshold AS BIGINT) AS threshold,
       |  n_l, n_r, score_q
       |FROM rk WHERE rk = 1
       |ORDER BY dim""".stripMargin
  }

  /** CROSS-LABEL HARD-NEGATIVE MINING (q241) — the contrastive-training
    * feeder: for every vector, its nearest neighbor carrying a DIFFERENT
    * label, found through q41's sign-LSH bucketing (16 seed-7
    * hyperplanes, 4×4-bit bands) so candidate generation is a band-key
    * equi-join, never all-pairs. Distances are exact integers on the
    * 1/16 grid and the per-query argmin is min(struct(d2, vid)) — tie
    * to the lower vid, deterministic in both engines. Vectors whose
    * buckets hold no cross-label occupant report NULL loudly (the
    * "raise nprobe" signal), not a silent drop.
    *
    * Scale shape: signature projection is per-row; the band join's
    * buckets are occupancy-bounded (q213's governor composes if a
    * bucket heats); the argmin is one hash-aggregate keyed on the
    * query id.
    */
  def q241HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Similarity.{hyperplanes, lshSignature, lshBandKeys, toDouble}
    val proj = hyperplanes(16, 64, seed = 7)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        toDouble(col("embedding")).as("v"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 16 + lit(0.5)).cast(LongType)).as("q"))
      .withColumn("sig", lshSignature(col("v"), proj))
    val banded = emb.select(col("vec_id"), col("label"), col("q"),
      explode(lshBandKeys(col("sig"), 4, 4)).as("bk"))
    val other = banded.select(col("vec_id").as("vid"),
      col("label").as("nlabel"), col("q").as("nq"), col("bk").as("bk_o"))
    val best = banded.join(other,
        col("bk") === col("bk_o") && col("label") =!= col("nlabel"))
      .withColumn("d2", expr(
        "aggregate(zip_with(q, nq, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("vid"), col("nlabel"))).as("m"))
      .select(col("vec_id"), col("m.vid").as("neg_id"),
        col("m.nlabel").as("neg_label"), col("m.d2").as("d2"))
    emb.select(col("vec_id"), col("label"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("neg_id"), col("neg_label"),
        col("d2"))
      .orderBy(col("vec_id"))
  }

  val q241Oracle: String = {
    val proj = graft.functions.Similarity.hyperplanes(16, 64, seed = 7)
    val values = proj.zipWithIndex.map { case (row, b) =>
      s"($b, [${row.map(java.lang.Double.toString).mkString(",")}])"
    }.mkString(",\n")
    s"""WITH proj(b, p) AS (VALUES $values),
       |v AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    CAST(embedding AS DOUBLE[]) AS v,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |bits AS (
       |  SELECT v.vec_id, proj.b,
       |    CASE WHEN list_dot_product(v.v, proj.p) > 0
       |      THEN CAST(1 AS BIGINT) ELSE 0 END AS bit
       |  FROM v, proj),
       |sig AS (SELECT vec_id, SUM(bit << b) AS sig FROM bits GROUP BY vec_id),
       |banded AS (
       |  SELECT v.vec_id, v.label, v.q, t.band,
       |    (s.sig >> (4 * t.band)) & 15 AS bk
       |  FROM v JOIN sig s USING (vec_id), UNNEST([0,1,2,3]) AS t(band)),
       |cand AS (
       |  SELECT a.vec_id, b.vec_id AS vid, b.label AS nlabel,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      k -> (a.q[k] - b.q[k]) * (a.q[k] - b.q[k]))) AS BIGINT) AS d2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bk = b.bk AND a.label <> b.label),
       |best AS (
       |  SELECT vec_id,
       |    (min({'d': d2, 'v': vid, 'l': nlabel})).v AS neg_id,
       |    (min({'d': d2, 'v': vid, 'l': nlabel})).l AS neg_label,
       |    (min({'d': d2, 'v': vid, 'l': nlabel})).d AS d2
       |  FROM cand GROUP BY vec_id)
       |SELECT v.vec_id, v.label, best.neg_id, best.neg_label, best.d2
       |FROM v LEFT JOIN best USING (vec_id)
       |ORDER BY v.vec_id""".stripMargin
  }

  /** LABEL × IVF-CELL OCCUPANCY (q286) — does each class COVER the
    * embedding space or collapse into a corner? Every vector is assigned
    * to its nearest IVF cell (q42's deterministic first-16 centroid grid
    * and codegen'd argmin, distance ties broken by cid), and per label
    * the report gives cell coverage (cells occupied / 16), the hottest
    * cell's share in ppm, and the integer HHI over its cell distribution
    * — a label with max_cell_share → 10⁶ is a point mass ANN recall
    * curves will flatter and classifiers will memorize; q227 measures
    * BETWEEN-label separation, this measures WITHIN-label spread on the
    * same index geometry the ANN queries actually use.
    *
    * Scale shape: assignment is a projection (centroids ride inside the
    * expression — the conf-bounded k-row collect annIvf documents); then
    * one (label, cell) aggregate re-aggregated to |label| rows.
    */
  def q286LabelCellOccupancy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Similarity
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"),
        col("label"))
    val cents: Array[(Int, Array[Double])] = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val lc = emb
      .withColumn("cid", element_at(
        graft.expressions.VectorExpressions.nearestCentroids(col("v"), cents, 1),
        1))
      .groupBy(col("label"), col("cid")).agg(count(lit(1)).as("n"))
    lc.groupBy(col("label"))
      .agg(sum(col("n")).as("n_vecs"),
        count(lit(1)).as("n_cells"),
        max(col("n")).as("max_cell_n"),
        sum(col("n") * col("n")).as("sum_n2"))
      .select(col("label"), col("n_vecs"), col("n_cells"),
        expr("max_cell_n * 1000000L div n_vecs").as("max_cell_share_ppm"),
        expr("sum_n2 * 1000000L div (n_vecs * n_vecs)").as("hhi_ppm"))
      .orderBy(col("label"))
  }

  val q286Oracle: String =
    """WITH v AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv
      |      FROM v WHERE vec_id < 16),
      |cell AS (
      |  SELECT vec_id, label, cid FROM (
      |    SELECT v.vec_id, v.label, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |        ORDER BY list_distance(v.v, c.cv), c.cid) AS arn
      |    FROM v, c) WHERE arn = 1),
      |lc AS (SELECT label, cid, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM cell GROUP BY label, cid)
      |SELECT label,
      |  CAST(SUM(n) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(MAX(n) AS BIGINT) * 1000000 // CAST(SUM(n) AS BIGINT)
      |    AS max_cell_share_ppm,
      |  CAST(SUM(n * n) AS BIGINT) * 1000000
      |    // (CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT)) AS hhi_ppm
      |FROM lc GROUP BY label
      |ORDER BY label""".stripMargin

  /** PRINCIPAL DIRECTION BY POWER ITERATION (q301) — the dominant
    * eigenvector of the q226 covariance matrix, the "which single axis
    * carries the cloud's variance" answer a PCA whitening / dimension-
    * collapse audit starts from. Three fixed power iterations
    * v ← M·v, renormalized each step to max|component| = 10⁶ by floor
    * division — max-norm instead of L2 because it needs no square root,
    * so every step stays exact integer arithmetic (the q295/q142
    * discipline; signs survive, so the direction is genuine, not a
    * magnitude artifact). Deterministic: fixed v₀ = 1⃗, symmetric M.
    *
    * Scale shape: M is the 64×64 ALREADY-AGGREGATED covariance frame —
    * matrix-vector multiply is a d²-row join-aggregate regardless of
    * corpus size, the iteration count is fixed, and the whole unrolled
    * computation is one declarative plan (per-step max is a 1-row
    * broadcast). Products promote to DECIMAL(38,0) with the q144 loud
    * overflow guard: cov·v passes 2⁶³ long before any real corpus does.
    */
  def q301PowerIteration(spark: SparkSession, dir: String): DataFrame = {
    val upper = q226EmbeddingCovariance(spark, dir)
      .select(col("i"), col("j"), col("cov_q"))
    // deliberately lazy (round-15 A/B): the covariance subtree ends in an
    // aggregate exchange AQE reuses across the unrolled steps; an eager
    // checkpoint measured as a small loss (1.06x), not a win
    val full = upper.unionByName(
      upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov_q")))
    val v0 = spark.range(0, 64).select(col("id").as("dim"),
      lit(1000000L).as("v"))
    def step(vprev: DataFrame): DataFrame = {
      val w = full.join(vprev, full("j") === vprev("dim"))
        .groupBy(full("i"))
        .agg(sum(expr("CAST(cov_q AS DECIMAL(38,0)) * v")).as("w"))
        .withColumn("w", when(col("w").isNull,
          expr("raise_error('q301 power-iteration product overflowed DECIMAL(38,0)')"))
          .otherwise(col("w")))
      val mx = w.agg(max(abs(col("w"))).as("mx"))
      w.join(broadcast(mx))
        .select(col("i").as("dim"),
          expr("CAST(w * 1000000 div mx AS BIGINT)").as("v"))
    }
    val v3 = step(step(step(v0)))
    v3.select(col("dim"), col("v").as("loading_scaled"))
      .orderBy(col("dim"))
  }

  val q301Oracle: String = {
    def stepSql(prev: String, out: String): String =
      s"""${out}w AS (
         |  SELECT m.i AS dim, SUM(CAST(m.cov_q AS HUGEINT) * p.v) AS w
         |  FROM m JOIN $prev p ON p.dim = m.j GROUP BY m.i),
         |$out AS (
         |  SELECT dim,
         |    CAST(w * 1000000 // (SELECT MAX(ABS(w)) FROM ${out}w)
         |      AS BIGINT) AS v
         |  FROM ${out}w)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |cells AS (
       |  SELECT i, j,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(q[i + 1]) AS BIGINT) AS sum_i,
       |    CAST(SUM(q[j + 1]) AS BIGINT) AS sum_j,
       |    CAST(SUM(q[i + 1] * q[j + 1]) AS BIGINT) AS sum_ij
       |  FROM v,
       |    UNNEST(range(0, 64)) AS a(i),
       |    UNNEST(range(0, 64)) AS b(j)
       |  WHERE j >= i
       |  GROUP BY i, j),
       |up AS (
       |  SELECT i, j,
       |    CAST(CAST(n AS HUGEINT) * sum_ij
       |      - CAST(sum_i AS HUGEINT) * sum_j AS BIGINT) AS cov_q
       |  FROM cells),
       |m AS (
       |  SELECT i, j, cov_q FROM up
       |  UNION ALL
       |  SELECT j, i, cov_q FROM up WHERE i <> j),
       |r0 AS (SELECT CAST(i AS BIGINT) AS dim, CAST(1000000 AS BIGINT) AS v
       |       FROM (SELECT DISTINCT i FROM m)),
       |${stepSql("r0", "r1")},
       |${stepSql("r1", "r2")},
       |${stepSql("r2", "r3")}
       |SELECT dim, v AS loading_scaled
       |FROM r3
       |ORDER BY dim""".stripMargin
  }

  /** LABEL-CENTROID DRIFT AUDIT (q313) — does each label's embedding
    * cloud point where the corpus points? Per label: the angle (as
    * sign + cos² in ppm — sqrt never happens, q314's discipline) and
    * the squared L2 distance between the label's centroid and the
    * GLOBAL centroid, both on exact integers. A label whose centroid
    * sits nearly orthogonal to the corpus mean is a cluster the
    * embedding model represents very differently — the audit a
    * platform runs before trusting per-label ANN recall or using
    * label-stratified IVF cells (q286 counts cell occupancy; this
    * measures geometric displacement).
    *
    * Exactness under scale: per-dim SUMS are exact longs on the q226
    * grid, but their products would grow as n⁴ — so centroids are
    * rebased to MILLI-MEANS (sum·1000 div n, integer division both
    * engines share), bounded by the grid (±16 000) REGARDLESS of
    * corpus size; every second-order product then fits DECIMAL(38,0)
    * at any n. Scale shape: one (label, dim) aggregate (explode is
    * 64× a vector count — the q226 shape), the global side re-sums
    * the per-label frame (label-count-sized), and the comparison is
    * a 64-row-per-label broadcast join.
    */
  def q313CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = gridded(spark, dir)
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s"))
    val perLabel = cells
      .select(col("label"), col("dim"),
        expr("s * 1000 div n").as("m"))
    val global = cells.groupBy(col("dim"))
      .agg(sum(col("s")).as("gs"), sum(col("n")).as("gn"))
      .select(col("dim"), expr("gs * 1000 div gn").as("g"))
    perLabel.join(broadcast(global), "dim")
      .groupBy(col("label"))
      .agg(
        sum(expr("CAST(m AS DECIMAL(38,0)) * g")).as("dot"),
        sum(expr("CAST(m AS DECIMAL(38,0)) * m")).as("na2"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("nb2"),
        sum(expr("CAST(m - g AS DECIMAL(38,0)) * (m - g)")).as("dist2"))
      .select(col("label").cast(LongType).as("label"),
        expr("CAST(sign(dot) AS BIGINT)").as("cos_sign"),
        expr("CASE WHEN na2 = 0 OR nb2 = 0 THEN NULL ELSE " +
          "CAST(dot * dot * 1000000 div (na2 * nb2) AS BIGINT) END")
          .as("cos2_ppm"),
        expr("CAST(dist2 AS BIGINT)").as("dist2_mm"))
      .orderBy(col("label"))
  }

  val q313Oracle: String =
    """WITH v AS (
      |  SELECT label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |cells AS (
      |  SELECT label, i - 1 AS dim,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q[i]) AS BIGINT) AS s
      |  FROM v, UNNEST(range(1, 65)) AS t(i)
      |  GROUP BY label, i),
      |pl AS (SELECT label, dim, s * 1000 // n AS m FROM cells),
      |g AS (
      |  SELECT dim, SUM(s) * 1000 // SUM(n) AS g FROM cells
      |  GROUP BY dim),
      |agg AS (
      |  SELECT pl.label,
      |    SUM(CAST(m AS HUGEINT) * g.g) AS dot,
      |    SUM(CAST(m AS HUGEINT) * m) AS na2,
      |    SUM(CAST(g.g AS HUGEINT) * g.g) AS nb2,
      |    SUM(CAST(m - g.g AS HUGEINT) * (m - g.g)) AS dist2
      |  FROM pl JOIN g ON g.dim = pl.dim
      |  GROUP BY pl.label)
      |SELECT CAST(label AS BIGINT) AS label,
      |  CAST(sign(dot) AS BIGINT) AS cos_sign,
      |  CASE WHEN na2 = 0 OR nb2 = 0 THEN NULL ELSE
      |    CAST(dot * dot * 1000000 // (na2 * nb2) AS BIGINT) END
      |    AS cos2_ppm,
      |  CAST(dist2 AS BIGINT) AS dist2_mm
      |FROM agg
      |ORDER BY label""".stripMargin

  /** EMBEDDING ANISOTROPY AUDIT (q336) — the degenerate-space detector:
    * a healthy embedding cloud has its mean vector near the origin
    * relative to typical vector energy; anisotropic (cone-shaped) spaces
    * — the classic failure of contrastive training collapse — have
    * ||μ||² a large fraction of E||v||², which silently inflates every
    * cosine similarity the ANN tier computes. On the 1/16 quantized grid
    * everything is integer-exact: per-dimension milli-means
    * m_d = s_d·1000 div n (q313's convention; both engines truncate
    * toward zero), A = Σ m_d² (milli²), B = Σ||q||²·10⁶ div n (the same
    * milli² scale), anisotropy_ppm = A·10⁶ div B. Near 0 = isotropic;
    * near 10⁶ = the mean direction carries the cloud's whole energy.
    *
    * Scale shape: one posexplode + (dim)-keyed aggregate (64 cells) for
    * the means; one row-level ||q||² aggregate with map-side combine.
    * Output is ONE row.
    */
  def q336EmbeddingAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    val g = gridded(spark, dir)
    val dims = g.select(posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s"))
      .withColumn("m", expr("s * 1000 div n"))
      .agg(max(col("n")).as("n_vecs"),
        sum(expr("CAST(m AS DECIMAL(38,0)) * m")).as("a_mm2"))
    val energy = g.select(
        expr("aggregate(q, 0L, (acc, x) -> acc + x * x)").as("e2"))
      .agg(sum(expr("CAST(e2 AS DECIMAL(38,0))")).as("sum_e2"))
    dims.crossJoin(broadcast(energy))
      .withColumn("b_mm2", expr("sum_e2 * 1000000 div n_vecs"))
      .select(col("n_vecs"),
        expr("CAST(a_mm2 AS BIGINT)").as("mean_norm2_mm2"),
        expr("CAST(b_mm2 AS BIGINT)").as("avg_energy_mm2"),
        expr("""CASE WHEN b_mm2 = 0 THEN NULL
          | ELSE CAST(a_mm2 * 1000000 div b_mm2 AS BIGINT)
          |END""".stripMargin).as("anisotropy_ppm"))
  }

  val q336Oracle: String =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |dims AS (
      |  SELECT i AS dim, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(q[i + 1]) AS BIGINT) AS s
      |  FROM v, UNNEST(range(0, 64)) AS a(i)
      |  GROUP BY 1),
      |mm AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
      |    SUM(CAST(s * 1000 // n AS HUGEINT) * (s * 1000 // n)) AS a_mm2
      |  FROM dims),
      |en AS (
      |  SELECT SUM(CAST(list_sum(list_transform(q, x -> x * x))
      |    AS HUGEINT)) AS sum_e2
      |  FROM v)
      |SELECT n_vecs,
      |  CAST(a_mm2 AS BIGINT) AS mean_norm2_mm2,
      |  CAST(sum_e2 * 1000000 // n_vecs AS BIGINT) AS avg_energy_mm2,
      |  CASE WHEN sum_e2 * 1000000 // n_vecs = 0 THEN NULL
      |    ELSE CAST(a_mm2 * 1000000 // (sum_e2 * 1000000 // n_vecs)
      |      AS BIGINT)
      |  END AS anisotropy_ppm
      |FROM mm CROSS JOIN en""".stripMargin

  /** MMR DIVERSIFIED TOP-K (q361) — maximal marginal relevance (Carbonell
    * & Goldstein '98), the re-ranking every RAG retriever bolts onto a
    * plain cosine top-k: greedily pick 5 results where each pick
    * maximizes 0.7·relevance − 0.3·max-similarity-to-already-picked —
    * relevance alone returns five near-duplicates of the query's
    * neighborhood; the penalty buys coverage. Query = vector 0 (the q40
    * fixed-query convention). The greedy is UNROLLED (fixed k, q305's
    * discipline): five argmax rounds, each a ≤4-row broadcast
    * cross-score + TakeOrdered(1) + anti-join, one declarative plan, no
    * driver loop. Cosines are the q40-proven bit-match of DuckDB's
    * list_cosine_similarity; the 0.7/0.3 blend is the same two IEEE ops
    * in both engines, ties break by vid.
    *
    * Scale shape: relevance is ONE broadcast projection over the corpus;
    * each round rescans only the candidate frame (corpus-sized but
    * join-free scoring against ≤4 broadcast vectors). Output is 5 rows.
    */
  def q361MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Similarity.{cosine, toDouble}
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id") === 0L).select(col("v").as("qv"))
    // materialize ONCE: the relevance frame is re-consulted by every
    // greedy round, and each pick's plan would otherwise nest every
    // prior round's plan inside itself (re-deriving all corpus cosines
    // per round — q342's BFS-unroll lesson). localCheckpoint truncates
    // the lineage: rounds rescan a tiny cached frame instead.
    val cands0 = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(q))
      .select(col("vec_id").as("vid"), col("v"),
        cosine(col("qv"), col("v")).as("rel"))
      .localCheckpoint()
    def pickOf(scored: DataFrame, k: Int): DataFrame =
      scored.orderBy(col("score").desc, col("vid").asc).limit(1)
        .select(lit(k.toLong).as("pick"), col("vid"), col("v"),
          col("rel"), col("score"))
        .localCheckpoint() // 1 row — kills the recursive pick nesting
    var selected = pickOf(cands0.withColumn("score", col("rel")), 1)
    var cands = cands0.join(selected.select("vid"), Seq("vid"), "left_anti")
    for (k <- 2 to 5) {
      val maxsim = cands
        .crossJoin(broadcast(selected.select(col("v").as("sv"))))
        .withColumn("s2", cosine(col("v"), col("sv")))
        .groupBy(col("vid")).agg(max(col("s2")).as("maxsim"))
      val scored = cands.join(maxsim, "vid")
        .withColumn("score",
          col("rel") * lit(0.7) - col("maxsim") * lit(0.3))
      val p = pickOf(scored, k)
      selected = selected.unionByName(p)
      cands = cands.join(p.select("vid"), Seq("vid"), "left_anti")
    }
    selected.select(col("pick"), col("vid"),
        round(col("rel"), 6).as("rel"),
        round(col("score"), 6).as("mmr_score"))
      .orderBy(col("pick"))
  }

  val q361Oracle: String = {
    // round k: candidates = c0 minus picks 1..k-1; the selected set for
    // the penalty is the union of the prior pick CTEs
    def sel(k: Int): String =
      (1 until k).map(i => s"SELECT vid, v FROM p$i").mkString(" UNION ALL ")
    def round(k: Int): String =
      s"""m$k AS (
         |  SELECT c.vid, MAX(list_cosine_similarity(c.v, s.v)) AS maxsim
         |  FROM c0 c CROSS JOIN (${sel(k)}) s
         |  WHERE c.vid NOT IN (SELECT vid FROM (${sel(k)}))
         |  GROUP BY 1),
         |p$k AS (
         |  SELECT $k AS pick, c.vid, c.v, c.rel,
         |    c.rel * 0.7 - m$k.maxsim * 0.3 AS score
         |  FROM c0 c JOIN m$k ON m$k.vid = c.vid
         |  ORDER BY score DESC, c.vid LIMIT 1)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
       |c0 AS (
       |  SELECT vec_id AS vid, v.v AS v,
       |    list_cosine_similarity(qv, v.v) AS rel
       |  FROM v CROSS JOIN q WHERE vec_id <> 0),
       |p1 AS (
       |  SELECT 1 AS pick, vid, v, rel, rel AS score
       |  FROM c0 ORDER BY score DESC, vid LIMIT 1),
       |${(2 to 5).map(round).mkString(",\n")}
       |SELECT CAST(pick AS BIGINT) AS pick, vid,
       |  ROUND(rel, 6) AS rel, ROUND(score, 6) AS mmr_score
       |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
       |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
       |  UNION ALL SELECT * FROM p5)
       |ORDER BY pick""".stripMargin
  }

  /** SIMPLIFIED SILHOUETTE (q362) — the cluster-quality score for the
    * IVF index the ANN tier (q42/q85) routes through: per vector, a =
    * squared grid distance to its OWN (nearest) centroid, b = to the
    * second-nearest, s = (b−a)/max(a,b) in sign-split ppm — the
    * centroid-based silhouette variant (point-to-point means are
    * quadratic; against centroids the score is exact and linear). On the
    * 1/16 integer grid every distance is an exact integer, so both
    * engines agree bit-for-bit. Centroids are the first-8-vectors gate
    * convention (q85's c0; the TRAINED index scores the same way).
    * s = 0 when a = b = 0 (a vector exactly on two centroids),
    * documented rather than NULL so the per-cluster mean stays total.
    *
    * Scale shape: an 8-row broadcast cross, the per-vector 8-row window
    * (partition = one vector's centroid distances — bounded by k, not
    * the corpus), then one rollup onto the ≤k cluster axis.
    */
  def q362Silhouette(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = gridded(spark, dir).select(col("vec_id"), col("q"))
    val cents = v.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("q").as("cq"))
    val d2 = v.crossJoin(broadcast(cents))
      .withColumn("d2", expr(
        "aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)), 0L," +
          " (acc, e) -> acc + e)"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cid").asc)
    val ab = d2.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rn") === 1, col("cid"))).as("own"),
        max(when(col("rn") === 1, col("d2"))).as("a"),
        max(when(col("rn") === 2, col("d2"))).as("b"))
    val s = ab.withColumn("s_ppm", expr(
      "CASE WHEN greatest(a, b) = 0 THEN 0L ELSE CAST(" +
        sdiv("(b - a) * 1000000", "greatest(a, b)", "div") +
        " AS BIGINT) END"))
    s.groupBy(col("own").as("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("s_ppm")).as("sum_s"),
        min(col("s_ppm")).as("min_s_ppm"),
        max(col("s_ppm")).as("max_s_ppm"))
      .select(col("cid"), col("n_members"),
        expr("CAST(" + sdiv("sum_s", "n_members", "div") + " AS BIGINT)")
          .as("mean_s_ppm"),
        col("min_s_ppm"), col("max_s_ppm"))
      .orderBy(col("cid"))
  }

  val q362Oracle: String =
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(FLOOR(x * 16 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |c AS (SELECT CAST(vec_id AS INTEGER) AS cid, q AS cq
       |      FROM g WHERE vec_id < 8),
       |d AS (
       |  SELECT g.vec_id, c.cid,
       |    CAST(list_sum(list_transform(range(1, len(g.q) + 1),
       |      i -> (g.q[i] - c.cq[i]) * (g.q[i] - c.cq[i]))) AS BIGINT)
       |      AS d2
       |  FROM g CROSS JOIN c),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY d2, cid) AS rn
       |  FROM d),
       |ab AS (
       |  SELECT vec_id,
       |    MAX(CASE WHEN rn = 1 THEN cid END) AS own,
       |    MAX(CASE WHEN rn = 1 THEN d2 END) AS a,
       |    MAX(CASE WHEN rn = 2 THEN d2 END) AS b
       |  FROM r WHERE rn <= 2 GROUP BY 1),
       |s AS (
       |  SELECT own,
       |    CASE WHEN GREATEST(a, b) = 0 THEN 0
       |      ELSE ${sdiv("(b - a) * 1000000", "GREATEST(a, b)", "//")} END
       |      AS s_ppm
       |  FROM ab)
       |SELECT own AS cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  CAST(${sdiv("SUM(s_ppm)", "COUNT(*)", "//")} AS BIGINT)
       |    AS mean_s_ppm,
       |  CAST(MIN(s_ppm) AS BIGINT) AS min_s_ppm,
       |  CAST(MAX(s_ppm) AS BIGINT) AS max_s_ppm
       |FROM s GROUP BY 1 ORDER BY cid""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q361_mmr_rerank", q361MmrRerank, q361Oracle),
    QuerySpec("q362_silhouette", q362Silhouette, q362Oracle),
    QuerySpec("q336_embedding_anisotropy", q336EmbeddingAnisotropy, q336Oracle),
    QuerySpec("q313_centroid_drift", q313CentroidDrift, q313Oracle),
    QuerySpec("q301_power_iteration", q301PowerIteration, q301Oracle),
    QuerySpec("q286_label_cell_occupancy", q286LabelCellOccupancy, q286Oracle),
    QuerySpec("q226_embedding_covariance", q226EmbeddingCovariance, q226Oracle),
    QuerySpec("q227_centroid_drift", q227CentroidDrift, q227Oracle),
    QuerySpec("q240_otsu_binarization", q240OtsuBinarization, q240Oracle),
    QuerySpec("q241_hard_negatives", q241HardNegatives, q241Oracle))
}
