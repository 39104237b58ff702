package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.queries.{GraphQueries, SimilarityQueries}

/** COMPOSED DEDUP-GOVERNANCE RUN (q350) — the round-13 composition seam
  * made a measured gate row: every governance audit the near-dup family
  * grew (dedup map, quality-canonical map, cluster cohesion, degree
  * assortativity, depth census, threshold-sensitivity curve) consumes the
  * SAME confirmed-pair frame and the SAME component table, yet each gate
  * entry re-derives both so its oracle can replay from the raw corpus.
  * This run is the production posture: the pair frame is persisted ONCE
  * and routed through `spark.graft.neardup.pairTable` (round 13's conf —
  * all consumers route through the one `confirmedNearDupPairs` helper),
  * the component table ONCE through `spark.graft.folds.componentTable`,
  * and the whole governance battery executes against the two scans —
  * ONE shingle→minhash→band→confirm cascade and ONE star contraction
  * for six audits.
  *
  * Result identity is the contract, exactly as q270: [[run]] (composed)
  * must hash-match [[q350Oracle]] (every stage replayed from the raw
  * corpus by DuckDB), and DedupAuditRunSpec proves composed ≡ gate in
  * Spark too. The summary is one (stage, n_rows, checksum) row per stage
  * — the q270 checksum discipline (DECIMAL(38,0) accumulation, loud
  * overflow) pins every stage's full content, not just cardinality.
  *
  * 100 TB shape: the two persisted intermediates are output-bounded
  * (pairs ≈ confirmed candidates, components ≈ clustered docs — orders
  * of magnitude below the corpus); every consumer keeps its own audited
  * plan. The measured gate row prices the whole battery at roughly the
  * cost of its two shared derivations plus six cheap consumers.
  */
object DedupAuditRun {

  private val MapChk =
    "doc_id + canonical_id + (CASE WHEN keep THEN 1 ELSE 0 END)"
  private val CohesionChk =
    "component + n_members + n_confirmed_pairs + possible_pairs + density_ppm"
  private val AssortChk = "m_edges + s_jk + s_sum + s_sq + r_num + r_den + r_ppm"
  private val DepthChk =
    "component + n_members + n_hop1 + n_hop2 + n_hop3 + n_beyond"
  private val CurveChk = "bucket_ppm + n_pairs + cum_pairs"

  private def stages(spark: SparkSession, dir: String)
    : Seq[(String, DataFrame, String)] = Seq(
    ("a_dedup_map", GraphQueries.q269DedupMap(spark, dir), MapChk),
    ("b_quality_map", GraphQueries.q333QualityCanonicalMap(spark, dir),
      MapChk),
    ("c_cohesion", GraphQueries.q280ClusterCohesion(spark, dir),
      CohesionChk),
    ("d_assortativity", GraphQueries.q325DegreeAssortativity(spark, dir),
      AssortChk),
    ("e_depth", GraphQueries.q342ClusterDepth(spark, dir), DepthChk),
    ("f_threshold_curve",
      SimilarityQueries.q341DedupThresholdCurve(spark, dir), CurveChk))

  private def summary(spark: SparkSession, dir: String): DataFrame =
    stages(spark, dir)
      .map { case (s, df, chk) => CurationRun.summarize(s, df, chk) }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))

  def stagedPaths(dir: String): (String, String) = {
    val root = graft.util.Staging.dir("graft_dedup_audit", dir)
    (root.resolve("neardup_pairs").toString,
      root.resolve("components").toString)
  }

  /** Composed mode: persist pairs, then components (whose derivation
    * already reads the staged pairs), then run the battery against both
    * scans through the reuse confs. Confs restored after construction —
    * the parquet scans are baked into the returned plans. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val (pairPath, compPath) = stagedPaths(dir)
    SimilarityQueries.derivedNearDupPairs(spark, dir)
      .write.mode("overwrite").parquet(pairPath)
    val prevNd = spark.conf.getOption(CurationRun.NearDupPairConf)
    val prevComp = spark.conf.getOption(CurationRun.ComponentConf)
    spark.conf.set(CurationRun.NearDupPairConf, pairPath)
    try {
      GraphQueries.q141NearDupComponents(spark, dir)
        .write.mode("overwrite").parquet(compPath)
      spark.conf.set(CurationRun.ComponentConf, compPath)
      summary(spark, dir)
    } finally {
      CurationRun.restore(spark, CurationRun.NearDupPairConf, prevNd)
      CurationRun.restore(spark, CurationRun.ComponentConf, prevComp)
    }
  }

  /** Gate mode: every stage re-derived from the raw corpus — the
    * oracle's view and the spec's equality baseline. */
  def gateSummary(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.getOption(CurationRun.NearDupPairConf).isEmpty &&
      spark.conf.getOption(CurationRun.ComponentConf).isEmpty,
      "gateSummary must run with the reuse confs unset")
    summary(spark, dir)
  }

  val q350Oracle: String = {
    def wrap(stage: String, inner: String, chk: String) =
      s"""SELECT '$stage' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM($chk), 0) AS BIGINT) AS checksum
         |FROM (
         |$inner
         |)""".stripMargin
    Seq(
      wrap("a_dedup_map", GraphQueries.q269Oracle, MapChk),
      wrap("b_quality_map", GraphQueries.q333Oracle, MapChk),
      wrap("c_cohesion", GraphQueries.q280Oracle, CohesionChk),
      wrap("d_assortativity", GraphQueries.q325Oracle, AssortChk),
      wrap("e_depth", GraphQueries.q342Oracle, DepthChk),
      wrap("f_threshold_curve", SimilarityQueries.q341Oracle, CurveChk))
      .mkString("", "\nUNION ALL\n", "\nORDER BY stage")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q350_dedup_audit_run", run, q350Oracle))
}
