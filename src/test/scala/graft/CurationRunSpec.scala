package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CurationRun
import graft.queries.{GraphQueries, SimilarityQueries, TextQueries}

/** The composed-pipeline contract (q270): persisted-intermediate execution
  * must be RESULT-IDENTICAL to gate mode, and must genuinely read the
  * persisted intermediates (one star contraction, one fingerprint pass —
  * not a silent re-derive).
  */
class CurationRunSpec extends AnyFunSuite with SparkSpec {

  test("q270: composed run (persisted intermediates) equals gate mode") {
    val composed = CurationRun.run(spark, sfDir).collect().toSeq
    val gate = CurationRun.gateSummary(spark, sfDir).collect().toSeq
    assert(composed === gate,
      s"composed=$composed\ngate=$gate")
    // eight stages, every one non-degenerate
    assert(composed.map(_.getString(0)) ===
      Seq("cluster_cohesion", "components", "dedup_map", "effective_corpus",
        "folds", "shards", "weighted_jaccard", "winnow_pairs"))
    assert(composed.forall(_.getLong(1) > 0), s"empty stage in $composed")
  }

  test("q270: downstream stages really scan the persisted intermediates") {
    val (compPath, pairPath) = CurationRun.stagedPaths(sfDir)
    // run() stages the parquet as a side effect; re-stage to be order-safe
    GraphQueries.q141NearDupComponents(spark, sfDir)
      .write.mode("overwrite").parquet(compPath)
    SimilarityQueries.q216WinnowingFingerprints(spark, sfDir)
      .write.mode("overwrite").parquet(pairPath)
    spark.conf.set(CurationRun.ComponentConf, compPath)
    spark.conf.set(CurationRun.PairConf, pairPath)
    try {
      // match on the staging-root name: Spark truncates long scan paths
      // in plan strings, so the per-stage leaf dir may display as "c..."
      val stagingRoot = "graft_curation_run"
      val dedupPlan = GraphQueries.q269DedupMap(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(dedupPlan.contains(stagingRoot), dedupPlan.take(2000))
      val wjPlan = SimilarityQueries.q236WeightedJaccard(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(wjPlan.contains(stagingRoot), wjPlan.take(2000))
      // and the reused paths stay result-identical to the defaults
      spark.conf.unset(CurationRun.ComponentConf)
      spark.conf.unset(CurationRun.PairConf)
      val dedupGate = GraphQueries.q269DedupMap(spark, sfDir).collect().toSeq
      val wjGate = SimilarityQueries.q236WeightedJaccard(spark, sfDir)
        .collect().toSeq
      spark.conf.set(CurationRun.ComponentConf, compPath)
      spark.conf.set(CurationRun.PairConf, pairPath)
      assert(GraphQueries.q269DedupMap(spark, sfDir).collect().toSeq
        === dedupGate)
      assert(SimilarityQueries.q236WeightedJaccard(spark, sfDir)
        .collect().toSeq === wjGate)
    } finally {
      spark.conf.unset(CurationRun.ComponentConf)
      spark.conf.unset(CurationRun.PairConf)
    }
  }

  test("staged near-dup pair frame: consumers scan it and stay identical") {
    val ndPath = CurationRun.stagedNearDupPairPath(sfDir)
    SimilarityQueries.derivedNearDupPairs(spark, sfDir)
      .write.mode("overwrite").parquet(ndPath)
    // gate-mode baselines FIRST (conf unset): the raw-derivation results
    val compGate = GraphQueries.q141NearDupComponents(spark, sfDir)
      .collect().toSeq
    val assortGate = GraphQueries.q325DegreeAssortativity(spark, sfDir)
      .collect().toSeq
    spark.conf.set(CurationRun.NearDupPairConf, ndPath)
    try {
      // every consumer's plan must OPEN on the staged scan (no shingle /
      // minhash / band-join re-derivation behind it) …
      val stagingRoot = "graft_curation_run"
      val compPlan = GraphQueries.q141NearDupComponents(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(compPlan.contains(stagingRoot), compPlan.take(2000))
      assert(!compPlan.contains("minhash"), compPlan.take(2000))
      val assortPlan = GraphQueries.q325DegreeAssortativity(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(assortPlan.contains(stagingRoot), assortPlan.take(2000))
      // … and stay result-identical to the raw derivation
      assert(GraphQueries.q141NearDupComponents(spark, sfDir)
        .collect().toSeq === compGate)
      assert(GraphQueries.q325DegreeAssortativity(spark, sfDir)
        .collect().toSeq === assortGate)
    } finally spark.conf.unset(CurationRun.NearDupPairConf)
  }

  private val reuseConfs = Seq(CurationRun.NearDupPairConf,
    CurationRun.ComponentConf, CurationRun.PairConf)

  test("q270 overlap safety: q216 and q192 build identical optimized plans " +
    "with the three reuse confs set and unset") {
    // q192 writes its shards while it builds its frame: pin that write's
    // input as well as the frame it returns. Plans compare as canonical
    // text without object identities (the shard input's mapPartitions
    // closure is a new object per build), plus the directories each one
    // scans (each shard write names its part files afresh).
    def plans() = Seq(
      SimilarityQueries.q216WinnowingFingerprints(spark, sfDir),
      TextQueries.shardAssignment(spark, sfDir),
      TextQueries.q192TrainingShards(spark, sfDir))
      .map(df => (df.queryExecution.optimizedPlan.canonicalized.toString
        .replaceAll("@[0-9a-f]+", ""),
        df.inputFiles.map(f => f.take(f.lastIndexOf('/'))).distinct.sorted.toSeq))
    val unset = plans()
    // a one-row table per conf: a query that consulted one would scan it
    val root = java.nio.file.Files.createTempDirectory("curation-confs")
    reuseConfs.zipWithIndex.foreach { case (k, i) =>
      val p = root.resolve(s"t$i").toString
      spark.range(1).write.parquet(p)
      spark.conf.set(k, p)
    }
    try {
      val set = plans()
      unset.zip(set).foreach { case (u, s) => assert(u == s, s"unset:\n$u\nset:\n$s") }
    } finally reuseConfs.foreach(spark.conf.unset)
  }

  test("q270: a failing run rethrows, leaves the reuse confs as on entry " +
    "and leaves no live overlap thread") {
    val missing = java.nio.file.Files.createTempDirectory("curation-missing")
      .resolve("absent").toString
    spark.conf.set(CurationRun.NearDupPairConf, "/entry/pairs")
    spark.conf.set(CurationRun.ComponentConf, "/entry/components")
    try {
      intercept[Exception](CurationRun.run(spark, missing))
      assert(reuseConfs.map(spark.conf.getOption) ===
        Seq(Some("/entry/pairs"), Some("/entry/components"), None))
      val live = Thread.getAllStackTraces.keySet.asScala.filter(
        _.getName.startsWith(CurationRun.OverlapThreadPrefix))
      // a terminated pool's workers return from run() right after
      live.foreach(_.join(5000))
      assert(!live.exists(_.isAlive), s"overlap threads still alive: $live")
    } finally reuseConfs.foreach(spark.conf.unset)
  }

  test("q270: gateSummary refuses to run half-composed") {
    spark.conf.set(CurationRun.PairConf, "/tmp/nonexistent")
    try {
      intercept[IllegalArgumentException] {
        CurationRun.gateSummary(spark, sfDir)
      }
    } finally spark.conf.unset(CurationRun.PairConf)
  }
}
