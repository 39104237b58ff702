package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, Future, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{CurationQueries, GraphQueries, MiningQueries, SimilarityQueries, TextQueries}

/** END-TO-END CURATION RUN (q270) — the composed production pipeline over
  * the gate suite's independently-verified pieces: near-dup confirm →
  * transitive components → dedup map + leakage-free fold split +
  * cluster-cohesion audit + effective-corpus report → winnowing
  * fingerprints → weighted-Jaccard confirm → training shards.
  *
  * The point of this object is the INTERMEDIATE-PERSISTENCE posture. Each
  * gate query is self-contained (its oracle must replay everything from the
  * raw corpus), so running the suite side by side re-derives shared work:
  * the star contraction is rebuilt by q141, q184 and q269, the corpus
  * fingerprint pass by q216 and q236, and the confirmed near-dup pair
  * cascade by q141 AND q280. A production run persists each shared
  * intermediate ONCE and points every consumer at it via the established
  * reuse confs (`spark.graft.neardup.pairTable`,
  * `spark.graft.folds.componentTable`, `spark.graft.winnow.pairTable`) —
  * [[run]] does exactly that, paying ONE pair confirm, ONE contraction and
  * ONE fingerprint pass for the whole DAG.
  *
  * Result identity is the contract: [[run]] (composed, persisted
  * intermediates) and [[gateSummary]] (every stage re-derived, the oracle's
  * view) produce the SAME summary — CurationRunSpec proves it, and the
  * driver's DuckDB oracle replays the gate side. The summary is one row per
  * stage (row count + an integer content checksum), so the hash gate pins
  * every stage's full result, not just its cardinality.
  *
  * 100 TB shape: persistence replaces recomputation with two parquet
  * round-trips whose size is output-bounded (components ≈ clustered docs,
  * pairs ≈ confirmed candidates — both orders of magnitude below the
  * corpus); every stage keeps its own audited plan (banded/blocked joins,
  * df-capped buckets, one-exchange shard write).
  */
object CurationRun {

  val ComponentConf = "spark.graft.folds.componentTable"
  val PairConf = "spark.graft.winnow.pairTable"
  val NearDupPairConf = SimilarityQueries.NearDupPairConf

  /** Checksum expressions per stage — valid in BOTH Spark SQL and DuckDB
    * (the shards stage needs a dialect-split md5-prefix read, stated
    * separately below). Sums of column values bounded well under 2⁶³.
    */
  private val ComponentsChk = "doc_id + component + n_members"
  private val DedupMapChk =
    "doc_id + canonical_id + (CASE WHEN keep THEN 1 ELSE 0 END)"
  private val FoldsChk = "fold + n_docs + n_clusters + leakage_pairs"
  private val PairsChk = "id_a + id_b + n_shared + sim_ppm"
  private val WjChk = "id_a + id_b + sum_min + sum_max + wjaccard_ppm"
  private val CohesionChk =
    "component + n_members + n_confirmed_pairs + possible_pairs + density_ppm"
  private val CorpusChk =
    "n_docs + n_kept + raw_tokens + kept_tokens + kept_docs_ppm + " +
      "kept_tokens_ppm"
  private val ShardsChkSpark =
    "shard + n_sequences + n_docs + n_subwords + " +
      "CAST(conv(substring(shard_md5, 1, 8), 16, 10) AS BIGINT)"
  private val ShardsChkDuck =
    "shard + n_sequences + n_docs + n_subwords + " +
      "CAST('0x' || substr(shard_md5, 1, 8) AS BIGINT)"

  /** Per-stage (n_rows, checksum) summary. The checksum accumulates in
    * DECIMAL(38,0) — NOT a bare Long sum: in non-ANSI mode a Long-
    * overflowing sum() wraps silently while the DuckDB oracle promotes
    * SUM(BIGINT) to HUGEINT before its BIGINT cast, so at 100 TB row
    * counts the two sides could wrap differently (or wrap identically and
    * mask a real diff). A DECIMAL(38,0) sum matches HUGEINT accumulation
    * through ~1e38; past THAT it nulls rather than wraps, and the q144
    * discipline turns the null into a loud error instead of a silent 0.
    */
  private[pipeline] def summarize(stage: String, df: DataFrame, chk: String): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        sum(expr(chk).cast("decimal(38,0)")).as("chk_dec"))
      .select(lit(stage).as("stage"), col("n_rows"),
        // null sum on an EMPTY stage is the legitimate 0; null with rows
        // present is decimal overflow and must not read as a checksum
        when(col("n_rows") === 0, lit(0L))
          .when(col("chk_dec").isNull ||
            col("chk_dec") > lit(Long.MaxValue) ||
            col("chk_dec") < lit(Long.MinValue), expr(
            s"raise_error('$stage checksum overflowed the BIGINT gate range')"))
          .otherwise(col("chk_dec").cast("long")).as("checksum"))

  /** The staged-intermediate locations for a given input dir (exposed so
    * the spec can pin that composed-mode plans really scan them). */
  def stagedPaths(dir: String): (String, String) = {
    val root = graft.util.Staging.dir("graft_curation_run", dir)
    (root.resolve("components").toString, root.resolve("winnow_pairs").toString)
  }

  /** Staged location of the CONFIRMED NEAR-DUP PAIR frame (round 13):
    * `confirmedNearDupPairs` is consumed at 16 call sites across the
    * graph/eval/mining/similarity families, and before this conf existed a
    * composed run still re-derived it inside q141 AND q280. Stage once,
    * every consumer opens on the scan. */
  def stagedNearDupPairPath(dir: String): String =
    graft.util.Staging.dir("graft_curation_run", dir)
      .resolve("neardup_pairs").toString

  /** Composed mode: persist the three shared intermediates once, then
    * build every downstream stage against them through the reuse confs.
    * The confs are restored afterwards — the parquet scans are already
    * baked into the returned frames' plans, so laziness is safe.
    *
    * Staging order matters: the confirmed-pair frame goes first, so even
    * the component-staging write (q141) opens on the staged pair scan —
    * one pair derivation for the whole DAG instead of two (q141 + q280).
    *
    * STAGE OVERLAP: the winnowing pair write (q216) and the training-shard
    * write (q192) read none of the three reuse confs — CurationRunSpec pins
    * that their optimized plans are identical with the confs set and unset
    * — so they run on a two-thread pool while this thread runs the
    * conf-dependent chain (near-dup pairs → conf → q141 components). Both
    * branches are joined before `ComponentConf`/`PairConf` are set, and a
    * branch failure is rethrown. The pool is created here, per call: its
    * threads are spawned by this thread and so inherit its Spark local
    * properties (job group, scheduler pool, caller tags). The `finally`
    * covers pool creation: it waits for both branches to finish (their
    * jobs never outlive the call), then restores the confs.
    */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val (compPath, pairPath) = stagedPaths(dir)
    val ndPairPath = stagedNearDupPairPath(dir)
    val prevNd = spark.conf.getOption(NearDupPairConf)
    val prevComp = spark.conf.getOption(ComponentConf)
    val prevPair = spark.conf.getOption(PairConf)
    try {
      val pool = Executors.newFixedThreadPool(2, OverlapThreads)
      try {
        def branch[A](f: => A): Future[A] =
          pool.submit(new Callable[A] { def call(): A = f })
        val pairsWritten = branch(SimilarityQueries
          .q216WinnowingFingerprints(spark, dir)
          .write.mode("overwrite").parquet(pairPath))
        val shards = branch(TextQueries.q192TrainingShards(spark, dir))
        SimilarityQueries.derivedNearDupPairs(spark, dir)
          .write.mode("overwrite").parquet(ndPairPath)
        spark.conf.set(NearDupPairConf, ndPairPath)
        GraphQueries.q141NearDupComponents(spark, dir)
          .write.mode("overwrite").parquet(compPath)
        join(pairsWritten)
        val shardsDf = join(shards)
        spark.conf.set(ComponentConf, compPath)
        spark.conf.set(PairConf, pairPath)
        val stages = Seq(
          ("components", spark.read.parquet(compPath), ComponentsChk),
          ("dedup_map", GraphQueries.q269DedupMap(spark, dir), DedupMapChk),
          ("folds", MiningQueries.q184DedupAwareFolds(spark, dir), FoldsChk),
          ("winnow_pairs", spark.read.parquet(pairPath), PairsChk),
          ("weighted_jaccard",
            SimilarityQueries.q236WeightedJaccard(spark, dir), WjChk),
          ("cluster_cohesion",
            GraphQueries.q280ClusterCohesion(spark, dir), CohesionChk),
          ("effective_corpus",
            CurationQueries.q284EffectiveCorpus(spark, dir), CorpusChk),
          ("shards", shardsDf, ShardsChkSpark))
        stages.map { case (s, df, chk) => summarize(s, df, chk) }
          .reduce(_ unionByName _)
          .orderBy(col("stage"))
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    } finally {
      restore(spark, ComponentConf, prevComp)
      restore(spark, PairConf, prevPair)
      restore(spark, NearDupPairConf, prevNd)
    }
  }

  /** Name prefix of [[run]]'s overlap threads (the spec checks none
    * outlives the call). */
  private[graft] val OverlapThreadPrefix = "curation-run-overlap-"

  private object OverlapThreads extends ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, OverlapThreadPrefix + n.incrementAndGet())
      t.setDaemon(true)
      t
    }
  }

  /** A branch's value, or its own failure (not the ExecutionException
    * wrapper). */
  private def join[A](f: Future[A]): A =
    try f.get() catch { case e: ExecutionException => throw e.getCause }

  private[pipeline] def restore(spark: SparkSession, key: String,
      prev: Option[String]): Unit = prev match {
    case Some(v) => spark.conf.set(key, v)
    case None => spark.conf.unset(key)
  }

  /** Gate mode: the identical summary with every stage re-derived from the
    * raw corpus (no persisted intermediates) — what the DuckDB oracle
    * replays, and the equality baseline for the composed run. Requires the
    * reuse confs unset (asserted: a half-composed "gate" summary would be
    * a meaningless baseline).
    */
  def gateSummary(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.getOption(ComponentConf).isEmpty &&
      spark.conf.getOption(PairConf).isEmpty &&
      spark.conf.getOption(NearDupPairConf).isEmpty,
      "gateSummary must run with the reuse confs unset")
    val stages = Seq(
      ("components", GraphQueries.q141NearDupComponents(spark, dir),
        ComponentsChk),
      ("dedup_map", GraphQueries.q269DedupMap(spark, dir), DedupMapChk),
      ("folds", MiningQueries.q184DedupAwareFolds(spark, dir), FoldsChk),
      ("winnow_pairs",
        SimilarityQueries.q216WinnowingFingerprints(spark, dir), PairsChk),
      ("weighted_jaccard",
        SimilarityQueries.q236WeightedJaccard(spark, dir), WjChk),
      ("cluster_cohesion",
        GraphQueries.q280ClusterCohesion(spark, dir), CohesionChk),
      ("effective_corpus",
        CurationQueries.q284EffectiveCorpus(spark, dir), CorpusChk),
      ("shards", TextQueries.q192TrainingShards(spark, dir), ShardsChkSpark))
    stages.map { case (s, df, chk) => summarize(s, df, chk) }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))
  }

  /** DuckDB replay: each stage's existing oracle wrapped to the same
    * (stage, n_rows, checksum) summary. The composed Spark run must hash-
    * match this even though it executes against persisted intermediates —
    * that asymmetry IS the test.
    */
  val q270Oracle: String = {
    def wrap(stage: String, inner: String, chk: String) =
      s"""SELECT '$stage' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM($chk), 0) AS BIGINT) AS checksum
         |FROM (
         |$inner
         |)""".stripMargin
    Seq(
      wrap("components", GraphQueries.q141Oracle, ComponentsChk),
      wrap("dedup_map", GraphQueries.q269Oracle, DedupMapChk),
      wrap("folds", MiningQueries.q184Oracle, FoldsChk),
      wrap("winnow_pairs", SimilarityQueries.q216Oracle, PairsChk),
      wrap("weighted_jaccard", SimilarityQueries.q236Oracle, WjChk),
      wrap("cluster_cohesion", GraphQueries.q280Oracle, CohesionChk),
      wrap("effective_corpus", CurationQueries.q284Oracle, CorpusChk),
      wrap("shards", TextQueries.q192Oracle, ShardsChkDuck))
      .mkString("", "\nUNION ALL\n", "\nORDER BY stage")
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q270_curation_run" -> ((s, d) => run(s, d)))

  val oracles: Map[String, String] = Map(
    "q270_curation_run" -> q270Oracle)
}
