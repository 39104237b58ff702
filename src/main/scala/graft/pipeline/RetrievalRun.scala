package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.queries.{MiningQueries, RetrievalQueries}

/** END-TO-END RETRIEVAL RUN (q309) — the postings-persistence posture
  * (CurationRun's discipline, extended to the retrieval tier per the
  * round-11 review): the (term, doc_id, tf) postings frame is the ONE
  * intermediate that q143 (segmented index), q144 (BM25), q285 (RRF
  * fusion), q154 (sparse sim-join), q294 (rank eval) and q300 (term
  * co-occurrence projection) each re-derive from the raw corpus in gate
  * mode — six corpus tokenize+aggregate passes for one tier. A production
  * run pays that pass ONCE: [[run]] stages the frame as parquet and points
  * every consumer at it through `spark.graft.postings.table`
  * ([[RetrievalQueries.termFrequencies]]), so each stage's plan opens with
  * a postings scan instead of a corpus re-tokenize.
  *
  * Result identity is the contract (q270's): [[run]] (composed, staged
  * postings) and [[gateSummary]] (every stage re-derived) produce the SAME
  * (stage, n_rows, checksum) summary, the DuckDB oracle replays the gate
  * side from the raw corpus, and RetrievalRunSpec additionally pins that
  * composed-mode plans really scan the staged parquet.
  *
  * 100 TB shape: the staged postings frame is vocabulary×document sized —
  * large, but written once per corpus version with a (term, doc_id) sort
  * within its hash layout so downstream term-keyed joins and doc-keyed
  * re-aggregations both start from compact scans; every consumer keeps
  * its own audited plan (broadcast query terms, df-capped anchors,
  * occupancy-capped projections).
  */
object RetrievalRun {

  /** Checksum expressions valid in BOTH Spark SQL and DuckDB; stages whose
    * keys are strings fold an md5 32-bit prefix in via the dialect-split
    * helpers (hex-parse syntax differs). All term/posting content lands in
    * the checksum, so the gate pins full results, not cardinalities. */
  private def sparkHex(hex: String) =
    s"CAST(conv(substring($hex, 1, 8), 16, 10) AS BIGINT)"
  private def duckHex(hex: String) =
    s"CAST('0x' || substr($hex, 1, 8) AS BIGINT)"

  private def postingsChk(h: String => String) =
    s"doc_id + tf + ${h("md5(term)")}"
  private def indexChk(h: String => String) =
    s"df + total_tf + ${h("md5(term)")} + ${h("postings_md5")}"
  private val Bm25Chk = "doc_id + n_terms_matched + score_scaled"
  private val RrfChk = "doc_id + rank_bm25 + rank_prop + rrf_scaled"
  private val SimJoinChk = "d1 + d2 + n_shared_terms + score"
  private val RankEvalChk =
    "k + hits + rel_total + precision_scaled + recall_scaled"
  private def projChk(h: String => String) =
    s"co_docs + df_a + df_b + jaccard_ppm + ${h("md5(term_a)")} + ${h("md5(term_b)")}"

  /** The staged-postings location for a given input dir (exposed so the
    * spec can pin that composed-mode plans really scan it). */
  def stagedPath(dir: String): String =
    graft.util.Staging.dir("graft_retrieval_run", dir)
      .resolve("postings").toString

  private def stages(spark: SparkSession, dir: String,
      postings: DataFrame): Seq[(String, DataFrame, String)] = Seq(
    ("postings", postings, postingsChk(sparkHex)),
    ("inverted_index",
      RetrievalQueries.q143InvertedIndex(spark, dir), indexChk(sparkHex)),
    ("bm25", RetrievalQueries.q144Bm25Search(spark, dir), Bm25Chk),
    ("rrf_fusion", RetrievalQueries.q285RrfFusion(spark, dir), RrfChk),
    ("sparse_simjoin",
      RetrievalQueries.q154SparseSimJoin(spark, dir), SimJoinChk),
    ("rank_eval", RetrievalQueries.q294RankEval(spark, dir), RankEvalChk),
    ("term_projection",
      MiningQueries.q300TermProjection(spark, dir), projChk(sparkHex)))

  /** Composed mode: persist the postings frame once, then build every
    * downstream stage against it through the reuse conf. The conf is
    * restored afterwards — the parquet scan is already baked into the
    * returned frames' plans, so laziness is safe (CurationRun's posture).
    */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val path = stagedPath(dir)
    // derive-mode build (conf must not leak into the staged frame itself)
    require(spark.conf.getOption(RetrievalQueries.PostingsConf).isEmpty,
      "run() derives the staged postings; the reuse conf must be unset on entry")
    RetrievalQueries.termFrequencies(spark, dir)
      .write.mode("overwrite").parquet(path)
    spark.conf.set(RetrievalQueries.PostingsConf, path)
    try
      stages(spark, dir, spark.read.parquet(path))
        .map { case (s, df, chk) => CurationRun.summarize(s, df, chk) }
        .reduce(_ unionByName _)
        .orderBy(col("stage"))
    finally spark.conf.unset(RetrievalQueries.PostingsConf)
  }

  /** Gate mode: the identical summary with every stage re-derived from the
    * raw corpus — what the DuckDB oracle replays, and the equality
    * baseline for the composed run. */
  def gateSummary(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.getOption(RetrievalQueries.PostingsConf).isEmpty,
      "gateSummary must run with the reuse conf unset")
    stages(spark, dir, RetrievalQueries.termFrequencies(spark, dir))
      .map { case (s, df, chk) => CurationRun.summarize(s, df, chk) }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))
  }

  /** DuckDB replay: each stage's existing oracle wrapped to the same
    * (stage, n_rows, checksum) summary — the composed Spark run must
    * hash-match this even though it executes against the staged postings;
    * that asymmetry IS the test. */
  val q309Oracle: String = {
    def wrap(stage: String, inner: String, chk: String) =
      s"""SELECT '$stage' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM($chk), 0) AS BIGINT) AS checksum
         |FROM (
         |$inner
         |)""".stripMargin
    val postingsSql =
      """SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |FROM (SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |      FROM documents WHERE doc_id IS NOT NULL)
        |GROUP BY term, doc_id""".stripMargin
    Seq(
      wrap("postings", postingsSql, postingsChk(duckHex)),
      wrap("inverted_index", RetrievalQueries.q143Oracle, indexChk(duckHex)),
      wrap("bm25", RetrievalQueries.q144Oracle, Bm25Chk),
      wrap("rrf_fusion", RetrievalQueries.q285Oracle, RrfChk),
      wrap("sparse_simjoin", RetrievalQueries.q154Oracle, SimJoinChk),
      wrap("rank_eval", RetrievalQueries.q294Oracle, RankEvalChk),
      wrap("term_projection", MiningQueries.q300Oracle, projChk(duckHex)))
      .mkString("", "\nUNION ALL\n", "\nORDER BY stage")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q309_retrieval_run", run, q309Oracle))
}
