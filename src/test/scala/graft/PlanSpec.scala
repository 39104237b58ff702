package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these queries scale are
  * asserted, not assumed — filter pushdown into the parquet scan, column
  * pruning, broadcast joins on dimensions, and the absence of cartesian
  * products anywhere in the suite.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** The final adaptive plan after running the query (stage reuse only
    * shows there), without the initial plan AQE appends. */
  private def executedFinalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val cut = p.indexOf("== Initial Plan ==")
    if (cut >= 0) p.take(cut) else p
  }

  test("q01 pushes the shipdate filter into the parquet scan and prunes columns") {
    val p = plan("q01_agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "pruned column must not be read")
  }

  test("q02 pushes range predicates to the scan") {
    val p = plan("q02_filter_predicates")
    // FileScan metadata rendering truncates at 100 chars; assert on the
    // DataFilters that fit plus the PushedFilters prefix
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("(o_totalprice") && p.contains(">= 1000.0"), p)
  }

  test("q04 broadcasts every dimension side and pushes the region filter") {
    val p = plan("q04_join_inner")
    // at test scale ALL sides fit the broadcast threshold — the invariant
    // worth asserting is: hash joins only (no BNLJ/cartesian), region
    // filter pushed into its scan, per-scan column pruning
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("In(r_name"), "region filter must push into the scan")
    assert(p.contains("struct<c_custkey:bigint,c_nationkey:int>"),
      "customer scan must prune to join keys")
  }

  test("q06/q07 plan as semi/anti joins, not row-multiplying joins") {
    assert(plan("q06_join_semi").contains("LeftSemi"))
    assert(plan("q07_join_anti").contains("LeftAnti"))
  }

  test("q08 range join anchors on the equi key (hash/merge join, not BNLJ)") {
    val p = plan("q08_join_range")
    // the user_id equi key must drive the join (any hash/merge variant);
    // the time range rides along as a join condition — never a nested loop
    assert(p.contains("Join [user_id"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q38 never partitions on the 5-value lang key alone (skew)") {
    val p = plan("q38_ngram_jaccard")
    // hashpartitioning(lang#N, 32) — lang as the SOLE key — would put the
    // whole corpus on ≤5 partitions; the composite (lang, id) keys keep
    // exchange cardinality growing with the data
    val solo = "hashpartitioning\\(lang#\\d+L?, \\d+\\)".r
    assert(solo.findFirstIn(p).isEmpty, s"lang-only exchange found:\n$p")
  }

  test("q64/q138 packing cumsum range-partitions the corpus — no lang-window exchange") {
    // the packing queries ride PrefixSum.runningTotal: the corpus must
    // range-partition on (lang, doc_id); the only lang-keyed hash exchange
    // allowed is the tiny P·G offsets frame (whose subtree aggregates
    // __pid/__gkey), never the document stream itself
    Seq("q64_sequence_packing", "q138_bpe_packing").foreach { q =>
      val p = plan(q)
      assert(p.toLowerCase.contains("rangepartitioning"), s"$q:\n${p.take(2000)}")
      assert("hashpartitioning\\(lang#\\d+".r.findFirstIn(p).isEmpty,
        s"$q has a lang-only corpus exchange:\n${p.take(4000)}")
    }
  }

  test("q93 bloom probe is a codegen'd built-in below the fact-side exchange") {
    val p = plan("q93_bloom_pruned_join")
    // the probe must be Spark's native might_contain (codegen'd), not a
    // ScalaUDF black box
    assert(p.contains("might_contain"), p)
    assert(!p.contains("UDF"), s"bloom probe still a UDF:\n$p")
    // and it must run BEFORE the merge-join shuffle: the filter's plan
    // line appears below the fact-side Exchange in the tree printout
    // (children print under their parents), i.e. the shuffled volume is
    // the pruned one
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(l_orderkey")
    val probeIdx = p.indexOf("might_contain")
    assert(exchangeIdx >= 0 && probeIdx > exchangeIdx,
      s"probe not below the fact exchange:\n$p")
  }

  test("q78 is projection-only: no explode, no join, no hash exchange") {
    // both repetition statistics are per-document and ride codegen'd
    // expressions — the corpus must not be exploded, aggregated or joined
    val p = plan("q78_quality_repetition")
    assert(!p.contains("Generate"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.toLowerCase.contains("hashpartitioning"), p.take(3000))
    assert("FileScan parquet".r.findAllIn(
      p.split("== Initial Plan ==")(0)).size === 1, p.take(3000))
  }

  test("q190 is genuinely cross-modal: one plan decodes images AND tokenizes text, joined on doc_id") {
    val p = plan("q190_crossmodal_alignment")
    // image side: the typed decode map materializes objects
    // (DeserializeToObject/MapElements/SerializeFromObject)
    assert(p.contains("SerializeFromObject"), p.take(3000))
    assert(p.contains("MapElements") || p.contains("mapelements"), p.take(3000))
    // text side: the tokenize projection (split on whitespace)
    assert(p.contains("split("), p.take(3000))
    // crossed relationally, not cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("q191 domain rollup is UDF-free: parse_url is a native expression, not q47's UDF") {
    val p = plan("q191_domain_curation")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(3000))
    // blocklist kill is a broadcast anti-join, never a shuffle of the rollup
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("q144 reads the corpus ONCE: every BM25 statistic re-aggregates one tokenize pass") {
    // the r7 shape tokenized documents 3× (tf / dl / tot each owned a
    // scan+explode); dl and tot now derive from tf, and the source-level
    // isnotnull(doc_id) keeps all consumer subtrees identical, so the
    // EXECUTED plan must collapse them to a single documents FileScan
    // with the explode's exchange reused everywhere else
    val finalPlan = executedFinalPlan("q144_bm25_search")
    val scans = "FileScan parquet".r.findAllIn(finalPlan).size
    assert(scans === 1,
      s"q144 must read documents.parquet exactly once, found $scans scans:\n${finalPlan.take(6000)}")
    assert(finalPlan.contains("ReusedExchange"), finalPlan.take(6000))
  }

  test("q133/q134 probe the corpus via broadcast joins — no corpus shuffle for the tiny side") {
    // contamination: the eval-gram set broadcasts onto the training scan
    val p133 = plan("q133_contamination")
    assert(p133.contains("BroadcastHashJoin"), p133)
    assert(!p133.contains("SortMergeJoin"), s"eval side must broadcast:\n$p133")
    // mixture: the per-source rate frame broadcasts onto the second scan
    val p134 = plan("q134_corpus_mixture")
    assert(p134.contains("BroadcastHashJoin"), p134)
    assert(!p134.contains("SortMergeJoin"), s"rate frame must broadcast:\n$p134")
  }

  test("no query plans a cartesian product") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (name != "q46_stream_tumbling") { // streaming exec has no static plan
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      }
    }
  }

  test("q42 IVF assignment is a pure projection — no exchange, window, or BNLJ before the candidate join") {
    val p = plan("q42_ann_ivf")
    // the old argmin shape joined the corpus against all k centroids and
    // window-ranked the n×k frame: a hashpartitioning(vec_id) exchange of a
    // 16×-amplified corpus. The NearestCentroids projection removes it.
    assert(!p.contains("hashpartitioning(vec_id"), s"n×k argmin exchange found:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"lit(true) centroid join found:\n$p")
    // NO window remains: the assign/probe argmins are projections and the
    // final per-query top-k auto-rewrites to the GroupTopK operator
    assert("Window \\[".r.findAllIn(p).isEmpty, p)
    assert(p.contains("GroupTopK"), p)
    assert(p.contains("nearestcentroids"), p)
  }

  test("q112 PQ: corpus encode is a projection, ADC joins broadcast, top-k is GroupTopK") {
    val p = plan("q112_ann_pq")
    // both subspace argmins are codegen'd NearestCentroids projections —
    // the corpus is never hash-partitioned by vec_id or amplified n×k
    assert(p.contains("nearestcentroids"), p)
    assert(!p.contains("hashpartitioning(vec_id"), s"corpus exchange found:\n$p")
    // ADC lookup tables attach via broadcast hash joins on the code ids
    assert(p.contains("BroadcastHashJoin"), p)
    // per-query ranking auto-rewrites to the bounded-heap operator
    assert(p.contains("GroupTopK"), p)
  }

  test("q101 chunking is generate-over-scan — no hash exchange anywhere") {
    val p = plan("q101_doc_chunking")
    assert(p.contains("Generate"), p)
    assert(!p.contains("hashpartitioning"),
      s"chunking must not shuffle (only the output sort may exchange):\n$p")
  }

  test("q122 non-equi band join auto-rewrites to a binned equi-join — no BNLJ") {
    val p = plan("q122_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join must not plan as a nested loop:\n$p")
    assert(p.contains("__band_bin"), s"bin key missing from the plan:\n$p")
    // with the escape hatch off, the naive plan comes back (and BNLJ with it)
    spark.conf.set("spark.graft.bandjoin.rewrite", "false")
    try {
      val naive = plan("q122_band_join")
      assert(naive.contains("BroadcastNestedLoopJoin"),
        s"escape hatch must restore the naive plan:\n$naive")
    } finally spark.conf.unset("spark.graft.bandjoin.rewrite")
  }

  test("q75 bucketed join plans with no exchange on the join key") {
    val p = plan("q75_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("hashpartitioning(l_orderkey") &&
      !p.contains("hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle on the join key:\n$p")
  }

  test("q77 salted join/agg: the salt column reaches every skew-prone exchange") {
    val p = plan("q77_skew_salted_join")
    // the join and partial-agg exchanges must partition on (key, __salt) —
    // a hashpartitioning on o_orderpriority alone is the ≤5-reducer skew
    // plan the salting exists to prevent (the final merge agg over
    // key×salt rows is the one legitimately tiny key-only exchange)
    val keyOnly = "hashpartitioning\\(o_orderpriority#\\d+, \\d+\\)".r
    assert(keyOnly.findAllIn(p).size <= 1,
      s"skew-prone key-only exchange found:\n$p")
    assert(p.contains("__salt"), s"salt column missing from the plan:\n$p")
    assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(p).isDefined,
      s"no exchange partitions on the salt:\n$p")
  }

  test("q83 fact scan carries static partition filters AND a dynamic pruning expression") {
    // scan metadata truncates at 100 chars by default, which would cut the
    // PartitionFilters list off mid-"dynamicp..." — widen it for the assert
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try {
      val p = plan("q83_partition_pruning")
      // the partitioned FACT scan must prune BOTH ways: literal month
      // bounds as static PartitionFilters (no file touched outside 1996)
      // and a dynamicpruningexpression fed from the broadcast dimension
      // (only the months the filtered dim actually names get read). The
      // dim's own scan legitimately shows empty PartitionFilters — the
      // assertions anchor on the fact table's partition column.
      assert("PartitionFilters: \\[isnotnull\\(l_ship_month".r.findFirstIn(p).isDefined,
        s"fact scan has no partition filters:\n$p")
      assert(p.contains("(l_ship_month#") && p.contains(">= 1996-01"),
        s"static month bounds missing:\n$p")
      assert("dynamicpruningexpression\\(l_ship_month".r.findFirstIn(p).isDefined,
        s"DPP missing on the fact scan:\n$p")
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("window top-k auto-rewrites to the custom GroupTopK operator (no sort)") {
    // the TopKRewrite optimizer rule (injected via GraftExtensions) turns
    // the row_number-filter pattern into the heap-based exec — q18 is plain
    // window-API user code and must get the no-sort plan automatically
    val p = plan("q18_topk_pergroup")
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("WindowExec") && !"\\bWindow \\[".r.findFirstIn(p).isDefined, p)
    // escape hatch: with the rewrite off, the window plan comes back
    spark.conf.set("spark.graft.topk.rewrite", "false")
    try {
      val off = plan("q18_topk_pergroup")
      assert(!off.contains("GroupTopK"), off)
      assert("Window \\[".r.findFirstIn(off).isDefined, off)
    } finally spark.conf.unset("spark.graft.topk.rewrite")
  }

  test("q159 phrase mining: top-10-per-lang rides GroupTopK, not a sorted window") {
    val p = plan("q159_phrase_mining")
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("WindowExec") && !"\\bWindow \\[".r.findFirstIn(p).isDefined, p)
  }

  test("q57 exact percentiles use distributed rank, not a per-group percentile buffer") {
    val p = plan("q57_percentiles")
    // the percentile() aggregate buffers and sorts every group inside ≤5
    // reducers; the distributed-rank plan must not contain it. Round-16:
    // the (group, value) range exchange + sort + rank pass now execute
    // ONCE inside the scaffold's eager materialization (the old pin
    // asserted the exchange in this plan; it lives in the checkpoint job
    // now), so the query plan must read the materialized ranked frame —
    // PercentilesSpec pins the single-execution contract at runtime
    assert(!p.contains("percentile("), s"percentile() aggregate found:\n$p")
    assert(p.contains("ExistingRDD"),
      s"q57 must read the materialized ranked frame:\n$p")
  }

  test("top-k global plans as TakeOrderedAndProject (no full sort)") {
    assert(plan("q17_topk_global").contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the relational hot paths") {
    // under AQE the codegen stages only appear in the final plan, so
    // execute first, then inspect
    val df = SparkEntry.queries("q01_agg_pricing")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" node prefixes mark whole-stage-codegen stages in compact mode
    assert(p.contains("*(") , p)
  }

  test("q216/q236: winnowing candidate generation is equi-join-shaped — " +
    "no cartesian product anywhere in the pair pipeline") {
    Seq("q216_winnowing_fingerprints", "q236_weighted_jaccard").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(3000)}")
    }
  }

  test("q216: the fingerprint explode runs once — document frequency and " +
    "per-doc counts are windows on one chain, and the self-join reuses " +
    "its fp exchange") {
    val finalPlan = executedFinalPlan("q216_winnowing_fingerprints")
    assert("Generate explode".r.findAllIn(finalPlan).size == 1,
      s"fingerprint subtree evaluated more than once:\n${finalPlan.take(6000)}")
    assert(finalPlan.contains("ReusedExchange"), finalPlan.take(6000))
  }

  test("q239: unrolled TextRank reuses the edge/degree exchanges across " +
    "iterations (q142's discipline on the word graph)") {
    val finalPlan = executedFinalPlan("q239_textrank_keywords")
    assert(finalPlan.contains("ReusedExchange"),
      s"TextRank must reuse exchanges:\n${finalPlan.take(4000)}")
  }

  test("q226: the covariance fan-out collapses through partial " +
    "aggregation — the shuffle carries cells, not row-pairs") {
    val df = SparkEntry.queries("q226_embedding_covariance")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // partial_ markers: map-side combine before the (i, j) exchange
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q251: the HLL register aggregate combines map-side (the sketch IS " +
    "the combiner)") {
    val p = plan("q251_hll_distinct")
    assert(p.contains("partial_max"),
      s"register max must pre-aggregate before the exchange:\n${p.take(3000)}")
  }

  test("q296: the skyline scan is band-blocked — per-band windows " +
    "partition on the price band, no whole-table single-partition sort") {
    val p = plan("q296_skyline")
    // the running-max windows must hash-partition on the band key; the
    // only unpartitioned window is the ≤ #bands cross-band cummax
    assert(p.contains("hashpartitioning(band"),
      s"per-band windows must partition on band:\n${p.take(3000)}")
  }

  test("q298: the touch join anchors on the user equi key — the hour " +
    "range rides as a residual predicate, never a nested-loop join") {
    val p = plan("q298_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"touch join must be equi-shaped on user_id:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q302: the per-key count pre-aggregates map-side (partial_count " +
    "below the exchange) and no join appears anywhere") {
    val p = plan("q302_join_card_estimate")
    assert(p.contains("partial_count"),
      s"per-key counts must combine map-side:\n${p.take(3000)}")
    assert(!p.contains("Join"),
      s"exact join cardinality must come from the count frame, not a join:\n${p.take(3000)}")
  }

  test("q304: candidate generation is a bucket equi-join — no cartesian " +
    "or nested-loop anywhere in the mutual-NN plan") {
    val p = plan("q304_mutual_nn")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q344: every fact joins the erasure subject list by BROADCAST — " +
    "the subject frame never drives a shuffle of a fact table") {
    val p = plan("q344_erasure_plan")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q345: the snapshot diff carries md5 hashes, not document bodies, " +
    "across its one full-outer exchange") {
    val p = plan("q345_snapshot_diff")
    // the post-scan projections hash immediately; `text` must not appear
    // in any Exchange's output schema (it appears only inside scans and
    // the md5 projections directly above them)
    val exchanges = "Exchange [^\\n]*".r.findAllIn(p).toList
    assert(exchanges.nonEmpty, p.take(2000))
    exchanges.foreach(e => assert(!e.contains("text"), e))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q347: session baskets never plan a cartesian — the pair join is " +
    "session-keyed (the only nested-loop is the sanctioned 1-row " +
    "n_sessions broadcast)") {
    val p = plan("q347_session_baskets")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the basket self-join must be an equi-join on (user, sid)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(3000))
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toList
    bnlj.foreach(j => assert(j.contains("Cross"),
      s"only the 1-row cross broadcast is allowed: $j"))
    assert(bnlj.size <= 1, p.take(3000))
  }

  test("q335/q334: the chunking and phrase windows partition by doc_id — " +
    "no one-partition window over the corpus") {
    Seq("q335_cdc_chunking", "q334_boilerplate_phrases").foreach { q =>
      val p = plan(q)
      val windows = "Window [^\\n]*".r.findAllIn(p).toList
      windows.foreach { w =>
        assert(w.contains("doc_id"), s"$q window not doc-partitioned: $w")
      }
    }
  }

}
