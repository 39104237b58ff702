package graft

/** Per-round benchmark harness (driver contract): runs every registered
  * query at SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query and
  * total seconds.
  *
  * Timing methodology: each query is materialized through the `noop` sink —
  * unlike `count()`, which lets Catalyst prune projections/sorts out of the
  * plan, noop executes the full physical plan and discards rows at the
  * writer, so the numbers reflect real operator cost. A small warmup query
  * absorbs first-action JVM/codegen startup so per-query numbers are
  * steady-state.
  *
  * Each query is timed `SPARK_GRAFT_REPEATS` times (default 2) and the MIN
  * is reported: the min is the contention-robust statistic — a one-off
  * noisy-neighbor run can only inflate a single repeat, never the minimum
  * (round 2's harness recorded 17.3 s for a query that cleanly runs in
  * 0.57 s because something else held the box during the single repeat).
  * Short queries (best < 2.5 s) are extended to at least 3 repeats: their
  * numbers are proportionally the most contention-sensitive — rounds 5 and
  * 6 each flagged code-unchanged short queries as >2–3× "regressions" that
  * were pure scheduler noise (all recovered on re-run) — and the extra
  * repeats cost seconds in total. The cutoff sat at 1.0 s through round 6;
  * q38/q11 flapped just above it, hence 2.5 s.
  *
  * SELF-CERTIFICATION (round 10): min-of-repeats defends against one-off
  * spikes but not SUSTAINED box contention — round 9's driver bench
  * recorded a phantom 2.15× "regression" (91% of queries slower, worst
  * offenders code-unchanged) that an idle re-run fully dissolved, and the
  * artifact itself carried no way to tell. So the harness now interleaves
  * a fixed CALIBRATION PROBE (the q01 pricing aggregate, min of 2 runs —
  * one-off-spike-robust, sustained-load-sensitive) before the first query
  * and after every ~20, and emits the probe series in the JSON:
  * `calibration` (seconds per checkpoint), `calibration_drift`
  * (max/min over the series), and `contended: true` when drift exceeds
  * 1.5× — the run certifies or indicts itself, no re-run needed to
  * adjudicate. Methodology in PLANS.md §Bench.
  *
  * PER-QUERY REGRESSION GATE (round 11): the probe certifies the box, the
  * regression gate certifies the queries — each timing is diffed against
  * the committed prior `bench.json` (env `SPARK_GRAFT_PREV_BENCH`
  * overrides the path), and >2× drift with a 1 s absolute floor on an
  * UNCONTENDED run is emitted under `regressions` in the JSON. Contended
  * runs skip the gate (the calibration flag already voids their numbers,
  * and flagging queries there would recreate round 9's phantom
  * regressions).
  *
  * GATE HARDENING (round 12), after the round-11 gate's two flags (q122
  * 0.46→2.67 s, q210 3.26→7.22 s) both dissolved on idle AND run-order-
  * context reruns:
  *  - times are CALIBRATION-NORMALIZED before the 2× diff (each query's
  *    stretch-local probe divides out within-run box sag; the prior run's
  *    probe minimum anchors cross-round box speed),
  *  - provisional flags get a SECOND-CHANCE RETRY at end of sweep — a
  *    brief spike between two clean probes inflates every repeat of one
  *    query but cannot persist to a different moment of the run, so only
  *    code-caused slowness survives both stretches (re-run names are
  *    emitted under `retried`),
  *  - queries in the prior run's `failed` list are never diffed (their
  *    prior number is a time-to-throw, not a baseline), and
  *  - `SPARK_GRAFT_ONLY=a,b` runs an adjudication subset with the same
  *    harness without overwriting bench.json.
  *
  * BASELINE-ADOPTION BAR (round 15): gating and adopting are now held to
  * DIFFERENT drift standards. Voiding the gate at drift >= 1.5 is right for
  * regression DIFFS (below it, the calibration normalization absorbs the
  * sag). But round 14 committed a drift-1.4994 run as the new baseline —
  * 0.04% under the void threshold — and its whole carried surface read
  * +7.5% vs the prior clean run, so the NEXT round's gate would have
  * diffed against priors inflated by near-threshold noise (a real
  * regression up to that margin would hide inside the inflation; three
  * queries drifted past 1.5x between "clean" baselines with no code
  * change). The ratchet: a run just clean enough to gate was also clean
  * enough to become the denominator. So adoption now requires drift <
  * [[AdoptionDriftBar]] (1.2): a 1.2–1.5-drift run still gates (its own
  * numbers are normalized), but quarantines to bench.noisy.json instead of
  * overwriting the committed baseline.
  */
object Bench {

  /** Max calibration drift at which a run may OVERWRITE bench.json and
    * become the next round's regression denominator. Stricter than the
    * 1.5 gate-void bar by design — see the header's round-15 note. */
  private[graft] val AdoptionDriftBar = 1.2

  /** Whether this run's numbers may be adopted as the committed baseline,
    * and why not if they can't. A run the gate voided (contention / cpus
    * mismatch) is never adoptable; an active-gate run must additionally
    * certify drift < 1.2. */
  private[graft] def adoptionStatus(
      drift: Double, gateOk: Boolean, gateReason: String): (Boolean, String) =
    if (!gateOk) (false, s"declined: gate $gateReason")
    else if (drift >= AdoptionDriftBar)
      (false, f"declined: drift $drift%.4f >= $AdoptionDriftBar (gate active, baseline kept)")
    else (true, "adopted")

  /** Escape a string for embedding inside a JSON string literal (round-15
    * advice: a quote/backslash in SPARK_GRAFT_CPUS previously flowed raw
    * into the output, producing invalid JSON that priorBench would then
    * silently read as an empty baseline). */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Prior-round bench baseline: per-query seconds, the names that FAILED
    * there (a query whose prior number is a time-to-throw must not be
    * diffed — "now succeeds, slower than it used to crash" is not a
    * regression), the prior calibration-probe minimum (the box-speed
    * anchor the normalized gate divides by), and the core count the
    * baseline was taken at (None for pre-round-14 baselines that did not
    * record it). */
  private[graft] case class PriorBench(
      times: Map[String, Double],
      failed: Set[String],
      calibMin: Option[Double],
      cpus: Option[Int])

  /** CORE-COUNT GATE (round 14): whether the per-query regression gate may
    * adjudicate at all, and why not if it can't. The round-13 incident: a
    * sweep taken at 8 cores was diffed against a 32-core baseline and
    * manufactured three "regressions" that cost half a session to
    * adjudicate — and the calibration probe provably cannot catch this
    * class (it is I/O-dominated and core-count-insensitive, so the drift
    * statistic stays flat while every shuffle-heavy query legitimately
    * runs 2–4× slower on a quarter of the cores). A contended box voids
    * the gate for the same reason it always has. Baselines that predate
    * the `cpus` field are grandfathered: with no recorded core count
    * there is nothing to compare, so the gate proceeds as before. */
  private[graft] def gateStatus(
      priorCpus: Option[Int],
      runCpus: Option[Int],
      contended: Boolean): (Boolean, String) =
    if (contended) (false, "voided: contended (calibration drift > 1.5x)")
    else (priorCpus, runCpus) match {
      case (Some(p), Some(c)) if p != c =>
        (false, s"voided: cpus mismatch (baseline $p cores, run $c)")
      case _ => (true, "active")
    }

  /** Extract the body of the FIRST `"key":{...}` / `"key":[...]` group in
    * `txt`, anchored on the MATCHING close bracket (brace-depth scan, not
    * indexOf — nested objects must not truncate the parse). */
  private def jsonGroup(txt: String, key: String, open: Char, close: Char): Option[String] = {
    val tag = "\"" + key + "\":" + open
    val start = txt.indexOf(tag)
    if (start < 0) None
    else {
      var i = start + tag.length
      var depth = 1
      while (i < txt.length && depth > 0) {
        val c = txt.charAt(i)
        if (c == open) depth += 1 else if (c == close) depth -= 1
        i += 1
      }
      if (depth == 0) Some(txt.substring(start + tag.length, i - 1)) else None
    }
  }

  /** Parse a prior bench.json (our own output format). Returns an empty
    * baseline when the file is absent/unreadable, so a first run simply has
    * no regression gate. */
  private[graft] def priorBench(path: java.nio.file.Path): PriorBench =
    try {
      val txt = java.nio.file.Files.readString(path)
      val times = jsonGroup(txt, "queries", '{', '}').map { body =>
        raw""""([A-Za-z0-9_]+)":([0-9][0-9.eE+-]*)""".r
          .findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty[String, Double])
      val failed = jsonGroup(txt, "failed", '[', ']').map { body =>
        raw""""([A-Za-z0-9_]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSet
      }.getOrElse(Set.empty[String])
      val calibMin = jsonGroup(txt, "calibration", '[', ']').flatMap { body =>
        val vs = raw"[0-9][0-9.eE+-]*".r.findAllIn(body).map(_.toDouble).toSeq
        if (vs.isEmpty) None else Some(vs.min)
      }
      val cpus = raw""""cpus":([0-9]+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
      PriorBench(times, failed, calibMin, cpus)
    } catch { case _: Exception => PriorBench(Map.empty, Set.empty, None, None) }

  /** Which file this run's JSON may land in: only a box-certified,
    * core-comparable, ADOPTION-CLEAN (drift < 1.2) run touches the
    * committed baseline; indicted runs quarantine to a side file
    * (contention has priority in the name — a contended mismatched run is
    * primarily a contended run; a 1.2–1.5-drift run gated but was too
    * noisy to become the denominator → bench.noisy.json). */
  private[graft] def outFile(
      contended: Boolean, gateOk: Boolean, adopted: Boolean): String =
    if (contended) "bench.contended.json"
    else if (!gateOk) "bench.mismatch.json"
    else if (!adopted) "bench.noisy.json"
    else "bench.json"

  /** One parsed merge input: a full run JSON (this harness's own output
    * format). `calibMin` is the run's best probe — the box at its best
    * during that run. */
  private[graft] case class MergeInput(
      path: String, times: Map[String, Double], failed: Set[String],
      calibMin: Double, cpus: Option[Int], sf: Option[String])

  private[graft] def readMergeInput(p: java.nio.file.Path): MergeInput = {
    val b = priorBench(p)
    require(b.times.nonEmpty, s"$p: no queries parsed")
    val txt = java.nio.file.Files.readString(p)
    val sf = raw""""sf":"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))
    MergeInput(p.toString, b.times, b.failed,
      b.calibMin.getOrElse(
        throw new IllegalArgumentException(s"$p: no calibration series")),
      b.cpus, sf)
  }

  /** MIN-MERGE BASELINE ADOPTION (round 15, the verdict-sanctioned
    * alternative to a single sub-1.2-drift run): construct the committed
    * baseline as the per-query MIN across >= 2 full sweeps of the SAME
    * build at the same cpus/sf.
    *
    * Why merging individually-noisy runs is sound: every recorded time is
    * already a min-of-repeats, and box noise can only INFLATE a timing,
    * never deflate it — so the min across runs monotonically approaches
    * the quiet-box truth, exactly the within-run repeats argument lifted
    * one level. The calibration anchor follows the same statistic (min
    * probe across all merged runs), so the baseline's per-query numbers
    * and its box-speed anchor describe the same "box at its best" and the
    * cross-round normalized gate stays coherent. A query that failed in a
    * run contributes no time from it (its number there is a
    * time-to-throw); only a query failing in EVERY merged run stays in
    * failed[]. This is strictly tighter than adopting any single noisy
    * run — which is the round-14 ratchet this tool replaces.
    */
  private[graft] def mergeJson(
      runs: Seq[MergeInput], prior: PriorBench, priorPath: String): String = {
    require(runs.size >= 2, "min-merge needs at least 2 runs")
    require(runs.map(_.cpus).distinct.size == 1,
      s"cpus differ across runs: ${runs.map(r => s"${r.path}=${r.cpus}")}")
    require(runs.map(_.sf).distinct.size == 1,
      s"sf differs across runs: ${runs.map(r => s"${r.path}=${r.sf}")}")
    val names = runs.head.times.keySet
    require(runs.forall(_.times.keySet == names),
      "query sets differ across runs - merge runs of the same build only")
    val merged: Seq[(String, Double)] = names.toSeq.sorted.map { n =>
      val ok = runs.filterNot(_.failed.contains(n)).map(_.times(n))
      n -> (if (ok.nonEmpty) ok.min else runs.map(_.times(n)).min)
    }
    val failed = runs.map(_.failed).reduce(_ intersect _)
    val anchor = runs.map(_.calibMin).min
    val anchorDrift = runs.map(_.calibMin).max / anchor
    // cross-round regression diff vs the PRIOR committed baseline, same
    // normalization as the live gate (adjusted = t * priorAnchor / anchor)
    val (gateOk, gateReason) =
      gateStatus(prior.cpus, runs.head.cpus, contended = false)
    val mergedMap = merged.toMap
    val regressions =
      if (!gateOk || prior.times.isEmpty) Seq.empty
      else {
        val priorAnchor = prior.calibMin.getOrElse(anchor)
        merged.flatMap { case (n, t) =>
          prior.times.get(n).collect {
            case p if !prior.failed.contains(n) && !failed.contains(n) &&
              t * priorAnchor / anchor > 2 * p &&
              t * priorAnchor / anchor - p > 1.0 =>
              (n, p, t, t * priorAnchor / anchor)
          }
        }
      }
    val qs = merged.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val calibJson = runs.map(r => f"${r.calibMin}%.4f").mkString("[", ",", "]")
    val regJson = regressions.map { case (n, p, c, a) =>
      f"""{"query":"$n","prior":$p%.4f,"current":$c%.4f,"adjusted":$a%.4f}"""
    }.mkString("[", ",", "]")
    val fromJson = runs.map(r => "\"" + jsonEscape(r.path) + "\"")
      .mkString("[", ",", "]")
    val cpusJson = runs.head.cpus.map(_.toString).getOrElse("null")
    val sfJson = runs.head.sf
      .map(s => "\"" + jsonEscape(s) + "\"").getOrElse("null")
    val regBase =
      if (prior.times.isEmpty) "null" else "\"" + jsonEscape(priorPath) + "\""
    val total = mergedMap.valuesIterator.sum
    s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpusJson,"queries":$qs,"failed":$failedJson,"calibration":$calibJson,"calibration_drift":${f"$anchorDrift%.4f"},"contended":false,"gate":"$gateReason","baseline_adoption":"adopted: min-merge of ${runs.size} runs","merged_from":$fromJson,"retried":[],"regressions":$regJson,"regression_baseline":$regBase,"sf":$sfJson}"""
  }

  private def runMerge(spec: String): Unit = {
    val paths = spec.split(',').map(_.trim).filter(_.nonEmpty)
      .map(java.nio.file.Paths.get(_)).toSeq
    val prevBenchPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH", "bench.json"))
    val prior = priorBench(prevBenchPath)
    val json = mergeJson(paths.map(readMergeInput), prior,
      prevBenchPath.toString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench.json"), json)
    println(json)
  }

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_MERGE=runA.json,runB.json: min-merge adoption mode — no
    // Spark session, no measurement; see mergeJson's policy note.
    sys.env.get("SPARK_GRAFT_MERGE") match {
      case Some(spec) => runMerge(spec); return
      case None =>
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "2").toInt.max(1)
    // PER-QUERY REGRESSION GATE (round 11): the calibration probe certifies
    // the BOX; this certifies the QUERIES. The committed bench.json from
    // the prior round is read BEFORE this run overwrites it, and any query
    // that got >2x slower (with a 1 s absolute floor — sub-second timings
    // drift multiples on scheduler noise alone) lands in `regressions`.
    // The gate only adjudicates on an uncontended run: a contended box
    // inflates everything and the calibration flag already indicts the
    // totals, so flagging queries there would be the round-9 phantom all
    // over again.
    val prevBenchPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH", "bench.json"))
    val prior = priorBench(prevBenchPath)
    // SPARK_GRAFT_ONLY=q122_band_join,q210_lsh_param_audit runs an
    // adjudication subset: same harness, probes, and gate, but only the
    // named queries — the tool for rerunning a flagged regression on an
    // idle box without paying the full 305-query sweep. Subset runs never
    // overwrite bench.json (their total is not a round total).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = SparkSessionFactory.build(master = s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: absorb JVM/codegen startup with the limit(1) action plus
    // two FULL probe-query runs — the alphabetically-first measured
    // queries and calibration checkpoint #1 must already be steady-state
    // (round 10: on an otherwise-idle box, probe #1 read 1.7x its steady
    // value from pure JIT, indistinguishable from early contention in
    // the drift statistic; q01–q03 carried the same cold-start tax)
    run(queries.Relational.q01Pricing(spark, sfDir).limit(1))
    run(queries.Relational.q01Pricing(spark, sfDir))
    run(queries.Relational.q01Pricing(spark, sfDir))

    // calibration probe: a fixed cheap query timed at checkpoints through
    // the run; its drift is the box-contention signal (see header)
    val calib = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(): Unit = {
      var best = Double.MaxValue
      var p = 0
      while (p < 2) {
        val t0 = System.nanoTime()
        run(queries.Relational.q01Pricing(spark, sfDir))
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        p += 1
      }
      calib += best
      System.err.println(f"[bench] calibration#${calib.size}%-14d $best%8.2fs")
    }
    probe()

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    var sinceProbe = 0
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // probeAt(query) = index of the last probe BEFORE the query ran; the
    // gate later pairs it with the NEXT probe and takes the min — the
    // contention-robust local box-speed estimate for that stretch of run
    val probeAt = scala.collection.mutable.Map.empty[String, Int]
    val results = toRun.map { case (name, fn) =>
      // every repeat runs (a flaky first attempt still surfaces); the
      // reported time is the min over SUCCESSFUL repeats only, so a
      // crash's time-to-throw never reads as a fast success. A query with
      // zero successes reports the min time-to-throw and lands in failed[]
      var bestOk = Double.MaxValue
      var bestAny = Double.MaxValue
      var successes = 0
      var r = 0
      // short-query tier: noise dominates, so guarantee >=3 repeats
      var target = repeats
      while (r < target) {
        val t0 = System.nanoTime()
        val ok =
          try { run(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (repeat ${r + 1}): ${e.getMessage}")
            false
          }
        val secs = (System.nanoTime() - t0) / 1e9
        if (secs < bestAny) bestAny = secs
        if (ok) { successes += 1; if (secs < bestOk) bestOk = secs }
        r += 1
        if (r == target && successes > 0 && bestOk < 2.5 && target < 3)
          target = 3
      }
      if (successes == 0) failed += name
      val best = if (successes > 0) bestOk else bestAny
      System.err.println(f"[bench] $name%-24s $best%8.2fs (min of $successes/$target ok)")
      probeAt(name) = calib.size - 1
      sinceProbe += 1
      if (sinceProbe >= 20) { sinceProbe = 0; probe() }
      name -> best
    }
    if (sinceProbe > 0) probe() // close the series at end-of-run
    // failures are carried in the JSON itself
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // repeats_short only appears when the extension tier can actually fire
    // (repeats < 3); with repeats >= 3 no query gets extra runs
    val shortTier = if (repeats < 3) ""","repeats_short":3,"short_cutoff_sec":2.5""" else ""
    val contended = calib.max / calib.min > 1.5
    if (contended)
      System.err.println(f"[bench] WARNING: calibration drift ${calib.max / calib.min}%.2fx > 1.5x" +
        " - box was contended during this run; totals are not comparable")
    // CALIBRATION-NORMALIZED GATE (round 12): round 11's probe series
    // drifted 0.96->1.20 WITHIN an uncontended run, so ~20% of apparent
    // per-query drift was box, not code. Each query's time is corrected to
    // the prior round's box speed before the 2x comparison:
    //   adjusted = secs * priorCalibMin / nearProbe
    // where nearProbe = min(probe before, probe after) for the stretch the
    // query ran in (min = contention-robust, same statistic as the repeats)
    // and priorCalibMin anchors what the box looked like when the prior
    // numbers were taken. On a steady box the factor is ~1 and the gate is
    // unchanged; when the box sags mid-run the sag divides out instead of
    // reading as a code regression. Queries in the prior failed[] list are
    // skipped: their prior "time" is a time-to-throw, not a baseline.
    val priorAnchor = prior.calibMin.getOrElse(calib.min)
    def nearProbe(name: String): Double = {
      val k = probeAt.getOrElse(name, 0)
      math.min(calib(k), calib(math.min(k + 1, calib.size - 1)))
    }
    def flagged(name: String, secs: Double): Option[(String, Double, Double, Double)] = {
      val adj = secs * priorAnchor / nearProbe(name)
      prior.times.get(name).collect {
        case p if !prior.failed.contains(name) &&
          adj > 2 * p && adj - p > 1.0 =>
          (name, p, secs, adj)
      }
    }
    // SECOND-CHANCE RETRY (round 12): round 11's committed bench flagged
    // q122 (0.46->2.67 s) and q210 (3.26->7.22 s); both dissolved on idle
    // rerun AND on a run-order-context rerun — a brief box spike between
    // two clean probes inflated all repeats of one query. The probe cadence
    // (every ~20 queries) cannot catch a sag that short, so the gate now
    // adjudicates its own flags: each provisionally-flagged query is re-run
    // at END of sweep (a different moment in time — a spike persisting
    // across both stretches is real load, not flake) and the min over all
    // attempts is the recorded time. Real regressions (code-caused) survive
    // the retry by construction; one-stretch spikes do not.
    // current core count for the gate (local[*] or other non-numeric
    // masters read as unknown — the gate then proceeds, same as a
    // pre-round-14 baseline with no recorded cpus)
    val cpusNum = scala.util.Try(cpus.toInt).toOption
    val (gateOk0, _) = gateStatus(prior.cpus, cpusNum, contended)
    val provisional = if (!gateOk0) Seq.empty
      else results.flatMap { case (n, s) => flagged(n, s) }
    val retried = scala.collection.mutable.ArrayBuffer.empty[String]
    val finalTimes = scala.collection.mutable.LinkedHashMap(results: _*)
    val fnByName = toRun.toMap
    provisional.foreach { case (name, _, secs, _) =>
      // mirror the main sweep's bestOk discipline: only SUCCESSFUL retry
      // attempts fold into the recorded time — a retry that crashes fast
      // must not clear a flag (or seed a bogus-fast baseline) with its
      // time-to-throw
      var bestOk = Double.MaxValue
      var r = 0
      while (r < 2) {
        val t0 = System.nanoTime()
        val ok =
          try { run(fnByName(name)(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] retry $name FAILED: ${e.getMessage}")
            false
          }
        val secsR = (System.nanoTime() - t0) / 1e9
        if (ok && secsR < bestOk) bestOk = secsR
        r += 1
      }
      if (bestOk < secs) {
        finalTimes(name) = bestOk
        // the adopted time was measured in the retry stretch (between the
        // close-of-sweep probe and the post-retry probe appended below) —
        // re-anchor ONLY in that case. A non-adopted retry keeps the
        // original stretch's anchor: re-anchoring a kept mid-sweep time to
        // a possibly-contended retry probe would shrink `adjusted` and
        // clear the flag without an actually-faster rerun.
        probeAt(name) = calib.size - 1
      }
      retried += name
      System.err.println(
        f"[bench] retry $name: $secs%.2fs -> ${finalTimes(name)}%.2fs")
    }
    if (provisional.nonEmpty) probe() // anchor the retry stretch too
    // re-check contention AFTER the post-retry probe: the emitted drift
    // includes that probe, so the guard must too — otherwise the JSON can
    // say contended:false with drift > 1.5 and regressions adjudicated on
    // a box the series itself indicts
    val contendedFinal = calib.max / calib.min > 1.5
    val (gateOk, gateReason) = gateStatus(prior.cpus, cpusNum, contendedFinal)
    if (!gateOk)
      System.err.println(s"[bench] regression gate $gateReason")
    val regressions =
      if (!gateOk) Seq.empty
      else provisional.flatMap { case (name, _, _, _) =>
        flagged(name, finalTimes(name))
      }
    regressions.foreach { case (n, p, c, a) =>
      System.err.println(f"[bench] REGRESSION $n: $p%.2fs -> $c%.2fs (adj $a%.2fs)")
    }
    val regJson = regressions.map { case (n, p, c, a) =>
      f"""{"query":"$n","prior":$p%.4f,"current":$c%.4f,"adjusted":$a%.4f}"""
    }.mkString("[", ",", "]")
    val regBase =
      if (prior.times.isEmpty) "null" else "\"" + prevBenchPath.toString + "\""
    val retriedJson = retried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = finalTimes.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = finalTimes.valuesIterator.sum
    val drift = calib.max / calib.min
    val calibJson = calib.map(v => f"$v%.4f").mkString("[", ",", "]")
    val cpusJson = cpusNum.map(_.toString).getOrElse("\"" + jsonEscape(cpus) + "\"")
    val (adopted, adoptReason) = adoptionStatus(drift, gateOk, gateReason)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpusJson,"queries":$qs,"failed":$failedJson,"repeats":$repeats$shortTier,"calibration":$calibJson,"calibration_drift":${f"$drift%.4f"},"contended":$contendedFinal,"gate":"$gateReason","baseline_adoption":"$adoptReason","retried":$retriedJson,"regressions":$regJson,"regression_baseline":$regBase,"sf":"$sfDir"}"""
    // stop Spark BEFORE printing the contract line: shutdown logging must
    // not land after (or interleave with) the JSON, which consumers parse
    // from the tail of stdout. A file copy is kept as a robust fallback.
    spark.stop()
    // A CONTENDED run never overwrites the committed clean baseline — the
    // round-13 close committed a drift-3.57 attempt over the 294 s clean
    // baseline exactly this way, poisoning the next round's regression
    // priors. The same quarantine applies to a CORE-COUNT-MISMATCHED run
    // (round-14 review): an uncontended 8-core sweep would otherwise
    // overwrite the 32-core baseline with legitimately 2–4×-slower
    // numbers — the identical poisoning via a different door. And a run
    // with drift in [1.2, 1.5) gates but must not become the next round's
    // denominator (round 15 — the drift-1.4994 ratchet); it lands in
    // bench.noisy.json. Indicted runs are preserved at
    // bench.{contended,mismatch,noisy}.json for the record; bench.json
    // only ever carries box-certified, core-comparable, adoption-clean
    // numbers.
    if (only.isEmpty) {
      val out = outFile(contendedFinal, gateOk, adopted)
      if (out != "bench.json")
        System.err.println(
          s"[bench] baseline_adoption $adoptReason: writing $out, keeping bench.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    }
    println(json)
    System.out.flush()
  }
}
