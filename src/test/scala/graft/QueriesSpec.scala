package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class QueriesSpec extends AnyFunSuite with SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Verify records a failing query in verify_failures.json and goes on") {
    val only = Some("^q01_agg_pricing$".r)
    def failures(out: Path): String = Files.readString(out.resolve("verify_failures.json"))
    val bad = Files.createTempDirectory("graft-verify-bad")
    Verify.dump(spark, s"$bad/no_such_sf", bad.toString, only)
    assert(failures(bad).matches(
      """\{"q01_agg_pricing": "[\w.$]+Exception: .+"\}"""), failures(bad))
    // the oracle file is still written for the selected query
    assert(Files.readString(bad.resolve("oracle_sql.json"))
      .startsWith("{\"q01_agg_pricing\": "))
    val good = Files.createTempDirectory("graft-verify-good")
    Verify.dump(spark, sfDir, good.toString, only)
    assert(failures(good) === "{}")
    assert(Files.isDirectory(good.resolve("q01_agg_pricing")))
  }

  test("all registered queries execute and return rows at sf0.001") {
    // DETECTORS whose correct sf0.001 output is empty (nothing to
    // detect at this scale): each one's firing is proven by its own
    // spec on planted/threshold-lowered input (ProfilingSpec q249,
    // TimeSeriesSpec q259); execution is still asserted here.
    val emptyByDesign = Set("q249_salt_plan", "q259_event_doublefire")
    val counts = SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).count()
    }
    val empty = counts.collect {
      case (name, 0L) if !emptyByDesign(name) => name }
    assert(empty.isEmpty, s"queries with 0 rows at sf0.001: $empty")
    // the exemption list must not rot: an exempted query that GROWS
    // rows at this scale should rejoin the strict check
    emptyByDesign.foreach { name =>
      assert(counts(name) === 0L,
        s"$name now returns rows at sf0.001 — drop its exemption") }
  }

  test("approx_percentile is within 2.5% of exact percentiles (in-query bound)") {
    // within_bounds is computed inside the query (|approx−exact| ≤ 2.5%·exact
    // per percentile); the oracle gate expects literal TRUE — assert the
    // same here so a bound break fails fast with the offending group
    val rows = SparkEntry.queries("q69_approx_percentiles")(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bounds"), s"group ${r.getString(0)}")
    }
  }

  test("approx_count_distinct is within 5% of exact (B8, in-query bound)") {
    val rows = SparkEntry.queries("q11_agg_approx_distinct")(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bounds"), s"group ${r.getString(0)}")
    }
  }

  test("q246: RFM segments partition the users and each dimension's " +
    "marginals are equal-depth quartiles (±1)") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q246_rfm_segments")(spark, sfDir)
      .collect()
      .map(r => ((r.getAs[Long]("r_q"), r.getAs[Long]("f_q"),
        r.getAs[Long]("m_q")), r.getAs[Long]("n")))
    val nUsers = Tables.events(spark, sfDir)
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(rows.map(_._2).sum === nUsers)
    Seq[((Long, Long, Long)) => Long](_._1, _._2, _._3).foreach { dim =>
      val marg = rows.groupBy(t => dim(t._1)).view.mapValues(_.map(_._2).sum)
      assert(marg.keys.toSet === Set(0L, 1L, 2L, 3L))
      val depths = marg.values.toSeq
      assert(depths.max - depths.min <= 1, s"quartiles unbalanced: $depths")
    }
  }

  test("q257: the windowed funnel is monotone and never beats the " +
    "unbounded q96 funnel at any stage") {
    def stages(name: String): Map[String, Long] =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    val bounded = stages("q257_windowed_funnel")
    val unbounded = stages("q96_funnel")
    assert(bounded("a_view") === unbounded("a_view"),
      "stage 1 has no window to violate")
    Seq("a_view", "b_click", "c_purchase").sliding(2).foreach {
      case Seq(a, b) => assert(bounded(b) <= bounded(a), s"$b > $a")
      case _ =>
    }
    Seq("b_click", "c_purchase").foreach { s =>
      assert(bounded(s) <= unbounded(s), s"window cannot ADD users at $s") }
  }

  test("q258: transition latencies are positive-or-zero, cells tile the " +
    "per-user consecutive pairs, and one cell recounts exactly") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q258_transition_latency")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_gap_us") >= 0L)
      assert(r.getAs[Long]("min_gap_us") <= r.getAs[Long]("mean_gap_us"))
      assert(r.getAs[Long]("mean_gap_us") <= r.getAs[Long]("max_gap_us"))
    }
    val totalPairs = rows.map(_.getAs[Long]("n")).sum
    val events = Tables.events(spark, sfDir)
      .select(col("user_id")).groupBy("user_id").count().collect()
      .map(_.getLong(1))
    assert(totalPairs === events.map(n => math.max(0L, n - 1)).sum)
  }

  test("q264: nation shares audit exactly — each region's shares sum to " +
    "~10^6 and region subtotals recompose the grand total") {
    val rows = SparkEntry.queries("q264_share_of_parent")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[String]("r_name"), r.getAs[String]("n_name"),
        r.getAs[Long]("cents"), r.getAs[Long]("share_of_region_ppm"),
        r.getAs[Long]("share_of_total_ppm")))
    assert(rows.nonEmpty)
    val total = rows.map(_._3).sum
    rows.groupBy(_._1).foreach { case (region, ns) =>
      val rCents = ns.map(_._3).sum
      // integral division truncates: the sum of shares is within
      // |nations| ppm below 10^6, never above
      val s = ns.map(_._4).sum
      assert(s <= 1000000L && s >= 1000000L - ns.length, s"$region: $s")
      ns.foreach { case (_, n, c, sr, st) =>
        assert(sr === BigInt(c) * 1000000 / rCents, s"$region/$n")
        assert(st === BigInt(c) * 1000000 / total, s"$region/$n")
      }
    }
  }

  test("q296: skyline equals the brute-force dominance frontier") {
    import org.apache.spark.sql.functions._
    val sky = SparkEntry.queries("q296_skyline")(spark, sfDir)
      .select("p_partkey", "price_cents", "size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(12,2)") * 100).cast("long"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominated(x: (Long, Long, Long)) = all.exists { y =>
      y._2 <= x._2 && y._3 >= x._3 && (y._2 < x._2 || y._3 > x._3)
    }
    val brute = all.filterNot(dominated).toSet
    assert(sky === brute)
    assert(sky.nonEmpty)
  }

  test("q298: attribution conserves every purchase's cents exactly and " +
    "splits differ by at most one cent") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q298_attribution")(spark, sfDir).collect()
    val byPurchase = rows.groupBy(_.getAs[Long]("p_event"))
    val cents = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value") >= 0)
      .select(col("event_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byPurchase.keySet === cents.keySet,
      "every eligible purchase must appear exactly once in the report")
    byPurchase.foreach { case (p, touches) =>
      val attributed = touches.map(_.getAs[Long]("attributed_cents"))
      assert(attributed.sum === cents(p),
        s"purchase $p: attributed ${attributed.sum} != value ${cents(p)}")
      if (touches.head.getAs[Long]("n_touches") > 0) {
        assert(attributed.max - attributed.min <= 1,
          s"purchase $p: linear split must differ by at most one cent")
        assert(touches.length === touches.head.getAs[Long]("n_touches"))
      } else {
        assert(touches.length === 1 &&
          touches.head.getAs[Long]("click_event") === 0L)
      }
    }
  }

  test("q317: the bridge balances — volume + price/mix = exact revenue " +
    "delta every month, and one month replays driver-side") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q317_growth_decomposition")(spark, sfDir)
      .collect().sortBy(_.getAs[String]("month"))
    assert(rows.length >= 2)
    // first month has no prior: all delta fields null
    assert(rows.head.isNullAt(rows.head.fieldIndex("d_rev")))
    rows.tail.foreach { r =>
      assert(r.getAs[Long]("vol_effect") + r.getAs[Long]("price_mix_effect")
        === r.getAs[Long]("d_rev"), s"bridge does not balance: $r")
    }
    // replay month #2 from raw lineitem
    val monthly = Tables.lineitem(spark, sfDir)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(sum((col("l_quantity").cast("decimal(12,2)") * 100)
          .cast("long")).as("q"),
        sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long")).as("r"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .sortBy(_._1)
    val (m1, m2) = (monthly(0), monthly(1))
    val vol = (BigInt(m2._2 - m1._2) * m1._3 / m1._2).toLong
    val second = rows(1)
    assert(second.getAs[String]("month") === m2._1)
    assert(second.getAs[Long]("d_rev") === m2._3 - m1._3)
    assert(second.getAs[Long]("vol_effect") === vol)
  }

  test("q318: shift-share effects telescope to the exact cent delta per " +
    "cell, cells recompose the corpus totals, and one cell replays") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q318_shift_share")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("national_effect") + r.getAs[Long]("mix_effect")
        + r.getAs[Long]("competitive_effect") === r.getAs[Long]("d_rev"),
        s"effects do not telescope: $r")
      assert(r.getAs[Long]("d_rev") ===
        r.getAs[Long]("r1") - r.getAs[Long]("r0"))
    }
    // cells recompose period totals; national effects sum to the exact
    // corpus delta up to the per-cell floor remainders (0 ≤ loss < cells)
    val t0 = rows.map(_.getAs[Long]("r0")).sum
    val t1 = rows.map(_.getAs[Long]("r1")).sum
    val natSum = rows.map(_.getAs[Long]("national_effect")).sum
    assert(natSum <= t1 - t0 && natSum > t1 - t0 - rows.length)
    // one cell end-to-end from raw tables
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val Array(y0, y1) = o.agg(min("yr"), max("yr")).collect()
      .flatMap(r => Seq(r.getInt(0), r.getInt(1)))
    val cell = rows.head
    val keys = Tables.customer(spark, sfDir)
      .join(Tables.nation(spark, sfDir),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sfDir),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === cell.getAs[String]("region") &&
        col("c_mktsegment") === cell.getAs[String]("segment"))
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val mine = o.filter(col("yr").isin(y0, y1))
      .collect().filter(r => keys.contains(r.getLong(0)))
    assert(cell.getAs[Long]("r0") ===
      mine.filter(_.getInt(1) == y0).map(_.getLong(2)).sum)
    assert(cell.getAs[Long]("r1") ===
      mine.filter(_.getInt(1) == y1).map(_.getLong(2)).sum)
  }

  test("q343: both attribution models conserve total cents and users, " +
    "and one user's endpoints replay from raw events") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q343_touch_attribution")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts)"), col("event_id"),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    val totalCents = ev.map(_._5).sum
    val nUsers = ev.map(_._1).distinct.length.toLong
    assert(rows.map(_.getAs[Long]("first_touch_cents")).sum === totalCents)
    assert(rows.map(_.getAs[Long]("last_touch_cents")).sum === totalCents)
    assert(rows.map(_.getAs[Long]("n_users_first")).sum === nUsers)
    assert(rows.map(_.getAs[Long]("n_users_last")).sum === nUsers)
    // full driver-side replay of BOTH rollups
    val perUser = ev.groupBy(_._1).values.map { g =>
      (g.minBy(e => (e._2, e._3))._4, g.maxBy(e => (e._2, e._3))._4,
        g.map(_._5).sum)
    }.toSeq
    rows.foreach { r =>
      val t = r.getString(0)
      val f = perUser.filter(_._1 == t)
      val l = perUser.filter(_._2 == t)
      assert(r.getAs[Long]("n_users_first") === f.length.toLong, s"nf $t")
      assert(r.getAs[Long]("first_touch_cents") === f.map(_._3).sum, s"fc $t")
      assert(r.getAs[Long]("n_users_last") === l.length.toLong, s"nl $t")
      assert(r.getAs[Long]("last_touch_cents") === l.map(_._3).sum, s"lc $t")
    }
  }

  test("q349: latency order statistics are consistent and the converted " +
    "counts agree with q257's funnel") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q349_funnel_latency")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ===
      Set("a_view_to_click", "b_click_to_purchase"))
    rows.values.foreach { r =>
      val (mn, md, p90, mx) = (r.getAs[Long]("min_s"),
        r.getAs[Long]("median_s"), r.getAs[Long]("p90_s"),
        r.getAs[Long]("max_s"))
      assert(mn <= md && md <= p90 && p90 <= mx, s"order stats: $r")
      assert(mn >= 0 && mx <= 86400L, s"window bound: $r")
    }
    val funnel = SparkEntry.queries("q257_windowed_funnel")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_users")).toMap
    assert(rows("a_view_to_click").getAs[Long]("n_converted") ===
      funnel("b_click"))
    assert(rows("b_click_to_purchase").getAs[Long]("n_converted") ===
      funnel("c_purchase"))
  }
}
