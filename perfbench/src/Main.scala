package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Committed output digests (`expected.json`). */
final class Expected(path: String) {
  private val known: Map[String, String] =
    new ObjectMapper().readTree(new File(path)).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  def get(what: String): Option[String] = known.get(what)

  def verify(what: String, got: String): Boolean = known.get(what).contains(got)
}

/** The benchmark's JVM side: one workload, one seed, one process.
  *
  * Prints an info line (`PERFBENCH_INFO {...}`) and the result line
  * (`PERFBENCH_RESULT {...}`); `run.py` relays them.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, corpus: String, expected: String, launchMs: Long,
      traceOut: String, prepareOnly: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("corpus"), m("expected"),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m("trace-out"), m.get("prepare-only").contains("1"))
  }

  /** Corpus scale for `query_mix` (lineitem ≈ 60k rows). */
  val CorpusSf = 0.01
  /** Entries of `query_mix`, in pass order: three short reads, the
    * stream-static join (q106), percentile scaffold (q121) and prefix-sum
    * (q369) queries singled out in ROADMAP.md, and the composed curation
    * run. */
  val QueryMixNames: Seq[String] = Seq(
    "q13_cube", "q66_na_handling", "q222_kwic_concordance", "q106_stream_static_join",
    "q121_weighted_median", "q369_encoding_advisor", "q270_curation_run")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = graft.SparkSessionFactory.build(
      appName = "perfbench", master = "local[4]",
      configOptions = Map(
        "spark.driver.host" -> "localhost",
        "spark.driver.bindAddress" -> "127.0.0.1",
        "spark.local.dir" -> s"${a.work}/spark-local",
        "spark.sql.warehouse.dir" -> s"${a.work}/warehouse",
        "spark.hadoop.hadoop.tmp.dir" -> s"${a.work}/hadoop"))
    spark.sparkContext.setLogLevel("ERROR")
    val cores = 4
    val expected = new Expected(a.expected)
    val tracer = new Tracer(spark)
    val wl: Workload = a.workload match {
      case "etl_upsert" => new EtlUpsert(spark, a.work, a.seed, tracer, expected,
        baseRows = 60000, batchRows = 1200, traced = a.trace)
      case "query_mix" => new QueryMix(spark, a.work, a.seed, tracer, expected,
        CorpusSf, a.corpus, QueryMixNames)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (a.prepareOnly) {
      wl.prepare()
      spark.stop()
      return
    }

    var attempted = 0
    var failed = 0
    def attempt(what: String)(f: => Unit): Boolean = {
      attempted += 1
      try { f; true }
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $what failed: $e")
          e.printStackTrace()
          false
      }
    }

    // set-up: session, input generation, warm-up and output check
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val (_, genS) = Stats.time(wl.prepare())
    val (_, warmUpS) = Stats.time(attempt("warm-up")(wl.warmUp()))
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1e3

    // Timed passes: a fixed number for each workload, so that a faster
    // program changes the times and not the work they cover. `seconds` only
    // caps the run: no pass starts after it, except the first of each kind.
    // With tracing, one untraced pass runs first and is not counted (the
    // first pass is the coldest); then untraced and traced passes alternate,
    // the same number of each, so both kinds see the same JIT and host state.
    val passes = Workload.passesRun(wl.timedPasses, a.trace)
    val untraced = new WindowBuilder
    val traced = new WindowBuilder
    val untracedOps = mutable.ArrayBuffer.empty[(String, Double)]
    var passCounter = 0
    var opCounter = 1L
    var deadline = Long.MaxValue
    var more = true
    heapPools.foreach(_.resetPeakUsage())
    while (more && passCounter < passes && (untraced.passes.isEmpty ||
        (a.trace && traced.passes.isEmpty) || System.nanoTime() < deadline)) {
      val discard = a.trace && passCounter == 0
      val tracing = a.trace && passCounter % 2 == 1
      if (passCounter == (if (a.trace) 1 else 0))
        deadline = System.nanoTime() + ((if (a.trace) 2 else 1) * a.seconds * 1e9).toLong
      if (a.trace) tracer.setActive(tracing)
      val ops = wl.pass(passCounter)
      passCounter += 1
      if (ops.isEmpty) more = false
      else {
        val w = if (discard) new WindowBuilder else if (tracing) traced else untraced
        val cpu0 = Stats.processCpuS()
        val p0 = System.nanoTime()
        ops.foreach { op =>
          val o0 = System.nanoTime()
          attempt(op.name)(tracer.span("op", op.name, opCounter)(op.run()))
          opCounter += 1
          tracer.endOp()
          val dt = (System.nanoTime() - o0) / 1e9
          w.latencies += dt
          if (w eq untraced) untracedOps += op.name -> dt
        }
        w.passes += (System.nanoTime() - p0) / 1e9
        w.cpuS += Stats.processCpuS() - cpu0
      }
    }
    if (a.trace) tracer.setActive(false)
    attempt("output check")(wl.finish())
    failed += wl.mismatches
    attempted += wl.checked

    val (tailQ, tailName) = wl.tail
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.median(untraced.latencies.toSeq),
      "op_tail_s" -> Stats.quantile(untraced.latencies.toSeq, tailQ),
      "pass_s" -> Stats.median(untraced.passes.toSeq))
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "ops_timed" -> untraced.latencies.size, "passes_timed" -> untraced.passes.size,
      "capped_by_seconds" -> (passCounter < passes), "tail_percentile" -> tailName,
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "setup_session_s" -> sessionS, "setup_generate_s" -> genS,
      "setup_warm_up_s" -> warmUpS,
      "process_cpu_util" -> untraced.cpuS / (untraced.passes.sum * cores))
    info ++= wl.named(untracedOps.toSeq)
    info ++= wl.info
    info("op_median_s") =
      untracedOps.toSeq.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) e2e.map { case (k, v) => k -> (v, "s") }
      else {
        val layers = Layers.compute(tracer, cores) ++ Layers.WorkloadMetrics ++ wl.layerExtras
        val overhead = Stats.median(traced.passes.toSeq) - Stats.median(untraced.passes.toSeq)
        info("trace_file") = a.traceOut
        info("traced_pass_s") = Stats.median(traced.passes.toSeq)
        Layers.writeSpans(tracer, a.traceOut)
        Layers.withUnits(layers ++ Map(
          "trace.overhead_s" -> overhead,
          "jvm.peak_heap_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0))
    }
    spark.stop()
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u)
      }.toMap)
    println("PERFBENCH_INFO " + Json.obj(info.toSeq: _*))
    println("PERFBENCH_RESULT " + result)
  }

  final class WindowBuilder {
    val latencies = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    var cpuS = 0.0
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
}

object Stats {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** CPU seconds used by this process (user + system, /proc/self/stat). */
  def processCpuS(): Double = {
    val f = Paths.get("/proc/self/stat")
    if (!Files.exists(f)) 0.0
    else {
      val s = new String(Files.readAllBytes(f), StandardCharsets.US_ASCII)
      val fields = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (fields(11).toLong + fields(12).toLong) / 100.0
    }
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
