package perfbench

import java.io.{BufferedWriter, File, FileWriter}

/** Per-layer figures of a traced window, from the tracer's spans and the
  * counts the listeners attributed to them. Times and counts are per
  * operation; ratios are over the whole window. */
object Layers {

  /** Span layer → metric holding its self time. */
  private val SelfTime = Seq(
    "sources" -> "sources.fetch_s",
    "transform" -> "transform.build_s",
    "store" -> "store.upsert_s",
    "store.jdbc" -> "store.jdbc_upsert_s",
    "pipeline" -> "pipeline.build_s",
    "queries.build" -> "queries.build_s",
    "queries.exec" -> "queries.exec_s",
    "op" -> "harness.self_s")

  /** Span layer → metric counting the jobs it started. */
  private val Jobs = Seq(
    "sources" -> "sources.jobs",
    "pipeline" -> "pipeline.build_jobs",
    "queries.build" -> "queries.build_jobs")

  val Units: Map[String, String] = Map(
    "sources.jobs" -> "count", "pipeline.build_jobs" -> "count", "queries.build_jobs" -> "count",
    "store.bytes_written" -> "bytes", "store.write_amp" -> "ratio", "store.space_amp" -> "ratio",
    "pipeline.staged_bytes" -> "bytes",
    "plans.exchanges" -> "count", "plans.bhj" -> "count", "plans.smj" -> "count",
    "plans.window_no_partition" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.cpu_util" -> "ratio",
    "streaming.triggers" -> "count", "streaming.trigger_p50_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "jvm.peak_heap_mb" -> "MiB",
    "trace.unattributed_jobs" -> "count")

  /** Metrics that a workload adds itself, zero where it has no such layer. */
  val WorkloadMetrics: Map[String, Double] = Map(
    "store.bytes_written" -> 0.0, "store.write_amp" -> 0.0, "store.space_amp" -> 0.0,
    "pipeline.staged_bytes" -> 0.0)

  def withUnits(m: Map[String, Double]): Map[String, (Double, String)] =
    m.map { case (k, v) => k -> (v, Units.getOrElse(k, "s")) }

  def compute(t: Tracer, cores: Int): Map[String, Double] = t.synchronized {
    val spans = t.spans.toSeq
    val ops = spans.filter(_.layer == "op")
    val n = math.max(1, ops.size).toDouble
    val children = spans.groupBy(_.parent)
    def self(s: Span) = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    val counts = spans.flatMap(s => t.counts.get(s.id).map(s -> _))
    def total(f: SpanCounts => Long) = counts.map { case (_, c) => f(c) }.sum.toDouble

    val selfTimes = SelfTime.map { case (layer, metric) =>
      metric -> spans.filter(_.layer == layer).map(self).sum / n }
    val jobs = Jobs.map { case (layer, metric) =>
      metric -> counts.filter(_._1.layer == layer).map(_._2.jobs).sum / n }

    val byOp = counts.groupBy(_._1.op)
    val inJob = ops.map { o =>
      val iv = byOp.getOrElse(o.op, Nil).flatMap(_._2.jobIntervals)
      Tracer.unionLength(iv.toSeq, o.startMs, o.endMs) / 1e3
    }
    val opWall = ops.map(_.seconds).sum
    val cpuS = total(_.cpuNs) / 1e9

    val p = t.plans.values.toSeq
    def plan(f: OpPlans => Long) = p.map(f).sum.toDouble / n
    val triggerMs = p.flatMap(_.triggerMs).map(_.toDouble)

    (selfTimes ++ jobs ++ Seq(
      "exec.jobs" -> total(_.jobs) / n,
      "exec.stages" -> total(_.stages) / n,
      "exec.tasks" -> total(_.tasks) / n,
      "exec.in_job_s" -> inJob.sum / n,
      "exec.driver_gap_s" -> (opWall - inJob.sum) / n,
      "exec.cpu_s" -> cpuS / n,
      "exec.gc_s" -> total(_.gcMs) / 1e3 / n,
      "exec.shuffle_write_bytes" -> total(_.shuffleWrite) / n,
      "exec.shuffle_read_bytes" -> total(_.shuffleRead) / n,
      "exec.spill_bytes" -> total(_.spill) / n,
      "exec.cpu_util" -> (if (opWall > 0) cpuS / (opWall * cores) else 0.0),
      "plans.analysis_s" -> plan(_.analysisMs) / 1e3,
      "plans.optimization_s" -> plan(_.optimizationMs) / 1e3,
      "plans.planning_s" -> plan(_.planningMs) / 1e3,
      "plans.exchanges" -> plan(_.exchanges),
      "plans.bhj" -> plan(_.bhj),
      "plans.smj" -> plan(_.smj),
      "plans.window_no_partition" -> plan(_.windowNoPartition),
      "streaming.triggers" -> plan(_.triggers),
      "streaming.trigger_p50_ms" -> Stats.median(triggerMs),
      "streaming.add_batch_ms" -> plan(_.addBatchMs),
      "streaming.query_planning_ms" -> plan(_.queryPlanningMs),
      "streaming.wal_commit_ms" -> plan(_.walCommitMs),
      "trace.unattributed_jobs" -> t.unattributedJobs.count(ms =>
        ops.exists(o => ms >= o.startMs && ms <= o.endMs)) / n)).toMap
  }

  /** One JSON line per span, with the counts charged to it. */
  def writeSpans(t: Tracer, path: String): Unit = t.synchronized {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f))
    try t.spans.foreach { s =>
      val c = t.counts.get(s.id)
      w.write(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds,
        "jobs" -> c.map(_.jobs).getOrElse(0L), "stages" -> c.map(_.stages).getOrElse(0L),
        "tasks" -> c.map(_.tasks).getOrElse(0L),
        "cpu_s" -> c.map(_.cpuNs / 1e9).getOrElse(0.0),
        "gc_s" -> c.map(_.gcMs / 1e3).getOrElse(0.0),
        "shuffle_write_bytes" -> c.map(_.shuffleWrite).getOrElse(0L),
        "shuffle_read_bytes" -> c.map(_.shuffleRead).getOrElse(0L),
        "spill_bytes" -> c.map(_.spill).getOrElse(0L)))
      w.write('\n')
    } finally w.close()
  }
}
