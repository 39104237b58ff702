package perfbench

import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `op` is the id of the operation the call belongs to;
  * an operation's own span has `layer == "op"` and no parent. */
final class Span(val id: Long, val parent: Long, val op: Long,
    val layer: String, val name: String, val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark ran on behalf of one span. */
final class SpanCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Per-operation plan and streaming figures from the query-execution and
  * streaming listeners. */
final class OpPlans {
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var exchanges = 0L
  var bhj = 0L
  var smj = 0L
  var windowNoPartition = 0L
  var triggers = 0L
  val triggerMs = mutable.ArrayBuffer.empty[Long]
  var addBatchMs = 0L
  var queryPlanningMs = 0L
  var walCommitMs = 0L
}

/** Span recorder plus the listeners that attribute Spark's work to spans.
  *
  * While tracing is off every `span` is a plain call and no local property
  * is set; before tracing is first turned on no listener is registered
  * either, so the timings of an untraced run carry no tracing cost. While
  * it is on, each call runs with the Spark local property [[Tracer.Prop]]
  * set to its span id; jobs carry the property, and the listener charges
  * each job, stage and task to the span that caused it. [[endOp]] drains
  * the asynchronous listener bus so an operation's counts are complete
  * before the next operation starts.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  @volatile private var registered = false
  @volatile private var active = false
  @volatile private var currentOp = 0L
  private var nextId = 1L
  private var stack: List[Span] = Nil

  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.HashMap.empty[Long, SpanCounts]
  val plans = mutable.HashMap.empty[Long, OpPlans]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  /** Start times of jobs that carried no span. */
  val unattributedJobs = mutable.ArrayBuffer.empty[Long]

  def isActive: Boolean = active

  /** Turns tracing on or off between operations. The listeners stay
    * registered once added; while tracing is off they record nothing. */
  def setActive(on: Boolean): Unit = {
    if (on && !registered) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      spark.streams.addListener(streamListener)
      registered = true
    }
    org.apache.spark.ListenerBusDrain(sc)
    active = on
  }

  def span[A](layer: String, name: String, op: Long = -1L)(f: => A): A =
    if (!active) f
    else {
      val parent = stack.headOption
      val s = new Span(nextId, parent.map(_.id).getOrElse(0L),
        if (op >= 0) op else parent.map(_.op).getOrElse(0L),
        layer, name, System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      if (layer == "op") currentOp = s.op
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Waits for every listener event of the operation just finished. */
  def endOp(): Unit = if (active) org.apache.spark.ListenerBusDrain(sc)

  private def spanOf(props: Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)

  private def countsFor(id: Long): SpanCounts = counts.getOrElseUpdate(id, new SpanCounts)
  private def plansFor(op: Long): OpPlans = plans.getOrElseUpdate(op, new OpPlans)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties) match {
        case Some(id) =>
          jobSpan(e.jobId) = id
          jobStartMs(e.jobId) = e.time
          e.stageIds.foreach(stageSpan(_) = id)
          countsFor(id).jobs += 1
        case None => if (active) unattributedJobs += e.time
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for (id <- jobSpan.get(e.jobId); t0 <- jobStartMs.get(e.jobId))
        countsFor(id).jobIntervals += ((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(countsFor(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = countsFor(id)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (active) Tracer.this.synchronized {
      val p = plansFor(currentOp)
      val phases = qe.tracker.phases
      def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
      p.analysisMs += ms("analysis")
      p.optimizationMs += ms("optimization")
      p.planningMs += ms("planning")
      walk(qe.executedPlan) {
        case _: ShuffleExchangeLike => p.exchanges += 1
        case _: BroadcastHashJoinExec => p.bhj += 1
        case _: SortMergeJoinExec => p.smj += 1
        case w: WindowExec if w.partitionSpec.isEmpty => p.windowNoPartition += 1
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) Tracer.this.synchronized {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val p = plansFor(currentOp)
        p.triggers += 1
        p.triggerMs += d.getOrElse("triggerExecution", 0L)
        p.addBatchMs += d.getOrElse("addBatch", 0L)
        p.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
        p.walCommitMs += d.getOrElse("walCommit", 0L)
      }
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Visit every node of an executed plan: through adaptive plans to the
    * final plan, into query stages and into subqueries. Reused exchanges
    * are not entered, since they do not run again. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  /** Length of the union of closed intervals, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
