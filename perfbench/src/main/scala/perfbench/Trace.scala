package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval. `job` is shared by every span of one benchmark job
  * (one vendor row, one query, one batch); `parent` is 0 at the root. The
  * layer is the name's prefix up to the first dot. */
final case class Span(id: Long, parent: Long, job: Long, name: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Counters of one Spark job, summed from its task-end events. */
final class SparkJobStats(val span: Long, val job: Long, val startMs: Long) {
  @volatile var endMs: Long = startMs
  val c: ConcurrentHashMap[String, AtomicLong] = new ConcurrentHashMap()
  def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
  def get(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)
}

/** Spans around each call into a layer, kept in memory until the run ends.
  * With `enabled` false every wrapper is a plain call, so untraced runs pay
  * nothing. The span in effect is passed to Spark as a thread-local job
  * property, which is how Spark jobs and Catalyst phases, reported on the
  * listener thread, find the span that caused them. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]
  /** Counters the workloads report (cells read, bytes written...). */
  val counts = new ConcurrentHashMap[String, AtomicLong]
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  @volatile private var sc: SparkContext = _
  /** Epoch-ms to System.nanoTime, for times Spark reports in ms. */
  val offsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def attach(spark: SparkSession): Unit = { sc = spark.sparkContext }

  def currentSpan: Long = current.get._1

  /** The root span of one job; `parent` links it under a span of another
    * thread (the orchestrator tick that dispatched it). */
  def job[T](name: String, job: Long, parent: Long = -1L)(body: => T): T =
    run(name, job, if (parent >= 0) parent else current.get._1)(body)

  def span[T](name: String)(body: => T): T = {
    val (p, j) = current.get
    run(name, j, p)(body)
  }

  private def run[T](name: String, job: Long, parent: Long)(body: => T): T =
    if (!enabled) body
    else {
      val saved = current.get
      val id = ids.incrementAndGet()
      val ctx = sc
      val savedProp = if (ctx != null) ctx.getLocalProperty(Tracer.Prop) else null
      current.set((id, job))
      if (ctx != null) ctx.setLocalProperty(Tracer.Prop, s"$id:$job")
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, job, name, t0, System.nanoTime()))
        current.set(saved)
        if (ctx != null) ctx.setLocalProperty(Tracer.Prop, savedProp)
      }
    }

  /** A span known only after the fact (Spark jobs, stages, Catalyst). */
  def record(parent: Long, job: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, job, name, startNs, endNs))

  def count(name: String, v: Long): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new AtomicLong).addAndGet(v)
}

object Tracer {
  val Prop = "perfbench.span"

  /** (span, job) from a Spark job's properties, or (0, 0). */
  def fromProps(p: java.util.Properties): (Long, Long) =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).map { s =>
      val Array(a, b) = s.split(":"); (a.toLong, b.toLong)
    }.getOrElse((0L, 0L))
}

/** A Spark listener feeding the tracer: jobs, stages and tasks from the
  * scheduler, and Catalyst's phase times and final plan from each finished
  * SQL execution. An execution is matched to its span through the first
  * Spark job it ran, which carries the span as a job property. */
final class SparkTrace(tr: Tracer) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, SparkJobStats]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val execSpan = new ConcurrentHashMap[Long, (Long, Long)]
  /** Spans whose query executions are kept for inspection. */
  val wanted: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  /** Per wanted span: the query executions that finished under it. */
  val queryExecs = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[QueryExecution]]
  /** Catalyst counts summed over the finished executions' final plans. */
  val plans = new ConcurrentHashMap[String, AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (span, job) = Tracer.fromProps(e.properties)
    jobs.put(e.jobId, new SparkJobStats(span, job, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan.putIfAbsent(x.toLong, (span, job)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      tr.record(j.span, j.job, "exec.spark_job", ms(j.startMs), ms(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(id => Option(jobs.get(id)))
      .foreach(_.add("stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      j.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        j.add("task_ms", m.executorRunTime)
        j.add("task_cpu_ns", m.executorCpuTime)
        j.add("gc_ms", m.jvmGCTime)
        j.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        j.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        j.add("spill_b", m.diskBytesSpilled)
        j.add("input_b", m.inputMetrics.bytesRead)
        j.add("output_b", m.outputMetrics.bytesWritten)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      for ((span, job) <- Option(execSpan.remove(end.executionId));
           qe <- PerfbenchBridge.queryExecution(end)) finished(span, job, qe)
    case _ =>
  }

  /** Catalyst's phases become child spans of the span that ran the
    * execution, and the final plan's shape is counted. */
  private def finished(span: Long, job: Long, qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, p) =>
      tr.record(span, job, s"catalyst.$phase", ms(p.startTimeMs), ms(p.endTimeMs))
    }
    val nodes = SparkTrace.nodes(qe.executedPlan)
    def bump(k: String, v: Long): Unit =
      plans.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
    bump("plan_nodes", nodes.size)
    bump("exchanges", nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    })
    bump("sorts", nodes.count(_.nodeName == "Sort"))
    if (wanted.contains(span))
      queryExecs.computeIfAbsent(span, _ => new ConcurrentLinkedQueue).add(qe)
  }

  private def ms(t: Long): Long = t * 1000000L + tr.offsetNs
}

object SparkTrace {
  /** Every physical node of a finished plan, looking through adaptive
    * execution to the final stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
