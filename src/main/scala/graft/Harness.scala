package graft

import java.io.PrintStream
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement pieces every main shares: the session, the isolation
  * between runs, the timed run, the median, the query selector, the JSON
  * string escape and the timer. [[Bench]], [[AbBench]], [[PlanDump]],
  * [[Verify]] and [[ScaleSmoke]] hold no copy of their own. */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** Local cores: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The session a timing main measures in, warmed on the flagship query
    * (scan paths, codegen, shuffle machinery) so the first measured query
    * does not absorb one-time JVM and IO costs. Its confs stay out of the
    * [[GraftSession]] defaults, which serve workloads, not measurements. */
  def benchSession(appName: String): SparkSession = {
    val spark = GraftSession.build(cpus, appName, Map(
      // Storage memory stays evictable: a persisted frame can never
      // squeeze execution memory into spill thrash on a memory-pressured
      // host — it degrades to disk reads instead.
      "spark.memory.storageFraction" -> "0.1",
      // Shuffle-file cleanup becomes synchronous on the cleaner thread, so
      // the GC-triggered cleanup of run N's files completes inside the
      // isolation window instead of stealing IO from run N+1's clock.
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true"))
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.entry(spark).count()
    spark
  }

  /** Drop every cached frame the previous run left behind and settle the
    * heap, so one run's persists, garbage and cleanup IO cannot distort
    * the next run. */
  def isolate(spark: SparkSession): Unit = {
    graft.core.Caches.release()
    spark.sharedState.cacheManager.clearCache()
    // clearCache() drops SQL-level cache entries but block eviction is
    // async; unpersist the underlying RDDs BLOCKING so run N's block-
    // manager memory is actually free before run N+1's timer starts.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    // Settle: the GC above queues shuffle/broadcast cleanup on the
    // ContextCleaner thread; give it a beat to drain so its file
    // deletions don't land inside the next timed run.
    Thread.sleep(200)
  }

  /** Run `body`, print `label: <its result> time=X.X s` to `log` (a Unit
    * result prints no detail) and return the wall seconds it took. */
  def timed(label: String, log: PrintStream = Console.out)(body: => Any): Double = {
    val t0 = System.nanoTime()
    val out = body
    val sec = (System.nanoTime() - t0) / 1e9
    val detail = out match { case () => ""; case x => s"$x " }
    log.println(f"$label: ${detail}time=$sec%.1f s")
    sec
  }

  /** Accumulates executor task metrics between [[reset]] and a
    * [[timedRun]]'s snapshot. */
  final class TaskMetrics extends SparkListener {
    private val gcMs, taskMs, spill, peakExec, shufWrite = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        gcMs.addAndGet(m.jvmGCTime)
        taskMs.addAndGet(m.executorRunTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExec.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit =
      Seq(gcMs, taskMs, spill, peakExec, shufWrite).foreach(_.set(0))
    private[Harness] def snap(driverGcMs: Long, storageUsed: Long): RunEnv =
      RunEnv(gcMs.get, taskMs.get, spill.get, peakExec.get, shufWrite.get,
        driverGcMs, storageUsed)
  }

  object TaskMetrics {
    def on(spark: SparkSession): TaskMetrics = {
      val m = new TaskMetrics
      spark.sparkContext.addSparkListener(m)
      m
    }
  }

  /** One run's environment line (all sizes in bytes, times in ms). */
  final case class RunEnv(gcMs: Long, taskMs: Long, spill: Long,
                          peakExec: Long, shufWrite: Long,
                          driverGcMs: Long, storageUsed: Long) {
    def json: String =
      s"""{"gc_ms":$gcMs,"task_ms":$taskMs,"spill_b":$spill,""" +
        s""""peak_exec_b":$peakExec,"shuf_write_b":$shufWrite,""" +
        s""""driver_gc_ms":$driverGcMs,"storage_b":$storageUsed}"""
  }

  private def driverGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** One isolated, timed run of query `fn` at `dir` — the one place the
    * timed action is defined. A failure goes to `onFailure`, inside the
    * clock; the default rethrows. The environment is snapshotted after the
    * clock stops, past a short sleep that drains in-flight task-end
    * events. */
  def timedRun(spark: SparkSession, metrics: TaskMetrics, name: String,
               fn: Query, dir: String,
               onFailure: Throwable => Unit = e => throw e): (Double, RunEnv) = {
    isolate(spark)
    metrics.reset()
    val dgc0 = driverGcMs()
    val sec = timed(name, System.err) {
      try fn(spark, dir).count() catch { case e: Throwable => onFailure(e) }
    }
    Thread.sleep(150)
    val storageUsed = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
    (sec, metrics.snap(driverGcMs() - dgc0, storageUsed))
  }

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The declared queries named in the comma-separated `names`, in that
    * order; all of them, in declaration order, when it names none. An
    * unknown name fails instead of running nothing. */
  def select(names: String): ListMap[String, Query] = {
    val all = SparkEntry.queries
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val missing = wanted.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    if (wanted.isEmpty) ListMap(all.toSeq: _*)
    else ListMap(wanted.map(n => n -> all(n)): _*)
  }

  /** A JSON string literal: backslash, quote and every control character
    * (< 0x20) escaped — a tab or CR in a label or in hand-written SQL
    * would otherwise make the reader's JSON parse fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
