package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}

import graft.{GraftSession, HostCanary}
import graft.ops.Dedup

/** One job's outcome. `kind` is `vendor` (a vendor row), `query` or
  * `batch` (an index batch). */
final case class JobRecord(name: String, kind: String, latencyNs: Long, ok: Boolean,
                           error: String = "", leakedRdds: Int = 0)

/** One pass over a workload's job list. `writtenB` and `inputB` are the
  * bytes of write amplification: what the pass's sinks or index stores
  * wrote, and the input bytes that produced it. */
final case class PassResult(wallNs: Long, jobs: Seq[JobRecord],
                            writtenB: Long, inputB: Long, ticks: Int = 0)

/** What every workload provides to the run loop. */
trait Workload {
  /** Build the state the measured passes start from and do the workload's
    * first-use work. `k` numbers the repetition; each starts from fresh
    * inputs or state, so first-use work is paid every time. */
  def setup(ctx: Ctx, k: Int): Unit
  /** Runs before the measured passes and returns facts for the output
    * checker. A workload whose set-up does not warm every path runs one
    * untimed pass here and has its outputs checked. */
  def check(ctx: Ctx): Map[String, Any]
  /** One measured pass. */
  def pass(ctx: Ctx): PassResult
}

/** The session, tracer and identifiers shared by a run. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val trace: Option[SparkTrace]) {
  private val jobIds = new AtomicLong(0)
  def nextJob(): Long = jobIds.incrementAndGet()

  /** Between jobs: make the library's own cache release call, count the
    * persisted RDDs the job still left behind, then drop cached plans and
    * blocks, waiting for each, as the engine's own bench does. */
  def isolate(): Int = tr.span("cache.isolate") {
    Dedup.releaseCaches()
    val leaked = spark.sparkContext.getPersistentRDDs.size
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    leaked
  }

  /** Storage memory in use across the block managers, sampled in traced runs. */
  val storagePeak = new AtomicLong(0)
  def sampleStorage(): Unit = if (tr.enabled) {
    val used = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    storagePeak.accumulateAndGet(used, math.max)
  }

  /** Wait for the listener bus, so every span of finished work is recorded. */
  def drain(): Unit = if (tr.enabled) PerfbenchBridge.drainListeners(spark.sparkContext)
}

/** Runs one workload: repeated set-up, the check step, then measured
  * passes for the requested seconds; writes the result (and, traced, the
  * spans) as JSON.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds N --trace 0|1
  *             --setups K --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val setups = opt.getOrElse("setups", "3").toInt
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    Files.createDirectories(Paths.get(work))

    val canaryBefore = HostCanary.measure(cores)
    val wl: Workload = name match {
      case "vendor_tick" => new VendorTick(inputs, work)
      case "query_mix" => new QueryMix(inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tr = new Tracer(traced)

    var spark: SparkSession = null
    val setupNs = (1 to setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val built = System.nanoTime() - t0
      wl.setup(new Ctx(spark, new Tracer(false), None), k)
      val ns = System.nanoTime() - t0
      log(f"setup $k: ${ns / 1e9}%.2f s (session ${built / 1e9}%.2f s)")
      ns
    }

    tr.attach(spark)
    val sparkTrace = if (traced) {
      val st = new SparkTrace(tr)
      spark.sparkContext.addSparkListener(st)
      Some(st)
    } else None
    val ctx = new Ctx(spark, tr, sparkTrace)
    val t1 = System.nanoTime()
    val checks = wl.check(ctx)
    ctx.drain()
    log(f"check: ${(System.nanoTime() - t1) / 1e9}%.2f s")
    // Only the measured passes feed the metrics.
    tr.spans.clear(); tr.counts.clear()
    sparkTrace.foreach { st => st.jobs.clear(); st.plans.clear(); st.queryExecs.clear() }
    ctx.storagePeak.set(0)

    val passes = ArrayBuffer.empty[PassResult]
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      passes += wl.pass(ctx)
      log(f"pass ${passes.size}: ${passes.last.wallNs / 1e9}%.2f s")
    }
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val canaryAfter = HostCanary.measure(cores)

    val jobs = passes.flatMap(_.jobs)
    val written = passes.map(_.writtenB).sum
    val input = passes.map(_.inputB).sum
    val layers = if (traced) Layers.metrics(tr, sparkTrace.get, jobs.size,
      passes.map(_.ticks).sum, cores, ctx.storagePeak.get, passes.toSeq) else Map.empty
    val result = Map(
      "workload" -> name,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "setup_ns" -> setupNs,
      "pass_ns" -> passes.map(_.wallNs),
      "jobs" -> jobs.map(j => Map("name" -> j.name, "kind" -> j.kind, "ns" -> j.latencyNs,
        "ok" -> j.ok, "error" -> j.error, "leaked_rdds" -> j.leakedRdds)),
      "written_b" -> written,
      "input_b" -> input,
      "vm_hwm_kb" -> vmHwmKb,
      "host_canary" -> Map(
        "before_ms" -> Seq(canaryBefore._1, canaryBefore._2),
        "after_ms" -> Seq(canaryAfter._1, canaryAfter._2)),
      "checks" -> checks,
      "layers" -> layers)
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    json.writeValue(new java.io.File(opt("out")), result)
    if (traced)
      json.writeValue(Paths.get(work, "spans.json").toFile,
        tr.spans.asScala.toSeq.sortBy(_.startNs).map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "job" -> s.job, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    spark.stop()
  }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** The engine's standard session, with scratch space kept in the run's
    * work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.build(cores, "perfbench", Map(
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process, from the kernel's accounting. */
  def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  // ── small file helpers shared by the workloads ──

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally all.close()
    }

  def treeBytes(p: Path): Long = {
    val all = Files.walk(p)
    try all.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    finally all.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.forEach { x =>
      val dst = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dst) else Files.copy(x, dst)
    } finally all.close()
  }
}
